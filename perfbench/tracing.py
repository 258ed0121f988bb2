"""Layer attribution for the traced run (``--trace 1``).

``Tracer.install`` wraps the engine's public entry points so each call
becomes a span (name, start, end, parent, op id, pass) and each phase's
Spark jobs carry the job group ``workload:op:phase``:

- ``candyspark.session.ship_package`` (session set-up split);
- the readers ``load_table``/``load_csv``/``load_json_array_files``, wrapped
  before ``candyspark.plans`` is imported so the plans bind the wrappers;
- the candy pipeline stages and ``save_single_csv`` on the ``pipeline`` and
  ``sources.sinks`` modules, and ``forecast_sales_and_profits``;
- ``DataFrame.localCheckpoint/checkpoint/count/collect/toPandas`` while a
  query is being built (the eager operator actions).

Spans stay in memory and are written when the run ends. Spark-side counts
come from the UI REST ``/jobs``, ``/stages`` and ``/sql`` endpoints, joined
on the job groups. Wrappers are installed only in a traced run; with
tracing disabled they pass straight through.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager

READERS = ("load_table", "load_csv", "load_json_array_files")
CANDY_STAGES = {
    "load_inputs": "load",
    "prepare_line_items": "prepare",
    "allocate_inventory": "allocate",
    "build_final_outputs": "finalize",
}
CHECKPOINTS = ("localCheckpoint", "checkpoint")
ACTIONS = ("count", "collect", "toPandas")


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.enabled = False
        self.sc = None
        self.op = None
        self.pass_no = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, phase: str | None = None, **extra):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "phase": phase,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "pass": self.pass_no,
            "start": time.perf_counter(),
            **extra,
        }
        self.spans.append(s)
        self._stack.append(s)
        prev = None
        if phase and self.sc is not None:
            prev = self._group()
            self._set_group(f"{self.workload}:{self.op}:{phase}")
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if phase and self.sc is not None:
                self._set_group(prev)

    def _group(self):
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def _set_group(self, group):
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty(
            "spark.job.description", None if group is None else f"pass {self.pass_no}"
        )

    def in_phase(self, phase: str) -> bool:
        return any(s["phase"] == phase for s in self._stack)

    # -- wrappers ------------------------------------------------------------
    def wrap(self, module, attr: str, name: str, phase: str | None = None, on_result=None):
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, phase) as s:
                out = orig(*args, **kwargs)
                if s is not None and on_result is not None:
                    on_result(s, out)
                return out

        setattr(module, attr, wrapper)
        return wrapper

    def install(self) -> None:
        """Wrap the engine's entry points. Call before anything imports
        ``candyspark.plans`` or ``candyspark.pipeline``."""
        import candyspark.session as session
        import candyspark.sources.readers as readers
        import candyspark.sources.sinks as sinks

        self.wrap(session, "ship_package", "session.ship")
        for attr in READERS:
            self.wrap(readers, attr, f"readers.{attr}", "read")

        import candyspark.forecast as forecast
        import candyspark.pipeline as pipeline

        for attr, stage in CANDY_STAGES.items():
            self.wrap(pipeline, attr, f"candy.{stage}")
        size = lambda s, path: s.update(bytes=os.path.getsize(path))  # noqa: E731
        sink = self.wrap(sinks, "save_single_csv", "sinks.save_single_csv", "sink", size)
        pipeline.save_single_csv = sink
        self.wrap(forecast, "forecast_sales_and_profits", "forecast", "forecast")

        from pyspark.sql.classic.dataframe import DataFrame

        for attr in CHECKPOINTS + ACTIONS:
            self._wrap_action(DataFrame, attr)

    def _wrap_action(self, cls, attr: str) -> None:
        orig = getattr(cls, attr)
        kind = "checkpoint" if attr in CHECKPOINTS else "action"

        @functools.wraps(orig)
        def wrapper(df, *args, **kwargs):
            if not self.in_phase("build") or self.in_phase("action"):
                return orig(df, *args, **kwargs)
            with self.span(f"operators.{attr}", "action", kind=kind):
                return orig(df, *args, **kwargs)

        setattr(cls, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans}, f)


# -- Spark UI REST ---------------------------------------------------------------
def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def fetch_ui(sc) -> dict:
    """Jobs, completed stages and SQL executions of this application."""
    port = re.search(r":(\d+)$", sc.uiWebUrl).group(1)
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    return {
        "jobs": _get(base, "/jobs"),
        "stages": _get(base, "/stages?status=complete"),
        "sql": _get(base, "/sql?details=true&planDescription=false&offset=0&length=100000"),
    }


_NUM = re.compile(r"-?[\d,]*\.?\d+")
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_value(text: str) -> float:
    """A SQL metric's total: ``"1,234"``, ``"12.3 s"`` or the first figure
    of ``"total (min, med, max ...)\\n12.3 s (...)"``."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    value = float(m.group().replace(",", ""))
    unit = line[m.end():].split()[:1]
    return value * _UNITS.get(unit[0], 1.0) if unit else value
