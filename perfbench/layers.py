"""Per-layer metrics of a traced run, from its spans and the Spark UI.

Every figure is per warm pass: computed for each traced warm pass, then
the median over those passes. A layer the workload does not use reads 0.
Phases (job groups ``workload:op:phase``): ``build`` is the ``fn(spark,
sf)`` call with its nested ``read`` (readers) and ``action`` (eager
DataFrame actions) phases; ``exec`` is the noop sink of a query or drain;
the candy pipeline executes in its ``sink`` and ``forecast`` phases.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from tracing import fetch_ui, metric_value

BUILD_PHASES = {"build", "read", "action"}
EXEC_PHASES = {"exec", "sink", "forecast"}
MB = 2**20

UNITS = {
    "readers.calls": "count", "readers.s": "s", "readers.jobs": "count",
    "build.s": "s", "build.jobs": "count", "build.share": "1",
    "operators.checkpoints": "count", "operators.actions": "count",
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.cpu_s": "s", "exec.gc_s": "s",
    "candy.load_s": "s", "candy.prepare_s": "s", "candy.allocate_s": "s",
    "candy.finalize_s": "s", "candy.allocator_passes": "count",
    "candy.input_read_ratio": "1",
    "mapinpandas.run_s": "s", "mapinpandas.start_s": "s", "mapinpandas.sent_mb": "MB",
    "mapinpandas.returned_mb": "MB",
    "sinks.s": "s", "sinks.jobs": "count", "sinks.bytes_written": "B",
    "forecast.s": "s", "forecast.jobs": "count",
    "drain.s": "s", "drain.jobs": "count", "drain.tmp_dirs_leaked": "count",
    "drain.tables_leaked": "count",
}

#: MapInPandas node metrics (Python worker side), by name fragment
_MIP = {
    "mapinpandas.run_s": ("time to run python workers",),
    "mapinpandas.start_s": ("time to start python workers",),
    "mapinpandas.sent_mb": ("data sent to python",),
    "mapinpandas.returned_mb": ("data returned from python",),
}


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def per_layer(workload, spec, harness, tracer, sc, traced, untraced) -> dict:
    passes = [p for p, _ in traced]
    ui = fetch_ui(sc)
    stages = {}
    for st in ui["stages"]:
        stages[st["stageId"]] = st  # one completed attempt per stage id
    jobs_by_pass = defaultdict(list)  # pass -> [(phase, job)]
    job_pass = {}
    for job in ui["jobs"]:
        group, desc = job.get("jobGroup") or "", job.get("description") or ""
        if not group.startswith(f"{workload}:") or not desc.startswith("pass "):
            continue
        p = int(desc.split()[1])
        jobs_by_pass[p].append((group.rsplit(":", 1)[1], job))
        job_pass[job["jobId"]] = p
    sql_by_pass = defaultdict(list)
    for ex in ui["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        ps = {job_pass[j] for j in ids if j in job_pass}
        if len(ps) == 1:
            sql_by_pass[ps.pop()].append(ex)
    json_bytes = 0
    if spec.kind == "candy":
        data = harness.inputs["data"]
        json_bytes = sum(
            os.path.getsize(os.path.join(data, f))
            for f in os.listdir(data) if f.endswith(".json")
        )

    rows = []
    for p in passes:
        spans = [s for s in tracer.spans if s["pass"] == p and "end" in s]
        named = lambda prefix: [s for s in spans if s["name"].startswith(prefix)]  # noqa: E731
        phase_jobs = lambda phases: [j for ph, j in jobs_by_pass[p] if ph in phases]  # noqa: E731
        exec_stages = [
            stages[i] for j in phase_jobs(EXEC_PHASES) for i in j["stageIds"] if i in stages
        ]
        r = {
            "readers.calls": len(named("readers.")),
            "readers.s": _dur(named("readers.")),
            "readers.jobs": len(phase_jobs({"read"})),
            "build.jobs": len(phase_jobs(BUILD_PHASES)),
            "operators.checkpoints": sum(s.get("kind") == "checkpoint" for s in spans),
            "operators.actions": sum(s.get("kind") == "action" for s in spans),
            "plan.s": _dur([s for s in spans if s["name"] == "plan"]),
            "exec.jobs": len(phase_jobs(EXEC_PHASES)),
            "exec.stages": len(exec_stages),
            "exec.tasks": sum(st["numCompleteTasks"] for st in exec_stages),
            "exec.input_mb": sum(st["inputBytes"] for st in exec_stages) / MB,
            "exec.shuffle_read_mb": sum(st["shuffleReadBytes"] for st in exec_stages) / MB,
            "exec.shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in exec_stages) / MB,
            "exec.spill_mb": sum(
                st["diskBytesSpilled"] + st["memoryBytesSpilled"] for st in exec_stages
            ) / MB,
            "exec.cpu_s": sum(st["executorCpuTime"] for st in exec_stages) / 1e9,
            "exec.gc_s": sum(st["jvmGcTime"] for st in exec_stages) / 1e3,
            "sinks.s": _dur(named("sinks.")),
            "sinks.jobs": len(phase_jobs({"sink"})),
            "sinks.bytes_written": sum(s.get("bytes", 0) for s in named("sinks.")),
            "forecast.s": _dur(named("forecast")),
            "forecast.jobs": len(phase_jobs({"forecast"})),
        }
        for stage in ("load", "prepare", "allocate", "finalize"):
            r[f"candy.{stage}_s"] = _dur(named(f"candy.{stage}"))
        if spec.kind == "candy":
            r["build.s"] = sum(r[f"candy.{s}_s"] for s in ("load", "prepare", "allocate", "finalize"))
            r["exec.s"] = r["sinks.s"] + r["forecast.s"]
        else:
            r["build.s"] = _dur([s for s in spans if s["name"] == "build"])
            r["exec.s"] = _dur([s for s in spans if s["name"] == "exec"])
        r["build.share"] = r["build.s"] / ((r["build.s"] + r["exec.s"]) or 1.0)
        r.update(_sql_metrics(sql_by_pass[p], json_bytes))
        leaks = [lk for lk in harness.leaks if lk["pass"] == p]
        drain = spec.kind == "drain"
        r["drain.s"] = r["build.s"] if drain else 0.0
        r["drain.jobs"] = r["build.jobs"] if drain else 0
        r["drain.tmp_dirs_leaked"] = sum(lk["dirs"] for lk in leaks)
        r["drain.tables_leaked"] = sum(lk["tables"] for lk in leaks)
        rows.append(r)

    out = {k: (statistics.median(r[k] for r in rows), UNITS[k]) for k in UNITS}
    session = [s for s in tracer.spans if s["pass"] is None and "end" in s]
    ship = _dur([s for s in session if s["name"] == "session.ship"])
    out["session.start_s"] = (_dur([s for s in session if s["name"] == "session.start"]) - ship, "s")
    out["session.ship_s"] = (ship, "s")
    # the first warm pass is still warming up; compare with later ones
    later = [t for p, t in untraced if p > passes[0]] or [t for _, t in untraced]
    out["trace.overhead_ratio"] = (
        statistics.median(t for _, t in traced) / statistics.median(later), "1")
    return out


def _sql_metrics(executions, json_bytes: int) -> dict:
    """MapInPandas executions and Python-worker metrics, JSON bytes read."""
    r = {k: 0.0 for k in _MIP}
    r["candy.allocator_passes"] = 0
    read = 0.0
    for ex in executions:
        ran = False
        for node in ex.get("nodes", []):
            metrics = {m["name"].lower(): m["value"] for m in node.get("metrics", [])}
            name = node.get("nodeName", "")
            if name == "MapInPandas":
                if metric_value(metrics.get("number of output rows", "0")) > 0:
                    ran = True
                for key, frags in _MIP.items():
                    for mname, text in metrics.items():
                        if any(f in mname for f in frags):
                            v = metric_value(text)
                            r[key] += v / MB if key.endswith("_mb") else v
                            break
            elif name.startswith("Scan json"):
                read += metric_value(metrics.get("size of files read", "0"))
        r["candy.allocator_passes"] += ran
    r["candy.input_read_ratio"] = read / json_bytes if json_bytes else 0.0
    return r
