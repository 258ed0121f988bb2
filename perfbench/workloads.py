"""The benchmark's workloads: which operations one pass runs, on what data."""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass(frozen=True)
class Workload:
    """``kind`` is ``candy`` (the full pipeline), ``query`` (a registry
    query into the noop sink) or ``drain`` (an availableNow streaming
    drain). Query and drain workloads read ``tables`` from
    ``data/sf<sf>/``: copies of the repository's read-only test fixtures
    (seed 42, TESTDATA.md) at scale factor ``sf``."""

    kind: str
    ops: tuple[str, ...]
    sf: float | None = None
    tables: tuple[str, ...] = ()

    @property
    def sf_tag(self) -> str:
        return f"sf{self.sf:g}"

    @property
    def data_dir(self) -> str:
        return os.path.join(DATA, self.sf_tag)


WORKLOADS = {
    "candy_etl": Workload("candy", ("candy_pipeline",)),
    "iterative_sf001": Workload("query", ("dedup_clusters",), 0.01, ("documents",)),
    "streaming_drains": Workload("drain", ("streaming_tumbling",), 0.1, ("events",)),
}
