"""A process that ships the package and runs partitioned_scan_pruning must
leave none of its temp files behind once it exits: the shipped package
zip and the partitioned re-land both live until interpreter exit (an
executor or the lazily scanned frame may read them until then), and no
longer."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys

from tests.conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parent.parent

CHILD = f"""
import glob, os, tempfile
from candyspark.plans import collect_registry
from candyspark.session import get_spark

spark = get_spark(app_name="temp-cleanup")
collect_registry()["partitioned_scan_pruning"].fn(spark, {SF_SMOKE!r}).collect()
pattern = os.path.join(tempfile.gettempdir(), "candyspark_*")
print(sorted(os.path.basename(p) for p in glob.glob(pattern)))
"""


def test_exiting_process_leaves_no_temp_files(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="2")
    run = subprocess.run(
        [sys.executable, "-c", CHILD],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    seen = ast.literal_eval(run.stdout.strip().splitlines()[-1])
    # both kinds existed while the child ran ...
    assert any(n.startswith("candyspark_pkg_") for n in seen), seen
    assert any(n.startswith("candyspark_part_orders_") for n in seen), seen
    # ... and none survived its exit
    assert not sorted(p.name for p in tmp_path.glob("candyspark_*"))
