#!/usr/bin/env python3
"""The engine benchmark: one closed-loop client driving candyspark.

    python3 perfbench/run.py --workload candy_etl --seed 1 --seconds 7 --trace 0

One process, one client, operations one after another on ``local[nproc]``.
A run starts the session (``setup_s``), makes one cold pass over the
workload's operations, then warm passes until ``--seconds`` of warm time
is spent (``warm_pass_s``: median pass; ``op_p50_s``: median operation).
The cold pass's time (``cold_pass_s``) is a per-layer metric of the traced
run, not an end-to-end one: it does not repeat within a tenth from run to
run on every workload. Every output is checked: the candy
pipeline's five CSVs against the pure-Python reference in ``candyref.py``,
query and drain results against the DuckDB oracle cache (``oracle.py``).

With ``--trace 1`` the run wraps the engine's layers (``tracing.py``),
alternates untraced and traced warm passes, and reports the per-layer
metrics named in ``BENCHMARK.json`` instead of the end-to-end ones.

Inputs, scratch files, the per-run artifact (header plus result) and the
trace live under ``.bench_build/perfbench`` in the checkout. The last line
of standard output is the JSON result; the line before it is the header.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
from contextlib import nullcontext  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TMP = os.path.join(WORK, "tmp")

sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def _isolate() -> None:
    """Keep every file Spark, the JVM and the engine write inside WORK."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    java = f"-Djava.io.tmpdir={TMP} -Dderby.system.home={WORK} -XX:-UsePerfData"
    # also the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java}'"
        f" --conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"
        " --conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000"
        " --conf spark.sql.ui.retainedExecutions=100000 pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None
    os.chdir(WORK)


def _prepare_inputs(spec, seed: int) -> dict:
    """Generate the candy inputs, or check the fixed tables; return the
    inputs and their expected results."""
    if spec.kind == "candy":
        import candygen
        import candyref

        data = os.path.join(WORK, "candy", "in")
        shutil.rmtree(data, ignore_errors=True)
        candygen.generate(data, seed)
        return {"data": data, "out": os.path.join(WORK, "candy", "out"),
                "expected": candyref.reference(data)}
    import oracle

    cache = oracle.load()[spec.sf_tag]
    if oracle.table_hashes(spec) != {t: cache["tables"][t] for t in spec.tables}:
        raise SystemExit(
            f"the {spec.sf_tag} tables differ from those the oracle cache was "
            "computed on; run python3 perfbench/oracle.py"
        )
    return {"data": spec.data_dir, "expected": cache["queries"]}


class Harness:
    def __init__(self, spec, inputs, spark, tracer):
        self.spec, self.inputs = spec, inputs
        self.spark, self.tracer = spark, tracer
        self.failures: list[str] = []
        self.attempted = 0
        self.last: dict = {}  # op -> its latest result, for the check
        self.leaks: list[dict] = []
        self.op_s: dict[str, list[float]] = {op: [] for op in spec.ops}
        if spec.kind != "candy":
            from candyspark.plans import collect_registry

            registry = collect_registry()
            self.fns = {name: registry[name].fn for name in spec.ops}

    # -- one operation ---------------------------------------------------------
    def run_op(self, op: str, pass_no: int, check: bool) -> float | None:
        tr = self.tracer
        if tr is not None:
            tr.op, tr.pass_no = op, pass_no
        before = self._debris() if self.spec.kind == "drain" else None
        self.attempted += 1
        t = time.perf_counter()
        try:
            if self.spec.kind == "candy":
                self._candy()
            else:
                self._query(op, tr, check)
            dt = time.perf_counter() - t
        except Exception as ex:  # a failing operation is reported, not hidden
            self.failures.append(f"{op} (pass {pass_no}): {type(ex).__name__}: {str(ex)[:300]}")
            dt = None
        if self.spec.kind == "candy" and dt is not None:
            import candyref

            problems = candyref.check_outputs(self.inputs["out"], self.inputs["expected"])
            if problems:
                self.failures.append(f"{op} (pass {pass_no}): " + "; ".join(problems[:3]))
                dt = None
        if before is not None:
            if dt is not None and check:  # before the cleanup drops its table
                self._check(op)
            self.leaks.append(self._clean(before, pass_no))
        return dt

    def _candy(self) -> None:
        from candyspark import forecast, pipeline
        from candyspark.sources import sinks

        out = self.inputs["out"]
        shutil.rmtree(out, ignore_errors=True)
        _customers, products, transactions = pipeline.load_inputs(self.spark, self.inputs["data"])
        line_items = pipeline.prepare_line_items(transactions)
        allocated = pipeline.allocate_inventory(line_items, products)
        outputs = pipeline.build_final_outputs(allocated, line_items, products)
        pipeline.save_outputs(outputs, out)
        fc = forecast.forecast_sales_and_profits(outputs.daily_summary, horizon=1, method="auto")
        sinks.save_single_csv(fc, out, "sales_profit_forecast.csv")

    def _query(self, op: str, tr, check: bool) -> None:
        span = tr.span if tr is not None else (lambda *a: nullcontext())
        with span("build", "build"):
            df = self.fns[op](self.spark, self.inputs["data"])
        if tr is not None and tr.enabled:
            with span("plan"):
                df._jdf.queryExecution().executedPlan()
        with span("exec", "exec"):
            df.write.format("noop").mode("overwrite").save()
        if check:
            self.last[op] = df

    # -- correctness -----------------------------------------------------------
    def _check(self, op: str) -> None:
        import oracle

        try:
            got = oracle.summary(self.last.pop(op).toPandas())
        except Exception as ex:
            self.failures.append(f"{op} (check): {type(ex).__name__}: {str(ex)[:300]}")
            return
        want = self.inputs["expected"][op]
        if got != want:
            self.failures.append(
                f"{op} (check): {got['rows']} rows hash {got['hash']}, "
                f"oracle {want['rows']} rows hash {want['hash']}"
            )

    def check_queries(self) -> None:
        for op in list(self.last):
            self._check(op)

    # -- debris ------------------------------------------------------------------
    def _debris(self) -> tuple[set, set]:
        dirs = {p for p in glob.glob(os.path.join(TMP, "candyspark_*")) if os.path.isdir(p)}
        tables = {t.name for t in self.spark.catalog.listTables()}
        return dirs, tables

    def _clean(self, before, pass_no: int) -> dict:
        """Count what a drain left behind, then remove it."""
        dirs, tables = self._debris()
        new_dirs, new_tables = dirs - before[0], tables - before[1]
        for p in new_dirs:
            shutil.rmtree(p, ignore_errors=True)
        for name in new_tables:
            if not self.spark.catalog.dropTempView(name):
                self.spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        return {"pass": pass_no, "dirs": len(new_dirs), "tables": len(new_tables)}

    # -- passes ----------------------------------------------------------------
    def run_pass(self, pass_no: int, order: list[str], check: bool) -> tuple[float, list]:
        times, total = [], 0.0
        for op in order:
            dt = self.run_op(op, pass_no, check)
            if dt is not None:
                times.append(dt)
                self.op_s[op].append(round(dt, 3))
                total += dt
        return total, times


def _stop(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: the JVM
    exits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _jvm_pid(sc) -> int | None:
    """The JVM behind the py4j gateway (the launcher process or its child)."""
    proc = getattr(sc._gateway, "proc", None)
    if proc is None:
        return None
    pids = [proc.pid]
    for pid in list(pids):
        for task in glob.glob(f"/proc/{pid}/task/*/children"):
            pids += [int(c) for c in open(task).read().split()]
    for pid in pids:
        try:
            if "java" in open(f"/proc/{pid}/comm").read():
                return pid
        except OSError:
            pass
    return pids[0]


def _peak_rss_mb(pid: int | None) -> float:
    try:
        for line in open(f"/proc/{pid}/status"):
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except (OSError, TypeError):
        pass
    return 0.0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=7)
    p.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "candyspark", "session.py")):
        print(f"perfbench: no candyspark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = WORKLOADS[args.workload]
    load_start = os.getloadavg()
    _isolate()

    t = time.time()
    inputs = _prepare_inputs(spec, args.seed)
    inputs_s = time.time() - t

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(args.workload)
        tracer.install()
        tracer.enabled = True
    from candyspark.session import get_spark

    with tracer.span("session.start") if tracer else nullcontext():
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    setup_s = time.time() - T_START - inputs_s
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if tracer is not None:
        tracer.sc = sc
    try:
        result = _measure(args, spec, inputs, spark, tracer, setup_s, load_start)
    finally:
        _stop(spark)
        shutil.rmtree(TMP, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "local"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "candy"), ignore_errors=True)
    print(json.dumps(result))
    return 0


def _measure(args, spec, inputs, spark, tracer, setup_s, load_start) -> dict:
    sc = spark.sparkContext
    h = Harness(spec, inputs, spark, tracer)
    rng = random.Random(args.seed)

    def order() -> list[str]:
        ops = list(spec.ops)
        rng.shuffle(ops)
        return ops

    if tracer is not None:  # untraced, like the cold pass of an untraced run
        tracer.enabled = False
    cold_s, _ = h.run_pass(0, order(), check=False)
    warm, op_times, traced, untraced = [], [], [], []
    warm_start = time.perf_counter()
    pass_no = 0
    # a traced run alternates untraced and traced warm passes, starting and
    # ending untraced, so it makes an odd number of at least three
    while (
        pass_no == 0
        or time.perf_counter() - warm_start < args.seconds
        or (tracer is not None and (pass_no < 3 or pass_no % 2 == 0))
    ):
        pass_no += 1
        if tracer is not None:
            tracer.enabled = pass_no % 2 == 0
        total, times = h.run_pass(pass_no, order(), check=True)
        warm.append(total)
        op_times += times
        (traced if tracer is not None and tracer.enabled else untraced).append((pass_no, total))
    if tracer is not None:
        tracer.enabled = False
    # query results of the last warm pass are checked now, without a rebuild
    h.check_queries()

    failed = len(h.failures)
    header = {
        "workload": args.workload,
        "seed": args.seed,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": __import__("pyspark").__version__,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "passes": {"cold": 1, "warm": len(warm)},
        "samples": {"setup_s": 1, "cold_pass_s": 1, "warm_pass_s": len(warm),
                    "op_p50_s": len(op_times)},
        "attempted": h.attempted,
        "failed": failed,
        "failed_ratio": failed / h.attempted,
        "op_s": h.op_s,
        "failures": h.failures,
    }
    print(json.dumps({"header": header}))
    artifact = os.path.join(WORK, f"run_{args.workload}_seed{args.seed}_trace{args.trace}.json")
    for f in h.failures:
        print(f"FAILED {f}", file=sys.stderr)
    if not warm or not op_times:
        raise SystemExit("no operation completed")
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "warm_pass_s": (statistics.median(warm), "s"),
            "op_p50_s": (statistics.median(op_times), "s"),
        }
    else:
        import layers

        metrics = layers.per_layer(args.workload, spec, h, tracer, sc, traced, untraced)
        metrics["session.jvm_peak_rss_mb"] = (_peak_rss_mb(_jvm_pid(sc)), "MB")
        metrics["session.py_peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB")
        metrics["failed_ratio"] = (failed / h.attempted, "1")
        metrics["cold_pass_s"] = (cold_s, "s")
        tracer.dump(os.path.join(WORK, f"trace_{args.workload}_seed{args.seed}.json"))
    result = {
        "correct": failed == 0,
        "attempted": h.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(artifact, "w") as f:
        json.dump({"header": header, "result": result}, f, indent=1)
    return result


if __name__ == "__main__":
    sys.exit(main())
