"""spark-graft benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload graph_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.bench_work/`` in the root, sets up the session three
times (reporting the median as ``setup_s``), runs a first pass of the
workload's operations in the fresh JVM, checks every output against an
independent computation, then runs ``STEADY`` steady passes, and more
only while the passes so far took less than ``--seconds``.
Each pass and each set-up is printed as one ``pass``/``setup`` line; the
last line of standard output is the result object. ``--trace 1`` turns on
Spark's event log and reports the per-layer metrics instead of the
end-to-end ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import proctree  # noqa: E402

SETUPS = 3
# The JVM keeps warming over the first passes, so the median of the steady
# passes depends on how many there are: every run makes the same number.
# One is what the run budget affords (perfbench/README.md, "Left out").
STEADY = 1
CPUS = 4
DRIVER_MEM = "3g"
# Wall time per pass is reported per layer only: one cold pass and one
# steady pass per run are all the run budget affords, and under
# hypervisor steal single wall-time readings spread past any allowed
# bound (perfbench/README.md, "Why pass wall time is per layer").
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "jobs_per_pass": "count",
              "retained_heap_mb": "MB"}
OP_QUANTITIES = {"build_s": "s", "action_s": "s", "jobs": "count", "tasks": "count",
                 "checkpoints_left": "count", "executor_cpu_s": "s", "shuffle_bytes": "bytes"}
SETUP_PARTS = ("session.start_s", "sources.load_s", "plans.copurchase_edges_s")
median = statistics.median


def pin_environment(work: Path) -> dict:
    """The run's environment, fixed here rather than inherited: at most
    ``CPUS`` cores and never more than the machine running it has, a heap
    well below RAM (the program's default is 16g), and every scratch path
    inside the checkout."""
    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    for d in ("spark-local", "tmp", "warehouse", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pins)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return pins


def spark_conf(work: Path, trace: bool) -> dict:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            # The python zstandard module is not installed; keep it readable.
            "spark.eventLog.compress": "false",
            # One plain file per application instead of a rolling directory.
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Runner:
    """Runs passes over a workload's operations and keeps their records."""

    def __init__(self, ctx, keep_rdds: set[int]) -> None:
        self.ctx = ctx
        self.keep_rdds = keep_rdds
        self.peak_rss_mb = 0.0
        self.raised: dict[str, str] = {}  # operations whose call raised
        self.wrong: dict[str, str] = {}  # operations whose output failed its check
        self.checked: set[str] = set()
        self.attempted = 0
        self.failed = 0

    def release_checkpoints(self) -> int:
        """Unpersist every RDD the operation left registered (its
        checkpoints), keeping the benchmark's own input checkpoints."""
        jsc = self.ctx.spark.sparkContext._jsc
        released = 0
        for rid, rdd in list(jsc.getPersistentRDDs().items()):
            if int(rid) not in self.keep_rdds:
                rdd.unpersist(False)
                released += 1
        return released

    def job_counts(self, group: str) -> tuple[int, int]:
        sc = self.ctx.spark.sparkContext
        # The status store is fed by the listener bus asynchronously; drain
        # it so the last job of the operation is counted.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks

    def run_pass(self, index: int, ops, check: bool) -> dict:
        sc = self.ctx.spark.sparkContext
        before, steal0 = proctree.TreeSample(os.getpid()), proctree.steal_seconds()
        wall = 0.0
        per_op = {}
        for op in ops:
            group = f"{op.metric}@{index}"
            sc.setJobGroup(group, group)
            self.attempted += 1
            rec = {"build_s": 0.0, "action_s": 0.0}
            try:
                t0 = time.perf_counter()
                df = op.build()
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec.update(build_s=t1 - t0, action_s=t2 - t1)
                rows = df.collect() if check else None
            except Exception as exc:  # one failing operation must not end the run
                self.raised[op.metric] = f"{type(exc).__name__}: {exc}"[:300]
                self.failed += 1
            else:
                if check:
                    try:
                        reason = op.check(rows)
                    except Exception as exc:  # a check that cannot run rejects the output
                        reason = f"the check raised {type(exc).__name__}: {exc}"[:300]
                    rec["check_s"] = time.perf_counter() - t2
                    if reason:
                        self.wrong[op.metric] = reason
                    else:
                        self.checked.add(op.metric)
            wall += rec["build_s"] + rec["action_s"]
            rec["checkpoints_left"] = self.release_checkpoints()
            rec["jobs"], rec["tasks"] = self.job_counts(group)
            per_op[op.metric] = rec
        sc.setJobGroup("bench", "between operations")
        after, steal1 = proctree.TreeSample(os.getpid()), proctree.steal_seconds()
        self.peak_rss_mb = max(self.peak_rss_mb, after.hwm_mb)
        return {
            "pass": index,
            "wall_s": wall,
            "cpu_s": after.cpu_s - before.cpu_s,
            "python_worker_cpu_s": after.python_worker_cpu_s - before.python_worker_cpu_s,
            "steal_s": steal1 - steal0,
            "jobs": sum(r["jobs"] for r in per_op.values()),
            "ops": per_op,
        }


def pass_line(rec: dict) -> str:
    """One pass as a JSON line: totals, and per operation its build, action
    and check seconds and its job count."""
    line = {k: v for k, v in rec.items() if k != "ops"}
    line["ops"] = {m: [round(r["build_s"], 3), round(r["action_s"], 3),
                       round(r.get("check_s", 0.0), 3), r["jobs"]]
                   for m, r in rec["ops"].items()}
    line["t"] = time.perf_counter() - T_START
    return json.dumps(line)


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection once the work is done:
    what a long-lived session keeps (its inputs, caches, anything leaked)."""
    jvm = spark.sparkContext._jvm
    # The second collection frees what the first one's weak references
    # released to Spark's ContextCleaner (unreferenced RDDs, broadcasts).
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (and with it the Python
    worker daemon), and wait until every process the run started has ended."""
    from pyspark import SparkContext

    started = [pid for pid in proctree.tree_pids(os.getpid()) if pid != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(proctree.alive(pid) for pid in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def setup_once(workload, ctx, get_spark, conf) -> dict:
    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench", extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    parts = {"session.start_s": time.perf_counter() - t0}
    parts.update(workload.setup(ctx))
    parts["setup_s"] = time.perf_counter() - t0
    # From process start: interpreter, imports, inputs, JVM launch, set-up.
    parts["session.cold_setup_s"] = time.perf_counter() - T_START
    return parts


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "graph_database_spark" / "__init__.py").is_file():
        print(f"perfbench: no graph_database_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import inputs
    from workloads import OP_METRICS, WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        pins = pin_environment(work)
        print(json.dumps({"pins": pins}), flush=True)
        in_dir = str(work / "inputs")
        inputs.write_inputs(in_dir, args.seed, workload.tables)

        from graph_database_spark.session import get_spark

        conf = spark_conf(work, bool(args.trace))
        ctx = Context(spark=None, in_dir=in_dir, work_dir=str(work))
        setups = []
        for i in range(SETUPS):
            if i:
                ctx.spark.stop()
            setups.append(setup_once(workload, ctx, get_spark, conf))
            print(json.dumps({"setup": i, **setups[-1], "t": time.perf_counter() - T_START}), flush=True)

        inputs_kept = {int(k) for k in ctx.spark.sparkContext._jsc.getPersistentRDDs().keys()}
        runner = Runner(ctx, inputs_kept)
        ops = workload.ops(ctx)
        t_measure = time.perf_counter()
        passes = [runner.run_pass(0, ops, check=True)]
        print(pass_line(passes[0]), flush=True)
        # Whole passes only; more than STEADY only while the passes so far
        # took less than the window (never so on the machine the README
        # describes, where the first pass alone takes longer).
        while len(passes) <= STEADY or time.perf_counter() - t_measure < args.seconds:
            passes.append(runner.run_pass(len(passes), ops, check=False))
            print(pass_line(passes[-1]), flush=True)
        retained = retained_heap_mb(ctx.spark)
        stop_spark(ctx.spark)
        for name, reason in runner.raised.items():
            print(json.dumps({"failed_op": name, "reason": reason}), flush=True)
        for name, reason in runner.wrong.items():
            print(json.dumps({"wrong_output": name, "reason": reason}), flush=True)

        steady = passes[1:]
        if args.trace:
            metrics = per_layer(ops, steady, setups, work, OP_METRICS)
            metrics["pass.first_wall_s"] = {"value": passes[0]["wall_s"], "unit": "s"}
            metrics["pass.steady_wall_s"] = {
                "value": median([q["wall_s"] for q in steady]), "unit": "s"}
            metrics["process.peak_rss_mb"] = {"value": runner.peak_rss_mb, "unit": "MB"}
        else:
            metrics = {
                "setup_s": median([s["setup_s"] for s in setups]),
                "pass_cpu_s": median([q["cpu_s"] for q in steady]),
                "jobs_per_pass": median([q["jobs"] for q in steady]),
                "retained_heap_mb": retained,
            }
            metrics = {k: {"value": metrics[k], "unit": unit} for k, unit in END_TO_END.items()}
        print(json.dumps({"run_s": time.perf_counter() - T_START}), flush=True)
        # An operation that raised is counted in ``failed`` and is out of
        # ``correct``'s scope; every other operation's output must have been
        # checked and accepted.
        result = {
            "correct": not runner.wrong and all(
                op.metric in runner.checked for op in ops if op.metric not in runner.raised),
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def per_layer(ops, steady, setups, work: Path, op_metrics) -> dict:
    """Per-layer metrics of a traced run: medians over the steady passes.
    Operations that are not part of this workload read 0."""
    import eventlog

    groups = {}
    for path in sorted((work / "eventlog").iterdir()):
        groups.update(eventlog.parse_file(str(path)))
    ran = {op.metric for op in ops}
    if not ran <= set(op_metrics):
        raise ValueError(f"operations missing from the per-layer names: {ran - set(op_metrics)}")
    out = {}
    for metric in op_metrics:
        for q, unit in OP_QUANTITIES.items():
            if metric not in ran:
                value = 0.0
            elif q in ("executor_cpu_s", "shuffle_bytes"):
                value = median([
                    getattr(groups.get(f"{metric}@{p['pass']}", eventlog.GroupTotals()), q)
                    for p in steady
                ])
            else:
                value = median([p["ops"][metric][q] for p in steady])
            out[f"{metric}.{q}"] = {"value": value, "unit": unit}

    def per_pass(attr):
        return median([
            sum(getattr(groups.get(f"{op.metric}@{p['pass']}", eventlog.GroupTotals()), attr)
                for op in ops)
            for p in steady
        ])

    out["spark.gc_s"] = {"value": per_pass("gc_s"), "unit": "s"}
    out["spark.scheduler_delay_s"] = {"value": per_pass("scheduler_delay_s"), "unit": "s"}
    out["pyspark.python_worker_cpu_s"] = {
        "value": median([p["python_worker_cpu_s"] for p in steady]), "unit": "s"}
    for part in SETUP_PARTS:
        out[part] = {"value": median([s.get(part, 0.0) for s in setups]), "unit": "s"}
    out["session.cold_setup_s"] = {"value": setups[0]["session.cold_setup_s"], "unit": "s"}
    return out


if __name__ == "__main__":
    sys.exit(main())
