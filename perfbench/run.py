"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One process per run: it
generates the workload's inputs from the seed under
``.bench_build/perfbench/`` in the checkout, starts a Spark session
with ``SPARK_GRAFT_CPUS`` = the usable cores (set-up ends there), runs
``round(S / nominal pass time)`` timed passes (at least one; the first
on the fresh JVM), checks every pass, stops Spark and waits for its
JVM. The last line of standard output is
the result JSON; with ``--trace 0`` its metrics are the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run (see
``perfbench/README.md``). A run record with input sizes, load averages
and tail percentiles is written next to the inputs and printed on the
line before the result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import stats  # noqa: E402

PACKAGE = "big_data_hw_23_24_spark"
# Below the box's RAM (the package's default is 24g).
DRIVER_MEM = "2g"


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of this
    process plus ``root_pid`` and all its live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    stat = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stat[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep, frontier = {os.getpid(), root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        kids = [pid for pid, (pp, _) in stat.items() if pp == parent and pid not in keep]
        keep.update(kids)
        frontier += kids
    return sum(stat[p][1] for p in keep if p in stat) / tick


def _environment(root: str, work: str) -> dict[str, str]:
    """Run hygiene: workers import the checkout's package, the driver
    heap fits the box, and every temporary file stays under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join([root] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    })
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def _stop(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _run_ops(fn, *a) -> list:
    try:
        return fn(*a)
    except Exception as e:  # a raising pass is one failed operation
        traceback.print_exc(file=sys.stderr)
        return [(math.nan, math.nan, [f"raised {type(e).__name__}: {e}"])]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_build", "perfbench",
                        f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    confs = _environment(root, work)
    sys.path.insert(0, root)

    wl = WORKLOADS[args.workload](work, args.seed)
    record: dict = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "cpus": os.environ["SPARK_GRAFT_CPUS"],
                    "driver_mem": DRIVER_MEM, "loadavg_start": _loadavg()}
    t0 = time.perf_counter()
    record["inputs"] = wl.prepare()
    record["gen_s"] = time.perf_counter() - t0

    if args.trace:
        result = _traced(wl, args, confs, work, record)
    else:
        result = _untraced(wl, args, confs, record)
    record["loadavg_end"] = _loadavg()
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for sub in os.listdir(work):  # keep only the record
        if sub != "record.json":
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print("# record " + json.dumps(record, default=str))
    print(json.dumps(result), flush=True)
    return 0


def _start(wl, confs: dict):
    """get_session, then point the workload's CPU clock at the driver,
    its JVM and the JVM's Python workers."""
    from pyspark import SparkContext

    from big_data_hw_23_24_spark import session

    spark = session.get_session("perfbench-" + wl.name, extra_confs=confs)
    jvm = SparkContext._gateway.proc.pid
    wl.cpu = lambda: _tree_cpu_s(jvm)
    return spark, jvm


def _finish(errors_per_op: list[list[str]], record: dict) -> dict:
    failed = sum(1 for errs in errors_per_op if errs)
    errors = sorted({e for errs in errors_per_op for e in errs})
    record.update(attempted=len(errors_per_op), failed=failed,
                  failed_frac=failed / len(errors_per_op), errors=errors[:20])
    for e in errors[:20]:
        print(f"# check failed: {e}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(errors_per_op), "failed": failed}


def _heap_peak_mb(spark) -> float:
    """Sum of the peak used bytes of the driver JVM's heap pools."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def _passes(wl, seconds: float) -> int:
    """Timed passes of a run: fixed by ``--seconds``, not by how fast
    the machine is, so CPU sums compare between runs."""
    return max(1, round(seconds / wl.pass_s))


def _untraced(wl, args, confs: dict, record: dict) -> dict:
    """Set-up is ``get_session``; then the timed passes, the first on
    the fresh JVM."""
    t0, c0 = time.perf_counter(), _tree_cpu_s(os.getpid())
    spark, jvm = _start(wl, confs)
    record["setup_wall_s"] = time.perf_counter() - t0
    record["setup_cpu_s"] = wl.cpu() - c0
    walls, cpus, ops = [], [], []
    for _ in range(_passes(wl, args.seconds)):
        t, c, got = wl._timed(_run_ops, wl.run_pass, spark)
        walls.append(t)
        cpus.append(c)
        ops += got
    # before the oracle check, whose result size depends on the seed
    record["driver_peak_mb"] = _vm_hwm_mb("self")
    timed = [op for op in ops if op[0] == op[0]]  # a raised pass has no times
    try:
        errs = wl.oracle_check(spark)
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        errs = [f"oracle check raised {type(e).__name__}: {e}"]
    if errs is not None:
        ops.append((0.0, 0.0, errs))
    record.update(heap_peak_mb=_heap_peak_mb(spark), jvm_hwm_mb=_vm_hwm_mb(jvm))
    _stop(spark)
    out = _finish([op[2] for op in ops], record)
    op_walls = [op[0] for op in timed] or [sum(walls)]
    record.update(pass_walls=walls, pass_cpu_s=cpus, job_s=sum(walls), job_cpu_s=sum(cpus),
                  op_walls=op_walls, op_cpu_s=[op[1] for op in timed],
                  op_p50_s=stats.median(op_walls), op_tail=stats.tail(op_walls), **wl.notes)
    triggers = getattr(wl, "triggers", None)
    if triggers:
        record.update(batch_p50_s=stats.median(triggers), batch_tail=stats.tail(triggers))
    m = catalog.end_to_end(record)
    out["metrics"] = {k: {"value": m[k], "unit": u} for k, u in catalog.END_TO_END.items()}
    return out


def _traced(wl, args, confs: dict, work: str, record: dict) -> dict:
    """Same seed and inputs, event log on, and the timed passes run
    under the tracer: each app run (or query) is a span, each call into
    a layer function a step inside it. Per-layer figures are totals
    over the timed passes, as ``job_cpu_s`` is."""
    from spans import Tracer, event_log_file, self_times, span_counters

    log_dir = os.path.join(work, "eventlog")
    confs = dict(confs, **{"spark.eventLog.enabled": "true",
                           "spark.eventLog.dir": "file://" + log_dir,
                           "spark.eventLog.compress": "false",
                           "spark.eventLog.rolling.enabled": "false"})
    tr = Tracer()
    with tr.span("session", "get_session"):
        spark, _ = _start(wl, confs)
    tr.sc = spark.sparkContext
    n = _passes(wl, args.seconds)
    t0 = time.perf_counter()
    wl.tracer = tr
    with wl.traced(tr):
        ops = [op[2] for _ in range(n) for op in _run_ops(wl.run_pass, spark)]
    wl.tracer = None
    traced_s = time.perf_counter() - t0
    named = wl.layer_metrics(tr)
    _stop(spark)  # flushes the event log
    out = _finish(ops, record)
    path = event_log_file(log_dir)
    counters = span_counters(path, tr.spans) if path else {}
    out["metrics"] = catalog.per_layer_metrics(
        named, tr.spans, counters, self_times(tr.spans), traced_s, tr.overhead_s)
    record.update(traced_job_s=traced_s, spans=len(tr.spans))
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
