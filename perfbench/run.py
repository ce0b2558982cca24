"""Benchmark harness for nail_parquet_spark.

    python3 perfbench/run.py --workload {ingest,lookup} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The harness pins its own environment (master
``local[<cores>]``, JVM heap sized to the machine, Spark local dirs and
temp files under ``perfbench/.work``, the repository on the Python workers'
path), starts one Spark session, sets the workload up several times, then
runs ops in a closed loop with one client: one untimed op of each kind,
then whole cycles until ``S`` seconds of op time have passed. Every op's
output is checked. The last line of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes its spans to
``perfbench/out/spans-<workload>-<seed>.jsonl``. The exit code is 0 only if
every op was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 2


@dataclass
class Op:
    i: int
    kind: str
    wall: float
    traced: bool
    counts: dict | None  # Spark scheduler counts, traced ops only


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm_heap() -> str:
    """A quarter of the machine's memory, at most 2 GiB: the workloads'
    tables are tens of MB, while the library's default heap (48g) can
    exceed the machine."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(2, kb // (4 << 20)))}g"


def pin_env(work: str) -> None:
    """Environment for the Spark JVM and the Python workers it forks; must
    run before Spark starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    # the library and the harness's own modules (task closures refer to them)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([old] if old else []))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = jvm_heap()
    os.environ.pop("SPARK_SUBMIT_DEPLOY_MODE", None)


def start_spark(work: str):
    from nail_parquet_spark.session import get_spark

    n = cores()
    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    its Python workers have exited."""
    from tracing import _descendants, jvm_pid

    sc = spark.sparkContext
    gw = sc._gateway
    pid = jvm_pid(sc)
    workers = _descendants(pid)
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers + [pid]):
        time.sleep(0.1)


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
        rows: int | None = None, probe_rows: int | None = None,
        session_s: float = 0.0) -> dict:
    """One benchmark run on a live session; returns the result object.

    Set-up runs ``SETUP_REPEATS`` times. One untimed cycle (every kind of op
    once) warms the session, then whole cycles run until ``seconds`` of op
    time have passed. A traced run traces every other op of each kind (so
    it runs at least two measured cycles), then probes the codec kernels and
    runs one curate op for the ``functions`` layer."""
    from tracing import RssSampler, SparkCounters, Tracer, jvm_gc_s, jvm_pid, median
    from workloads import WORKLOADS, Curate

    import metrics as M

    tracer = Tracer()
    w = WORKLOADS[workload](spark, work, seed, tracer, rows=rows)
    sc = spark.sparkContext
    counters = SparkCounters(sc)
    attempted = failed = 0
    n_ops = 0

    def one(wl, kind: str, traced: bool) -> Op:
        nonlocal attempted, failed, n_ops
        i, n_ops = n_ops, n_ops + 1
        group = f"op-{i}"
        counters.start(group)
        tracer.enabled, tracer.op = traced, i
        t0 = time.perf_counter()
        result = err = None
        try:
            with tracer.span("op." + kind):
                result = wl.run_op(kind, i)
        except Exception as e:  # an op that raises counts as failed
            err = e
        wall = time.perf_counter() - t0
        tracer.enabled = False
        ok = False
        if err is None:
            try:
                ok = wl.check(kind, result)
            except Exception as e:
                err = e
        attempted += 1
        if not ok:
            failed += 1
            print(f"op {i} ({kind}) FAILED: "
                  + ("".join(traceback.format_exception(err)) if err else "wrong answer"),
                  file=sys.stderr)
        counts = counters.counts(group) if traced else None
        if result is not None:
            wl.after_op(kind, result, traced)
        return Op(i, kind, wall, traced, counts)

    marks = [("start", time.perf_counter())]
    with RssSampler(jvm_pid(sc)) as rss:
        reps = [w.setup_once() for _ in range(SETUP_REPEATS)]
        marks.append(("setup", time.perf_counter()))
        prep = w.prepare()
        marks.append(("prepare", time.perf_counter()))
        for kind in w.op_types():  # warm-up: one op of each kind
            one(w, kind, False)
        marks.append(("warmup", time.perf_counter()))

        ops: list[Op] = []
        seen: dict[str, int] = {}
        gc0 = jvm_gc_s(sc)
        while (sum(o.wall for o in ops) < seconds
               or (trace and min(seen.get(k, 0) for k in w.op_types()) < 2)):
            for kind in w.cycle():
                traced = trace and seen.get(kind, 0) % 2 == 0
                seen[kind] = seen.get(kind, 0) + 1
                ops.append(one(w, kind, traced))
        gc_s = jvm_gc_s(sc) - gc0
        marks.append(("ops", time.perf_counter()))
        kernels = probe = None
        if trace:
            kernels = w.kernel_rates()
            probe = Curate(spark, os.path.join(work, "curate"), seed, tracer, rows=probe_rows)
            probe.setup_once()
            probe.prepare_gate()
            one(probe, "chain", True)
            marks.append(("probes", time.perf_counter()))

    setup = {k: median(r[k] for r in reps) for k in reps[0]} | prep
    setup_s = session_s + median(sum(r.values()) for r in reps)
    untraced = [o for o in ops if not o.traced]
    print(M.describe(w, untraced or ops, setup, setup_s), file=sys.stderr)
    print("  wall: " + " ".join(f"{b[0]}={b[1] - a[1]:.1f}s" for a, b in zip(marks, marks[1:])),
          file=sys.stderr)
    if trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        tracer.dump(os.path.join(HERE, "out", f"spans-{workload}-{seed}.jsonl"))
        values = M.per_layer(w, probe, tracer, ops, setup, session_s, kernels, gc_s, rss)
    else:
        values = M.end_to_end(w, untraced, setup_s)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": M.with_units(values)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "lookup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import nail_parquet_spark  # noqa: F401  (fail before starting anything if absent)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_env(work)

    t0 = time.perf_counter()
    spark = start_spark(work)
    spark.range(1).count()  # the session is usable once a first job ran
    session_s = time.perf_counter() - t0
    try:
        res = run(spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
                  session_s=session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
