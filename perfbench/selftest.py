"""Self-test of the benchmark harness at a few thousand rows.

    python3 perfbench/selftest.py

Checks, in one Spark session, that every workload (and the curate probe
of traced runs) runs correctly at tiny size; that an untraced run emits
exactly the end-to-end metrics of ``BENCHMARK.json`` and a traced run
exactly its per-layer metrics, each with its declared unit; that the traced
run's span file is well formed; and that one corrupted byte in a decoded
output trips the correctness gate. Exits non-zero on the first failed
check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow.parquet as pq

import run

ROWS = {"ingest": 2048, "lookup": 2048}
PROBE_ROWS = 1024


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok: {what}", flush=True)


def declared(bench: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in bench[key]}


def check_corruption(spark, work: str) -> None:
    """A full decode passes the gate; the same output with one byte of one
    html value flipped must not."""
    from tracing import Tracer
    from workloads import Lookup

    w = Lookup(spark, os.path.join(work, "corrupt"), 5, Tracer(), rows=ROWS["lookup"])
    w.setup_once()
    w.prepare()
    out, got = w.run_op("scan", 0)
    expect(w.check("scan", (out, got)), "an intact decode passes the gate")
    path = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))[0]
    path = os.path.join(out, path)
    tbl = pq.read_table(path)
    html = tbl.column("html").to_pylist()
    i = next(j for j, v in enumerate(html) if v)
    html[i] = bytes([html[i][0] ^ 0x01]) + html[i][1:]
    idx = tbl.schema.get_field_index("html")
    import pyarrow as pa

    tbl = tbl.set_column(idx, tbl.schema.field(idx), pa.array(html, tbl.schema.field(idx).type))
    pq.write_table(tbl, path)
    expect(not w.check("scan", (out, got)), "one flipped decoded byte trips the gate")


def main() -> int:
    sys.path.insert(0, run.ROOT)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e, layer = declared(bench, "end_to_end"), declared(bench, "per_layer")
    names = [wl["name"] for wl in bench["workloads"]]
    work = os.path.join(run.HERE, ".work", f"selftest-{os.getpid()}")
    run.pin_env(work)
    spark = run.start_spark(work)
    try:
        for name in names:
            for trace in (False, True):
                res = run.run(spark, name, seed=1, seconds=0.1, trace=trace,
                              work=os.path.join(work, f"{name}-{int(trace)}"), rows=ROWS[name],
                              probe_rows=PROBE_ROWS)
                expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                       f"{name} trace={int(trace)} runs correctly")
                want = layer if trace else e2e
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                expect(got == want, f"{name} trace={int(trace)} emits the declared metrics "
                                    "with their units")
                if trace:
                    expect(res["metrics"]["functions.docs_in"]["value"] == PROBE_ROWS,
                           f"{name} trace=1 ran the curate probe")
            spans = os.path.join(run.HERE, "out", f"spans-{name}-1.jsonl")
            from tracing import check_spans

            problems = check_spans(spans)
            expect(not problems, f"{name} span file is well formed {problems[:3]}")
        check_corruption(spark, work)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
