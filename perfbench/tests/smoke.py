#!/usr/bin/env python3
"""Smoke self-test of the benchmark at sf0.001, through every code path: the
seed derivation, the output check (passing and failing), the timed and traced
passes, and the trace writer. Takes about a minute after the build.

    python3 perfbench/tests/smoke.py
"""
import glob
import json
import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_data  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

WORKLOAD = {
    "sf": 0.001,
    # a kernel query, a broadcast spatial join with plan-time work, an operator with Ckpt.stage
    "queries": ["q_point_xy", "q_dwithin_selective", "q_semdedup_op"],
}


def check_seed_derivation(tmp):
    paths = {k: os.path.join(tmp, k) for k in ("a", "b", "c")}
    gen_data.generate(paths["a"], 0.001, 1)
    gen_data.generate(paths["b"], 0.001, 1)
    gen_data.generate(paths["c"], 0.001, 2)
    for f in sorted(os.listdir(paths["a"])):
        a, b, c = (open(os.path.join(paths[k], f), "rb").read() for k in "abc")
        assert a == b, f"{f}: the same seed gave different bytes"
        ta, tc = (pq.read_table(os.path.join(paths[k], f)) for k in "ac")
        key = [(c, "ascending") for c in ta.column_names if not pa.types.is_list(ta.schema.field(c).type)]
        assert ta.sort_by(key).equals(tc.sort_by(key)), f"{f}: seeds changed the content"
        if ta.num_rows > 100:
            assert not ta.equals(tc), f"{f}: seeds gave the same row order"


def check_trace(path, queries):
    with open(path) as f:
        trace = json.load(f)
    spans = {s["id"]: s for s in trace["spans"]}
    roots = [s for s in spans.values() if s["parent"] == -1]
    assert roots and all(s["name"] == "query" for s in roots), "every tree starts at a query span"
    assert {s["attrs"]["query"] for s in roots} == set(queries), "a span tree per query"
    for r in roots:
        kids = sorted(s["name"] for s in spans.values() if s["parent"] == r["id"])
        assert kids == ["SparkEntry.construct", "exec.run", "plans.plan"], kids
    for s in spans.values():
        assert s["self_ms"] >= 0 and s["end_ms"] >= s["start_ms"], s
        if s["name"] == "job":
            assert spans[s["parent"]]["name"] in ("SparkEntry.construct", "plans.plan", "exec.run")
        if s["name"] == "stage":
            assert spans[s["parent"]]["name"] == "job"
    assert any(s["name"] == "job" for s in spans.values()), "listener jobs are in the trace"


def check_output_check(rec):
    run_dir = rec["run_dir"]
    data, check = os.path.join(run_dir, "data"), os.path.join(run_dir, "check")
    assert oracle.check(data, check, rec["queries"], {}) == {}, "outputs match their oracles"
    q = rec["queries"][0]
    part = glob.glob(os.path.join(check, q, "*.parquet"))[0]
    t = pq.read_table(part)
    col = t.column(0)
    bumped = pc.add(col, 1) if pa.types.is_integer(col.type) or pa.types.is_floating(col.type) \
        else pc.binary_join_element_wise(col, pa.scalar("x"), "")
    pq.write_table(t.set_column(0, t.column_names[0], bumped), part)
    assert q in oracle.check(data, check, [q], {}), "a changed output fails the check"
    assert "q" in oracle.check(data, check, ["q"], {"q": "boom"}), "a query that threw fails"


def main():
    os.makedirs(run.build_dir(), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=run.build_dir()) as tmp:
        check_seed_derivation(tmp)
    traced = run.run_workload("smoke", WORKLOAD, seed=1, seconds=0, trace=1, keep=True)
    try:
        assert traced["check_failures"] == {}, traced["check_failures"]
        s = run.summarize(traced)
        assert s["failed"] == 0 and s["passes"] >= 1 and s["metrics"]["pass_s"] > 0, s
        assert any(p["traced"] for p in traced["passes"]), "a traced pass ran"
        for k in ("plans.plan_s", "exec.s", "exec.jobs", "functions.st_transform.cold_us_per_row",
                  "io.gpkg.read_s", "trace.overhead_s"):
            assert k in traced["layers"], k
        assert traced["layers"]["plans.broadcast_spatial_joins"] >= 1
        check_trace(os.path.join(traced["run_dir"], "trace.json"), WORKLOAD["queries"])
        check_output_check(traced)
    finally:
        shutil.rmtree(traced["run_dir"], ignore_errors=True)
    plain = run.run_workload("smoke", WORKLOAD, seed=1, seconds=0, trace=0)
    order = lambda rec: [e["query"] for e in rec["passes"][0]["executions"]]
    assert order(plain) == order(traced), "the seed fixes the query order of each pass"
    assert not any(p["traced"] for p in plain["passes"])
    print("smoke: OK")


if __name__ == "__main__":
    main()
