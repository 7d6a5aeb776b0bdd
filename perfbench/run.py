#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness with
sbt (offline); later runs reuse the build while the sources are unchanged.
The run generates its input tables from the seed, starts one JVM that sets up
Spark with graft, checks every query's output against its DuckDB oracle,
then runs the workload's queries in a closed loop for `--seconds`. It prints
each metric with its unit, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (BENCHMARK.json).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    "interactive_sql": {
        "sf": 0.001,
        "queries": [
            "q_point_xy", "q_transform", "q_union_agg", "q_spatial_join", "q_dwithin_selective",
            "q_polyjoin_selective", "q_tpch_q6", "q_sessionize", "q_vsizip_roundtrip"],
    },
    "scale_sf1": {
        "sf": 0.02,
        "queries": [
            "q_transform_projstr", "q_transform_vgrid", "q_dwithin_selective",
            "q_polyjoin_selective", "q_semdedup_op"],
    },
}

RUN_LIMIT_S = 175   # a run never outlives this, build excluded

# Spark 4 on JDK 17 outside spark-submit (as the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def source_stamp():
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")) or "resources" in p:
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness (sbt, offline); returns the classpath."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's server socket and the JVM perf file out of the shared /tmp
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log("building graft and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip()
    if "harness" not in cp:
        raise SystemExit(f"unexpected classpath line: {cp[:200]}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def heap():
    """The Tier-1 heap rule: half of MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def quantile(values, q):
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def run_harness(classpath, w, data, out, seed, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed young generation: with G1 sizing it adaptively, the GC cadence and
    # with it the pass times differed from run to run
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmn1g", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        "-cp", classpath, "graftbench.Main",
        "--data", data, "--out", out, "--queries", ",".join(w["queries"]),
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus())]
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=out, stdin=subprocess.DEVNULL, stdout=jlog, stderr=jlog)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness exceeded the run time limit")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f)


def run_workload(name, w, seed, seconds, trace, keep=False):
    """One run: generate the inputs, run the harness, check the outputs.
    Returns the run record; with `keep` the run directory stays and is named
    in the record."""
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(build_dir(), "runs", f"{name}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        t0 = time.time()
        gen_data.generate(data, w["sf"], seed)
        data_s = time.time() - t0
        rec = run_harness(classpath, w, data, run_dir, seed, seconds, trace, deadline)
        t1 = time.time()
        failures = oracle.check(data, os.path.join(run_dir, "check"), w["queries"], rec["check_errors"])
        log(f"data {data_s:.1f} s, harness {t1 - t0 - data_s:.1f} s, oracle check {time.time() - t1:.1f} s")
        rec.update(workload=name, seed=seed, sf=w["sf"], queries=w["queries"], data_build_s=data_s,
                   check_failures=failures, run_dir=run_dir if keep else None)
        results = os.path.join(build_dir(), "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{name}-seed{seed}-trace{trace}")
        with open(stem + ".record.json", "w") as f:
            json.dump(rec, f)
        if trace:
            shutil.copyfile(os.path.join(run_dir, "trace.json"), stem + ".trace.json")
        return rec
    finally:
        if not keep:
            shutil.rmtree(run_dir, ignore_errors=True)


def summarize(rec):
    """End-to-end figures of one run record, over its untraced timed passes."""
    untraced = [p for p in rec["passes"] if not p["traced"]]
    timed = [e for p in untraced for e in p["executions"]]
    threw = sorted({e["query"] for e in timed if not e["ok"]})
    attempted = len(timed) + len(rec["queries"])
    failed = sum(1 for e in timed if not e["ok"]) + len(rec["check_failures"])
    lat = [e["latency_s"] for e in timed if e["ok"]] or [0.0]
    p90 = quantile(lat, 0.9)
    return {
        "attempted": attempted, "failed": failed, "threw": threw, "passes": len(untraced),
        "samples": len(lat), "beyond_p90": sum(1 for x in lat if x > p90),
        "metrics": {
            "setup_s": rec["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": p90,
            "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
            "peak_rss_mb": rec["peak_rss_mb"],
            "ok_ratio": 1.0 - failed / attempted,
        },
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("graft sources not found: run from a checkout of the repository")
    spec = benchmark_spec()
    w = WORKLOADS[args.workload]
    rec = run_workload(args.workload, w, args.seed, args.seconds, args.trace)
    s = summarize(rec)
    print(f"workload {args.workload}  seed {args.seed}  sf {w['sf']}  queries {len(w['queries'])}  "
          f"passes {s['passes']}  samples {s['samples']} ({s['beyond_p90']} beyond p90)  "
          f"data build {rec['data_build_s']:.2f} s")
    for name, reason in sorted(rec["check_failures"].items()):
        print(f"FAILED CHECK {name}: {reason}")
    for name in s["threw"]:
        print(f"FAILED EXECUTION {name}")
    print(f"fail_ratio {s['failed'] / s['attempted']:.6f} ratio ({s['failed']} of {s['attempted']})")
    if args.trace:
        metrics = {m["name"]: {"value": rec["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": s["metrics"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        # reported, not gated: fewer than ten samples lie beyond p90, and the
        # CPU time's run-to-run spread is the widest of all
        for name in ("latency_p90_s", "cpu_s"):
            print(f"{name} {s['metrics'][name]:.6g} s")
    print(json.dumps({"correct": s["failed"] == 0, "attempted": s["attempted"],
                      "failed": s["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
