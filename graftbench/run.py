#!/usr/bin/env python3
"""graft benchmark: runs one workload in one Spark process and prints its
result as the last line of standard output.

Usage (from the repository root):
  python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: glove_broadcast, corpus_dedup, analytics_sf01
(see graftbench/README.md). --trace 0 reports the end-to-end metrics of
BENCHMARK.json, --trace 1 its per-layer metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402

WORKLOADS = ("glove_broadcast", "corpus_dedup", "analytics_sf01")
TIME_LIMIT_S = 170  # a run must end within 180 s once the build is current
TAIL_BEYOND = 10    # samples strictly beyond a reported tail

# JVM module openings Spark needs when started outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """Highest order statistic with TAIL_BEYOND samples beyond it, and its percentile."""
    s = sorted(xs)
    k = len(s) - TAIL_BEYOND - 1
    if k < 0:
        raise ValueError(f"{len(s)} samples are too few for a tail")
    return s[k], 100.0 * (k + 1) / len(s)


def jvm(classpath, main, args, work, deadline, launched_arg=False):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss4m"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join(classpath), main] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        if launched_arg:  # the wall-clock launch time set-up is measured from
            cmd += ["--launched-ms", str(int(time.time() * 1000))]
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{main} {'timed out' if rc is None else f'exited with {rc}'}")


def analytics_data(classpath, deadline):
    """sf0.1-sized tables, generated once per checkout and reused: they do
    not depend on the seed (the seed orders the queries)."""
    src = os.path.join(ROOT, "src", "main", "scala", "graft", "tools", "GenScale.scala")
    with open(src, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    data = os.path.join(build.BUILD, "data", f"sf01-{key}")
    if not os.path.exists(os.path.join(data, "_COMPLETE")):
        shutil.rmtree(data, ignore_errors=True)
        work = os.path.join(build.BUILD, "runs", f"gendata-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        jvm(classpath, "graftbench.GenData", [data, work], work, deadline)
        shutil.rmtree(work, ignore_errors=True)
        open(os.path.join(data, "_COMPLETE"), "w").close()
    return data


def oracle_failures(work, data, ops):
    """DuckDB oracle check of the first pass's B-query results, under the
    canonicalisation of tools/check_correctness.py. A query whose result
    differs fails every one of its operations (later passes are checked
    against the first pass in the JVM)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import canon_frame
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        src = os.path.join(data, f"{t}.parquet")
        if os.path.isdir(src):  # a Spark-written table is a directory of part files
            src = os.path.join(src, "*.parquet")
        con.execute(f"create view {t} as select * from read_parquet('{src}')")
    with open(os.path.join(work, "analytics", "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed, notes = 0, []
    for name, sql in sorted(oracle.items()):
        d = os.path.join(work, "analytics", name)
        try:
            mine = pd.read_parquet(d)
            theirs = con.execute(sql).df()
            ok = (sorted(mine.columns) == sorted(theirs.columns) and len(mine) == len(theirs)
                  and canon_frame(mine) == canon_frame(theirs))
        except Exception as e:  # a missing or unreadable result is a failure too
            ok, e_msg = False, f"{type(e).__name__}: {e}"
            notes.append(f"{name}: {e_msg}")
        else:
            if not ok:
                notes.append(f"{name}: differs from the DuckDB oracle")
        if not ok:
            failed += ops.get(name, 1)
    return failed, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if a.seconds <= 0:
        fail("--seconds must be positive")
    start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build.build()  # the one step allowed to take longer, on a fresh checkout
    deadline = time.time() + TIME_LIMIT_S
    extra = []
    # corpus_dedup's short calls and analytics_sf01 are B1-B10 over the tables
    if a.workload in ("corpus_dedup", "analytics_sf01"):
        extra = ["--data", analytics_data(classpath, deadline)]
    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm(classpath, "graftbench.Main",
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", work] + extra, work, deadline, launched_arg=True)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        attempted, failed, notes = res["attempted"], res["failed"], list(res["failures"])
        if extra:
            f2, n2 = oracle_failures(work, extra[1], res["ops"])
            failed = min(attempted, failed + f2)
            notes += n2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples, values = res["samples"], res["values"]
    threads = res["threads"]
    for k in ("setup_s", "op_s", "call_ms"):
        if not samples.get(k):
            for n in notes[:10]:
                print(f"failure: {n}", file=sys.stderr)
            fail(f"no {k} samples ({failed} of {attempted} operations failed)")
    calls = samples["call_ms"]
    tail_ms, tail_pct = tail(calls) if len(calls) > TAIL_BEYOND else (max(calls), 100.0)
    e2e = {"setup_s": samples["setup_s"][0], "op_s": median(samples["op_s"]),
           "call_p50_ms": median(calls), "call_tail_ms": tail_ms,
           "peak_rss_mb": values["peak_rss_mb"]}

    op_name = {"glove_broadcast": "fit_s",
               "corpus_dedup": "pipeline_s", "analytics_sf01": "pass_s"}[a.workload]
    call_name = {"glove_broadcast": "neighbor",
                 "corpus_dedup": "query", "analytics_sf01": "query"}[a.workload]
    error_rate = failed / attempted if attempted else 1.0
    print(f"workload {a.workload}  seed {a.seed}  threads {threads}  mode "
          f"{'traced' if a.trace else 'untraced'}  wall {time.time() - start:.1f} s")
    print(f"  setup_s       {e2e['setup_s']:.4f} s   (JVM start to first {op_name[:-2]} done, cold)")
    print(f"  op_s          {e2e['op_s']:.4f} s   ({op_name}, median of {len(samples['op_s'])})")
    print(f"  call_p50_ms   {e2e['call_p50_ms']:.3f} ms  ({call_name}_p50_ms, {len(calls)} calls)")
    print(f"  call_tail_ms  {tail_ms:.3f} ms  ({call_name}_tail_ms, p{tail_pct:.1f} of {len(calls)} calls)")
    print(f"  peak_rss_mb   {e2e['peak_rss_mb']:.1f} MB")
    print("  op samples    " + " ".join(f"{x:.3f}" for x in samples["op_s"]))
    print(f"  phases        set-up {values['phase.setup_s']:.1f} s, warm-up "
          f"{values['phase.warmup_s']:.1f} s, measured cycles {values['phase.measure_s']:.1f} s")
    if "final_loss" in samples:
        print(f"  final_loss    {median(samples['final_loss']):.6f}")
    print(f"  error_rate    {error_rate:.4f}   ({failed} of {attempted} operations)")
    for n in notes[:10]:
        print(f"  failure: {n}")

    if a.trace:
        # the traced run's end-to-end figures, for the tracing overhead
        # (graftbench/steady.py --overhead)
        print("end_to_end " + json.dumps(e2e))
        layer = dict(values)
        if "final_loss" in samples:
            layer["glove.final_loss"] = median(samples["final_loss"])
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    for k, v in metrics.items():
        if v["value"] is None or not math.isfinite(v["value"]):
            fail(f"metric {k} is not a finite number")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
