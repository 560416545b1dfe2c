#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload trip_stream --seed 1 --seconds 20 --trace 0

Builds the program and the harness from the checkout's sources (once
per source state), generates the workload's inputs from the seed, runs
the timed loop in one JVM, checks every op's output and prints one JSON
result object as the last line of standard output.  --trace 1 runs the
same workload with Spark's listeners attached and reports the per-layer
metrics instead of the end-to-end ones.  See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("trip_stream", "query_mix")
# query_mix runs over the vendored sf0.01 tables and checks row counts
# against the repository's oracle gate record over the same data
MIX_DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE = os.path.join(ROOT, "CORRECTNESS_r19.json")
# Work per run is a function of --seconds only, so a faster program
# never does more of it: trip_stream replays 2 untimed lead batches and
# then 0.5 timed batches per second, query_mix runs 0.25 timed passes
# per second after its untimed warm pass.
LEAD_BATCHES = 2
TIMED_BATCHES_PER_SECOND = 0.5
TIMED_PASSES_PER_SECOND = 0.25
# The query_mix sample, in its fixed cyclic order: one SparkEntry.queries
# key per family letter, the one with the lowest median op time in a
# timing probe of the cheapest candidates per family (sf0.01, local[2],
# 4 vCPUs), so each op is mostly the per-query floor.
MIX_KEYS = ["s3_sample_stratified", "g5_ann_hubness", "q6_revenue", "x5_source_budget",
            "b2_salted_agg", "m1_multimodal_meta", "a7_kpi_anomaly", "e1_ann_topk",
            "t4_fingerprint", "d1_dedup_exact", "p1_validate"]
BUILD_DIR = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(HERE, "target", "runtime.classpath")
# the module opens Spark needs on JDK 17 outside spark-submit (as in the
# program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(f))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program and harness with sbt unless this source state
    was already built in this checkout.  Not part of any metric."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program sources at %s (missing %s); run from a full checkout" % (ROOT, need))
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "sbt.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (%s); log in %s" % (rc, log), 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def percentile(values, q):
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values):
    return percentile(values, 50) if values else 0.0


def prepare(workload, seed, seconds, cfg, work):
    """Generates the inputs; returns (manifest fields, truth, oracle rows)."""
    if workload == "trip_stream":
        n = LEAD_BATCHES + max(4, round(seconds * TIMED_BATCHES_PER_SECOND))
        stage = os.path.join(work, "stage")
        truth, tables = gen.write_stream_input(seed, stage, n, cfg)
        batches = [{"index": b, "file": "b%05d.parquet" % b, "events": t.num_rows}
                   for b, t in enumerate(tables)]
        return ({"input_dir": stage, "stage_dir": stage, "batches": batches,
                 "lead_batches": LEAD_BATCHES}, truth, None)
    if not os.path.exists(ORACLE):
        fail("no oracle gate record at %s; run from a full checkout" % ORACLE)
    with open(ORACLE) as fh:
        oracle = json.load(fh)
    # every run times the same queries in the same cyclic order; the
    # seed picks where in the cycle the passes start
    start = random.Random(seed).randrange(len(MIX_KEYS))
    keys = MIX_KEYS[start:] + MIX_KEYS[:start]
    return ({"input_dir": MIX_DATA, "keys": keys,
             "passes": max(1, round(seconds * TIMED_PASSES_PER_SECOND))}, None,
            {k: v["oracle_rows"] for k, v in oracle.items()})


def cpu_ticks():
    """(steal, total) jiffies of the whole host, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(manifest_path, work, cfg, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    heap = cfg["jvm"]["heap"]
    cmd = [java, "-Xms" + heap, "-Xmx" + heap, "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main", manifest_path]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=max(30, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    log.close()
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        fail("benchmark JVM failed (%s)" % rc, 4)


def end_to_end(workload, res, ok, setup_s):
    ops = res["ops"]
    lat = [o["ms"] for o in ops]
    busy_s = sum(lat) / 1000.0
    if workload == "query_mix":
        events = sum(o.get("rows", 0) for o in ops)
    else:
        events = sum(o["events"] for o in ops)
    return {
        "setup_s": setup_s,
        "op_p50_ms": percentile(lat, 50),
        "op_p90_ms": percentile(lat, 90),
        "events_per_s": events / busy_s,
        "queries_per_s": len(ops) / busy_s,
        "cpu_ms_per_op": sum(o["cpu_ms"] for o in ops) / len(ops),
        "heap_mb": res["heap_mb"],
        "ok_ratio": sum(ok) / len(ops),
    }


def per_layer(workload, names, res):
    layers, probes, ops = res["layers"], res["probes"], res["ops"]
    out = {n: median([r[n] for r in layers if n in r]) for n in names}
    for n in names:
        if any(n in p for p in probes):
            out[n] = median([p[n] for p in probes if n in p])
    for n in names:
        if n.startswith("mix."):
            fam = n[len("mix."):-len("_ms")]
            out[n] = median([o["ms"] for o in ops if o["key"][0] == fam and "error" not in o]) \
                if workload == "query_mix" else 0.0
    traced = [o["ms"] for o in ops if o["traced"]]
    plain = [o["ms"] for o in ops if not o["traced"]]
    out["host.cal_ms"] = median(res["cal_ms"])
    out["trace.attributed_share"] = median([r["trace.attributed_ms"] / r["ms"] for r in layers])
    out["trace.residual_ms"] = median([r["ms"] - r["trace.attributed_ms"] for r in layers])
    out["trace.op_p50_ms"] = median(traced)
    out["trace.untraced_op_p50_ms"] = median(plain)
    out["trace.overhead_ratio"] = (median(traced) / median(plain) - 1.0) if plain else 0.0
    return {n: out[n] for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    with open(os.path.join(HERE, "config.json")) as fh:
        cfg = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    # set-up starts here: compiler time above is not part of it
    t0 = time.time()
    deadline = t0 + 170
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        fields, truth, oracle = prepare(a.workload, a.seed, a.seconds, cfg, work)
        manifest = dict(fields, workload=a.workload, work_dir=work, trace=bool(a.trace),
                        seconds=a.seconds, threads=cfg["jvm"]["spark_threads"],
                        result_file=os.path.join(work, "result.json"),
                        spans_file=os.path.join(out_dir, "spans-%s-%d.jsonl" % (a.workload, a.seed)))
        manifest_path = os.path.join(work, "manifest.json")
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh)
        ticks0 = cpu_ticks()
        run_jvm(manifest_path, work, cfg, deadline)
        ticks1 = cpu_ticks()
        with open(manifest["result_file"]) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(out_dir, "result-%s-%d.json" % (a.workload, a.seed)), "w") as fh:
        json.dump(dict(res, outputs=sorted(res["outputs"])), fh)
    if not res["ops"]:
        fail("no timed op completed", 5)
    verdicts = check.judge(a.workload, res, truth, oracle)
    ok = [v for v, _ in verdicts]
    failures = sorted({r for v, r in verdicts if not v})
    setup_s = res["first_op_ms"] / 1000.0 - t0
    if a.trace:
        metrics = per_layer(a.workload, [m["name"] for m in spec["per_layer"]], res)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = end_to_end(a.workload, res, ok, setup_s)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "ops": len(ok),
            "op_samples_above_p90": int(len(ok) * 0.1), "setup_s": setup_s,
            "host.cal_ms": median(res["cal_ms"]), "failures": failures[:5],
            # share of host CPU time the hypervisor gave to others during the run
            "host.steal_pct": 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
            if ticks0 and ticks1 else None,
            "spark_config": res["config"]}
    if a.trace:
        info["state_operators"] = res["state_operators"]
        info["spans_file"] = os.path.relpath(manifest["spans_file"], ROOT)
    print("perfbench-info " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": all(ok), "attempted": len(ok), "failed": len(ok) - sum(ok),
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units}}))


if __name__ == "__main__":
    main()
