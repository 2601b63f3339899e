#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one session shape.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is compiled from the checked-out
source on first use (build.py). Inputs are generated from --seed (gen.py),
the workload runs in one JVM (perfbench/src), its outputs are checked against
computations made apart from the program (checks.py), and the last line of
standard output is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from one extra traced round.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["doc_etl_bulk", "doc_etl_incremental", "query_mix_small", "corpus_dedup"]
JVM_TIMEOUT_S = 150

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def make_inputs(workload, seed, d):
    os.makedirs(d, exist_ok=True)
    if workload == "doc_etl_bulk":
        gen.gen_etl_bulk(seed, gen.BULK_ORDERS, gen.BULK_DOCS, d)
    elif workload == "doc_etl_incremental":
        gen.gen_etl_incremental(seed, gen.INC_BATCHES, gen.INC_DOCS, gen.INC_RECS, d)
    elif workload == "query_mix_small":
        gen.gen_query_tables(seed, gen.QUERY_SF, d)
    else:
        gen.gen_dedup(seed, gen.DEDUP_DOCS, gen.DEDUP_VECS, d)


def jvm(args, work, log):
    # C1 only, with the code cache C2 would get: see "Session shape" in README.md
    cmd = (["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
            "-XX:+AlwaysPreTouch", "-Xms1536m", "-Xmx1536m", "-Xss8m",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: workload JVM timed out")
    if rc != 0:
        sys.stderr.write(open(log).read()[-8000:])
        raise SystemExit(f"perfbench: workload JVM failed with code {rc}")


def run_workload(a, work, inp, out, log):
    """make the inputs, then run the workload JVM; returns its result"""
    t0 = time.time()
    shutil.rmtree(inp, ignore_errors=True)
    make_inputs(a.workload, a.seed, inp)
    shutil.rmtree(out, ignore_errors=True)
    args = ["--workload", a.workload, "--input", inp, "--out", out, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--t0-ms", str(int(t0 * 1000)),
            "--queries", os.path.join(HERE, "queries.txt")]
    jvm(args, work, log)
    with open(f"{out}/result.json") as f:
        return json.load(f)


def metric(v, unit):
    return {"value": v, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inp, out, log = f"{work}/input", f"{work}/out", f"{work}/jvm.log"
    try:
        res = run_workload(a, work, inp, out, log)
        ok, problems = checks.check(a.workload, inp, res)
        problems += res["trace_mismatch"]
        ok = ok and not res["trace_mismatch"]
        for p in problems:
            print("perfbench check failed:", p, file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rounds = res["rounds"]
    attempted = sum(r["attempted"] for r in rounds)
    failed = sum(r["failed"] for r in rounds)
    wall = statistics.median(r["wall_ms"] / 1000.0 for r in rounds)
    cpu = statistics.median(r["cpu_ms"] / 1000.0 for r in rounds)
    items = {"doc_etl_bulk": gen.BULK_DOCS,
             "doc_etl_incremental": gen.INC_BATCHES * gen.INC_DOCS,
             "query_mix_small": rounds[-1]["attempted"],
             "corpus_dedup": gen.DEDUP_DOCS}[a.workload]
    ops = [ms for r in rounds for ms in r["op_ms"]]
    if a.trace == 0:
        metrics = {
            "setup_s": metric(res["setup_ms"] / 1000.0, "s"),
            "cpu_s": metric(cpu, "s"),
            "items_per_cpu_s": metric(items / cpu, "1/s"),
            "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
            "heap_peak_mb": metric(res["heap_peak_mb"], "MB"),
            "sink_mb": metric(statistics.median(r["sink_bytes"] for r in rounds) / 1e6, "MB"),
        }
    else:
        metrics = {m["name"]: metric(m["value"], m["unit"]) for m in res["trace"]}
        metrics["trace.wall_s"] = metric(res["traced_wall_ms"] / 1000.0, "s")
        metrics["trace.overhead_s"] = metric(
            (res["traced_wall_ms"] - res["reference_wall_ms"]) / 1000.0, "s")
        # wall-clock view of this run's timed rounds; not gated (README.md)
        metrics["wall.round_s"] = metric(wall, "s")
        metrics["wall.items_per_s"] = metric(items / wall, "1/s")
        metrics["wall.op_p50_ms"] = metric(statistics.median(ops) if ops else 0.0, "ms")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
