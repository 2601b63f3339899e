#!/usr/bin/env python3
"""Write perfbench/queries.txt, the query_mix_small list, by a fixed rule.

Rule: take the registry queries that have a DuckDB oracle, are flagged
bench = true, and whose best time in BENCH_r18.json (the round-18 record,
sf0.1) is under 0.5 s; sort them by name; keep every 28th, starting
with the first. Run from the root of a checkout after build.py:

    python3 perfbench/select_queries.py

The list is committed, so the benchmark itself never reads BENCH_r18.json.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

LIMIT_S = 0.5
STRIDE = 28


def main():
    build.build()
    best = json.load(open("BENCH_r18.json"))["parsed"]["queries"]
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(), "perfbench.Catalog"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True).stdout
    eligible = []
    for line in out.splitlines():
        name, bench, oracle = line.split("\t")
        if bench == "true" and oracle == "true" and best.get(name, 1e9) < LIMIT_S:
            eligible.append(name)
    chosen = sorted(eligible)[::STRIDE]
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries.txt")
    with open(path, "w") as f:
        f.write(f"# {len(chosen)} of {len(eligible)} eligible queries; rule in select_queries.py\n")
        f.write("\n".join(chosen) + "\n")
    print(f"{len(chosen)} of {len(eligible)} eligible queries -> {path}")


if __name__ == "__main__":
    main()
