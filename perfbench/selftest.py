#!/usr/bin/env python3
"""Self-test of the output checks: every check can fail.

For each workload: run it once, require its check to pass on the real
outputs, then hand the check corrupted copies of those outputs (a dropped
row, one changed cell, two merged components, ...) and require each to be
rejected. Run from the root of a checkout:

    python3 perfbench/selftest.py [workload ...]

Exits 1 if a check passes a corrupted copy or fails the real output.
"""
import argparse
import glob
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402


def rewrite(d, fn):
    """replace the parquet dataset in `d` by fn(its rows as a DataFrame)"""
    t = pq.read_table(d)
    df = fn(t.to_pandas())
    for p in glob.glob(os.path.join(d, "*.parquet")):
        os.remove(p)
    pq.write_table(pa.Table.from_pandas(df, schema=t.schema, preserve_index=False),
                   os.path.join(d, "part-0.parquet"))


def edit_json(path, fn):
    with open(path) as f:
        v = json.load(f)
    v = fn(v)
    with open(path, "w") as f:
        json.dump(v, f)


def drop_row(df):
    return df.iloc[1:]


def set_cell(col, value):
    def fn(df):
        df = df.copy()
        df.loc[df.index[0], col] = value
        return df
    return fn


def retype_field(name, tpe):
    def fn(schema):
        for x in schema["fields"]:
            if x["name"] == name:
                x["type"] = tpe
        return schema
    return fn


def bulk_cases(f, inp):
    def schema_and_registry(fn):
        def apply():
            edit_json(f["registry_file"], fn)
            f["schema"] = json.dumps(fn(json.loads(f["schema"])))
        return apply
    return {
        "a dropped sink row": lambda: rewrite(f["sink"], drop_row),
        "one changed sink cell": lambda: rewrite(f["sink"], set_cell("st", '"x"')),
        "a registry entry that differs": lambda: edit_json(
            f["registry_file"], retype_field("ok", "string")),
        "a wrong voted type": schema_and_registry(retype_field("dt", "string")),
        "a registry entry that does not reload": lambda: f.update(reload_equal=False),
    }


def incremental_cases(f, inp):
    with open(os.path.join(inp, "plan.json")) as fh:
        plan = json.load(fh)
    add = next(s for s in plan if s["event"] and s["event"]["kind"] == "add")
    drop = next(s for s in plan if s["event"] and s["event"]["kind"] == "drop")

    def strip_item(section, name):
        def fn(diff):
            diff[section] = {k: v for k, v in diff[section].items()
                             if not (isinstance(v, dict) and v.get("name") == name)}
            return diff
        return fn
    bdir = f["batches_dir"]
    return {
        "a diff missing the added column": lambda: edit_json(
            f"{bdir}/b{add['batch']}/diff.json",
            strip_item("iterable_item_added", add["event"]["column"])),
        "a diff missing the dropped column": lambda: edit_json(
            f"{bdir}/b{drop['batch']}/diff.json",
            strip_item("iterable_item_removed", drop["event"]["column"])),
        "a final registry entry that differs": lambda: edit_json(
            f["registry_file"], retype_field("st", "integer")),
        "a batch schema missing a column": lambda: edit_json(
            f"{bdir}/b0/schema.json", lambda s: {**s, "fields": s["fields"][1:]}),
    }


def queries_cases(f, inp):
    d = f["results_dir"]
    multi = next(n for n in sorted(os.listdir(d)) if pq.read_table(f"{d}/{n}").num_rows > 1)

    def change_first_col(df):
        df = df.copy()
        c = df.columns[0]
        v = df[c].iloc[0]
        df.loc[df.index[0], c] = (v + 1) if not isinstance(v, str) else v + "x"
        return df
    return {
        f"a dropped row in {multi}": lambda: rewrite(f"{d}/{multi}", drop_row),
        f"one changed cell in {multi}": lambda: rewrite(f"{d}/{multi}", change_first_col),
    }


def dedup_cases(f, inp):
    d = f["dir"]

    def merge_two(df):
        comps = sorted(df["component"].unique())
        df = df.copy()
        df.loc[df["component"] == comps[1], "component"] = comps[0]
        return df

    def bump_jac(df):
        df = df.copy()
        df.loc[df.index[0], "jac"] = df["jac"].iloc[0] - 0.01
        return df
    return {
        "a dropped candidate pair": lambda: rewrite(f"{d}/candidates", drop_row),
        "one changed Jaccard value": lambda: rewrite(f"{d}/verified", bump_jac),
        "two merged components": lambda: rewrite(f"{d}/components", merge_two),
        "a changed survivor": lambda: rewrite(
            f"{d}/survivors", lambda df: set_cell("keep_doc", int(df["component"].iloc[0]) + 1)(df)),
        "a dropped kNN edge": lambda: rewrite(f"{d}/knn", drop_row),
    }


CASES = {"doc_etl_bulk": bulk_cases, "doc_etl_incremental": incremental_cases,
         "query_mix_small": queries_cases, "corpus_dedup": dedup_cases}


def relocate(v, a, b):
    if isinstance(v, str):
        return v.replace(a, b)
    if isinstance(v, dict):
        return {k: relocate(x, a, b) for k, x in v.items()}
    return v


def selftest(workload):
    work = os.path.abspath(os.path.join(".bench_work", f"selftest-{workload}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inp, out, log = f"{work}/input", f"{work}/out", f"{work}/jvm.log"
    args = argparse.Namespace(workload=workload, seed=1, seconds=1, trace=0)
    res = run.run_workload(args, work, inp, out, log)
    bad = 0
    ok, problems = checks.check(workload, inp, res)
    print(f"{'PASS' if ok else 'FAIL'} {workload}: real outputs {'accepted' if ok else problems}")
    bad += not ok
    n_cases = len(CASES[workload](dict(res["facts"]), inp))
    for i in range(n_cases):
        copy = f"{work}/corrupt"
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(out, copy)
        facts = relocate(res["facts"], out, copy)
        name, corrupt = list(CASES[workload](facts, inp).items())[i]
        corrupt()
        ok, problems = checks.check(workload, inp, {**res, "facts": facts})
        print(f"{'FAIL' if ok else 'PASS'} {workload}: {name} "
              f"{'accepted' if ok else 'rejected: ' + problems[0][:100]}")
        bad += ok
    shutil.rmtree(work, ignore_errors=True)
    return bad


def main():
    names = sys.argv[1:] or run.WORKLOADS
    build.build()
    bad = sum(selftest(w) for w in names)
    print("self-test", "failed" if bad else "passed")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
