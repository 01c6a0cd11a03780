#!/usr/bin/env python3
"""Smoke test of the benchmark: both workloads briefly at sf0.001, then
each checker shown rejecting a corrupted result.

    python3 perfbench/smoke.py

Exits 0 when every run is correct and every corruption is caught.
"""
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

import run  # noqa: E402

SMOKE_SCALE = {"olap": dict(sf=0.001, n_docs=500, n_vecs=500),
               "interactive": dict(sf=0.001, n_docs=500, n_vecs=500)}


def corrupt_olap(res):
    """Change one value of one stored olap result."""
    out = res["plan"]["out_dir"]
    d = next(x for x in res["done"] if x.get("variant") and x["nrows"] > 0)
    path = os.path.join(out, "olap", d["variant"])
    part = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    df = pd.read_parquet(os.path.join(path, part))
    col = next(c for c in df.columns if pd.api.types.is_numeric_dtype(df[c]))
    df.loc[0, col] = df.loc[0, col] + 1
    shutil.rmtree(path)
    os.makedirs(path)
    df.to_parquet(os.path.join(path, part))
    return d["variant"]


def corrupt_interactive(res):
    """Change one returned row of the first kNN, MATCH and table read."""
    out = res["plan"]["out_dir"]
    reqs = res["plan"]["requests"]
    lines = open(os.path.join(out, "requests.jsonl")).read().splitlines()
    hit = []
    for n, line in enumerate(lines):
        d = json.loads(line)
        op = reqs[d["i"]]["op"]
        if op in ("knn_exact", "match_nl", "point") and d["rows"] and op not in hit:
            d["rows"][0][0] += 1
            lines[n] = json.dumps(d)
            hit.append(op)
    with open(os.path.join(out, "requests.jsonl"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return hit


def main():
    t0 = time.time()
    try:
        java, _, _ = run.build(t0 + run.BUILD_LIMIT_S)
    except run.BenchError as e:
        print(f"smoke: {e}")
        return 1
    ok = True
    for wl in ("olap", "interactive"):
        res = run.execute(wl, 1, 3, 0, java, time.time() + run.RUN_LIMIT_S,
                          scale=SMOKE_SCALE[wl], keep=True)
        try:
            good = run.passed(res)
            print(f"{wl}: {len(res['done'])} requests, correct={good}")
            ok &= good
            what = corrupt_olap(res) if wl == "olap" else corrupt_interactive(res)
            again = run.collect(res["plan"], res["frames"], res["ctx"])
            caught = [b for b in again["bad"] if b is not None]
            expect = 1 if wl == "olap" else len(what)
            print(f"{wl}: corrupted {what}; checker rejected {len(caught)} result(s)")
            for b in caught:
                print(f"  rejected: {b[:160]}")
            ok &= bool(caught) and not run.passed(again) and len(caught) >= expect
        finally:
            shutil.rmtree(res["work"], ignore_errors=True)
    print("smoke:", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
