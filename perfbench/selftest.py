#!/usr/bin/env python3
"""Checker self-test: every workload's checker must reject a planted wrong
output.

    python3 perfbench/selftest.py [--seed N]

Runs each workload once (as run.py does, with the same build), confirms its
checker accepts the engine's real outputs, then plants one wrong output per
workload and fails unless the checker rejects it:

  curate    the exact-dedup result missing one survivor
  retrieve  the ids of one ANN path shifted by one
  ingest    a merged table holding one superseded row, and a DLQ missing
            one corrupt record

Exits 0 when every planted output is rejected, 1 otherwise.
"""
import argparse
import copy
import glob
import json
import os
import shutil
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run    # noqa: E402


def curate_plants(indir, outdir, record):
    oracle = check.result_oracle(outdir)
    outputs = {n: check.read_parquet_dir(os.path.join(outdir, n)) for n in oracle}
    yield "real outputs", outputs, False
    bad = dict(outputs)
    bad["q40_exact_dedup"] = outputs["q40_exact_dedup"].iloc[1:]
    yield "exact dedup missing one survivor", bad, True


def retrieve_plants(indir, outdir, record):
    outputs = {}
    for f in glob.glob(os.path.join(outdir, "*.jsonl")):
        with open(f) as fh:
            outputs[os.path.basename(f)[:-6]] = [json.loads(l) for l in fh if l.strip()]
    yield "real outputs", outputs, False
    for path in ("ivf_adaptive", "exact"):
        bad = copy.deepcopy(outputs)
        for r in bad[path]:
            r["vec_id"] += 1
        yield "%s ids shifted by one" % path, bad, True


def ingest_plants(indir, outdir, record):
    outputs = {k: check.read_parquet_dir(os.path.join(outdir, k))
               for k in ("raw", "dlq", "final", "changes")}
    yield "real outputs", outputs, False
    # the superseded row: the base version of a key a landing file re-issued
    with open(os.path.join(indir, "base.json")) as f:
        base = {r["cveMetadata"]["cveId"]: r for r in map(json.loads, f)}
    reissued = [json.loads(l)["cveMetadata"]["cveId"]
                for l in record["landing"][0]["good"]]
    old = check.extract(base[next(c for c in reissued if c in base)])
    final = outputs["final"].copy()
    i = final.index[final["cve_id"] == old[0]][0]
    for col, v in zip(check.TABLE_COLS, old):
        if col.startswith("date_"):
            v = pd.Timestamp(v, unit="us")   # written as naive UTC
        final.at[i, col] = v
    yield "merged table holding one superseded row", dict(outputs, final=final), True
    yield ("DLQ missing one corrupt record",
           dict(outputs, dlq=outputs["dlq"].iloc[1:]), True)


PLANTS = {"curate": (curate_plants, check.check_curate_outputs),
          "retrieve": (retrieve_plants, check.check_retrieve_outputs),
          "ingest": (ingest_plants, check.check_ingest_outputs)}


def main():
    ap = argparse.ArgumentParser(description="checker self-test")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    root = os.getcwd()
    b = run.build(root)
    ok = True
    for workload, (plants, checker) in PLANTS.items():
        work = os.path.join(HERE, ".work", "selftest-%s-%d" % (workload, os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            _, record, indir, outdir = run.run_jvm(b, workload, a.seed, 10, 0, work)
            known = record if workload == "ingest" else check.result_oracle(outdir)
            for what, outputs, planted in plants(indir, outdir, record):
                probs, _ = checker(indir, outputs, known)
                passed = bool(probs) == planted
                ok &= passed
                print("%s %s: %s: %s" % ("PASS" if passed else "FAIL", workload, what,
                      probs[0] if probs else "accepted"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print("every planted output rejected" if ok else "SELF-TEST FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
