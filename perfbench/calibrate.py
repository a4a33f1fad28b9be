#!/usr/bin/env python3
"""Rebuild the benchmark's query pools and expected row hashes.

    python3 perfbench/calibrate.py

Runs the candidate queries once each on the generated tables (sf0.001: the
queries under 1 s in the calm sf0.001 record ``bench_details.json`` plus
the heavy candidates; sf0.1: the heavy candidates, the slowest queries of
``bench_details_sf01.json``), compares every output with its DuckDB
oracle, and writes ``calibration.json``: the two candidate lists and, per
scale and query, the status, the measured time, the oracle's canonical
row hash, the parquet bytes of the result, whether the query builds
``io.Staged`` bases and how long building them took (measured for the
queries the previous calibration found staged). ``run.py`` derives its pools (the candidates whose
output matched the oracle, with their times) and the expected hashes from
it. Rerun after a change to the generator (``datagen.py``) or to the
query registry.
"""
import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402

HEAVY_CANDIDATES = 20


def calibrate(sf, queries, cp_file):
    run_dir = os.path.join(run.WORK, "calibrate", f"sf{sf}-{int(time.time())}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    data = run.tables_dir(sf)
    known = (run.load_pools()["staged"][f"sf{sf}"]
             if os.path.exists(run.CALIBRATION) else {})
    spec = {"workload": "calibrate", "data_dir": data, "queries": queries,
            "stage_queries": [q for q in queries if q in known], "run_dir": run_dir,
            "cores": run.cores(), "trace": False, "seed": 0,
            "op_budget_s": 180.0, "record_staged": True}
    result = run.launch(spec, cp_file, 3600.0)
    con = check.connect(data)
    oracles = check.load_oracles(run.ROOT)
    out = {}
    for op in result["ops"]:
        q = op["name"]
        rec = {"seconds": op["seconds"], "status": op["status"],
               "staged": result.get("staged", {}).get(q, 0),
               "stage_seconds": result.get("stage_seconds", {}).get(q, 0.0)}
        if op["status"] == "ok":
            out_dir = os.path.join(run_dir, "out", q)
            got = check.output_hash(con, out_dir)
            rec["bytes"] = run.dir_stats(out_dir, ".parquet")[1]
            try:
                want = check.oracle_hash(con, oracles[q])
            except Exception as e:  # an oracle DuckDB cannot run
                want = None
                rec["status"] = f"oracle error: {type(e).__name__}"
            rec["hash"] = want
            if want is not None and got != want:
                rec["status"] = "wrong"
        else:
            rec["message"] = op["message"]
        out[q] = rec
        print(f"{q:45s} {rec['status']:8s} {op['seconds']:.2f}", flush=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma list: sf0.001,sf0.1")
    args = ap.parse_args()
    cp_file = run.ensure_built()
    with open(os.path.join(run.ROOT, "bench_details.json")) as f:
        rec001 = json.load(f)["queries"]
    with open(os.path.join(run.ROOT, "bench_details_sf01.json")) as f:
        rec01 = json.load(f)["queries"]
    short = sorted(q for q, t in rec001.items() if 0 <= t < 1.0)
    heavy = sorted(rec01, key=lambda q: -rec01[q])[:HEAVY_CANDIDATES]

    calib = {}
    if os.path.exists(run.CALIBRATION):
        with open(run.CALIBRATION) as f:
            calib = json.load(f)
    calib["candidates"] = {"short": short, "heavy": heavy}
    only = set(filter(None, args.only.split(",")))
    if not only or "sf0.001" in only:
        calib["sf0.001"] = calibrate(0.001, sorted(set(short) | set(heavy)), cp_file)
    if not only or "sf0.1" in only:
        calib["sf0.1"] = calibrate(0.1, heavy, cp_file)
    with open(run.CALIBRATION, "w") as f:
        json.dump(calib, f, indent=1, sort_keys=True)

    pools = run.load_pools()
    bad = {sf: {q: r["status"] for q, r in calib[sf].items() if r["status"] != "ok"}
           for sf in ("sf0.001", "sf0.1")}
    print(json.dumps({"short": len(pools["short"]), "heavy": len(pools["heavy"]),
                      "staged": len(pools["staged"]["sf0.001"]), "not_ok": bad}, indent=1))


if __name__ == "__main__":
    main()
