#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (each one closed-loop client on ``local[<cores>]``):

* ``short_queries`` - a seeded, time-stratified sample of registered queries
  that take under 1 s in the calm sf0.001 record, each constructed and run
  once through the noop sink after an untimed warmup, at sf0.001.
* ``heavy_queries`` - a seeded, time-stratified sample of the slowest
  registered queries of the sf0.1 record, run the same way at sf0.1.
* ``medallion`` - the raw -> curated -> serving -> versioned-lakehouse
  pipeline on CSV / JSON-lines inputs generated from the seed, at the
  reference pipeline's documented input scale times one factor.

``--seconds`` sizes the work (queries per sample, the medallion scale
factor): the same seed and seconds always give the same work. Every output
is checked. The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it holds the run
context; ``.work/runs/<run>/record.json`` holds the full record.

The engine and the harness are built from source with sbt on first use
(``perfbench/build.sbt``); inputs and run directories live under
``perfbench/.work``.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CALIBRATION = os.path.join(HERE, "calibration.json")
sys.path.insert(0, HERE)

WORKLOADS = ("short_queries", "heavy_queries", "medallion")
SHORT_SF, HEAVY_SF = 0.001, 0.1
# Nominal cost per unit of work on 4 cores, used only to size the work
# from --seconds (never from a measurement of the current run).
SHORT_QUERY_S = 0.8
HEAVY_QUERY_S = 3.0
# Medallion inputs are the reference pipeline's documented scale
# (BASELINE.md: CO2 feed 100,000 rows/year over 2017-2019 plus a 2020
# batch; WDI about 380,000 rows x 61 year columns) times one scale-down
# factor, MEDALLION_SCALE_PER_S per second of --seconds (0.05 at 30 s).
# The WDI rows are split into countries x indicators with the countries
# scaled by the square root of the factor (the WDI CSV lists 266 countries
# and aggregates).
CO2_ROWS_PER_YEAR = 100_000
CO2_YEARS = 4
WDI_ROWS = 380_000
WDI_COUNTRIES = 266
MEDALLION_SCALE_PER_S = 0.05 / 30
OP_BUDGET_S = {"short_queries": 60.0, "heavy_queries": 120.0,
               "medallion": 90.0}
JVM_TIMEOUT_S = 170.0
BUILD_TIMEOUT_S = 850.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def load_avg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cores():
    return len(os.sched_getaffinity(0))


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp_file
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.forcestart=false",
                      "compile", "writeClasspath"], cwd=HERE, env=env,
                     timeout=BUILD_TIMEOUT_S, out=sys.stderr)
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {rc})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return cp_file


def run_bounded(cmd, cwd, env, timeout, out):
    """Run cmd in its own process group; kill the whole group on timeout or
    interrupt, and wait until it has ended. Returns the exit code (None on
    timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=out,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


# ---- inputs ----------------------------------------------------------------

def tables_dir(sf):
    """Generated query tables for ``sf``, written once per checkout (they
    are a fixed function of sf and the generator source)."""
    import datagen
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"sf{sf}-{tag}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, sf)
        open(os.path.join(tmp, "_done"), "w").close()
        os.replace(tmp, d)
    return d


def dir_stats(d, suffix=""):
    files = [os.path.join(p, f) for p, _, fs in os.walk(d) for f in fs
             if f.endswith(suffix)]
    return len(files), sum(os.path.getsize(f) for f in files)


def table_rows(d):
    import pyarrow.parquet as pq
    from check import TABLES
    return sum(pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
               for t in TABLES)


def load_pools():
    """The query pools and expected outputs, derived from
    ``calibration.json``: a candidate is in its pool, with its calibrated
    time, when its output matched the oracle (a heavy one at both scales);
    ``staged`` maps, per scale, each query that builds io.Staged bases to
    its calibrated staging time; ``expected`` holds the oracle row hash and
    result bytes per scale and query."""
    with open(CALIBRATION) as f:
        calib = json.load(f)
    c1, c2 = calib["sf0.001"], calib["sf0.1"]
    ok = lambda c, q: c.get(q, {}).get("status") == "ok"
    return {
        "short": {q: c1[q]["seconds"] for q in calib["candidates"]["short"]
                  if ok(c1, q)},
        "heavy": {q: c2[q]["seconds"] for q in calib["candidates"]["heavy"]
                  if ok(c2, q) and ok(c1, q)},
        "staged": {sf: {q: r.get("stage_seconds", 0.0)
                        for q, r in calib[sf].items() if r.get("staged")}
                   for sf in ("sf0.001", "sf0.1")},
        "expected": {sf: {q: {"hash": r["hash"], "bytes": r["bytes"]}
                          for q, r in calib[sf].items() if ok(calib[sf], q)}
                     for sf in ("sf0.001", "sf0.1")},
    }


def balanced_sample(pool, staged, n, rng, tolerance=0.02, tries=5000):
    """A seeded sample of n queries that gives every seed the same expected
    work, so the seed does not move the totals. The queries that build
    io.Staged bases (``staged`` maps each to its calibrated staging time)
    are drawn apart from the others, in a fixed number: n times their share
    of the pool. Each part is cut into as many contiguous strata as it has
    picks, the staged part sorted by staging time and the rest by query
    time, and one query is drawn from each stratum, again until the
    calibrated query time and staging time of the sample are both within
    ``tolerance`` of their expected totals."""
    n = max(1, min(n, len(pool)))
    parts = [sorted((q for q in pool if q[0] in staged),
                    key=lambda q: (staged[q[0]], q[0])),
             sorted((q for q in pool if q[0] not in staged),
                    key=lambda q: (q[1], q[0]))]
    n_staged = min(len(parts[0]), int(round(n * len(parts[0]) / len(pool))))
    counts = [n_staged, n - n_staged]
    target = sum(k * sum(t for _, t in part) / len(part)
                 for part, k in zip(parts, counts) if k)
    stage_target = n_staged * sum(staged[q] for q, _ in parts[0]) / max(1, len(parts[0]))
    best = None
    for _ in range(tries):
        picks = []
        for part, k in zip(parts, counts):
            for i in range(k):
                lo, hi = (i * len(part)) // k, ((i + 1) * len(part)) // k
                picks.append(part[lo + rng.randrange(hi - lo)])
        err = abs(sum(t for _, t in picks) - target) / target
        if stage_target > 0:
            stage = sum(staged[q] for q, _ in picks[:n_staged])
            err = max(err, abs(stage - stage_target) / stage_target)
        if best is None or err < best[0]:
            best = (err, picks)
        if err <= tolerance:
            break
    picks = [q for q, _ in best[1]]
    rng.shuffle(picks)
    return picks


def query_spec(args, pools):
    short = args.workload == "short_queries"
    # heavy_queries at its minimum size runs at the short scale
    sf = SHORT_SF if short or args.seconds < 5 else HEAVY_SF
    pool = pools["short" if short else "heavy"]
    per = SHORT_QUERY_S if short else HEAVY_QUERY_S
    n = max(3 if short else 2, int(round(args.seconds / per)))
    rng = random.Random(f"{args.workload}:{args.seed}")
    staged = pools["staged"][f"sf{sf}"]
    sample = balanced_sample(list(pool.items()), staged, n, rng)
    data = tables_dir(sf)
    spec = {
        "workload": args.workload, "data_dir": data, "queries": sample,
        "stage_queries": [q for q in sample if q in staged],
    }
    n_files, n_bytes = dir_stats(data, ".parquet")
    inputs = {"sf": sf, "tables_dir": os.path.relpath(data, ROOT),
              "rows": table_rows(data), "bytes": n_bytes, "files": n_files}
    return spec, inputs


def medallion_spec(args, run_dir):
    import datagen
    scale = args.seconds * MEDALLION_SCALE_PER_S
    countries = max(5, int(round(WDI_COUNTRIES * scale ** 0.5)))
    m = datagen.write_medallion(
        os.path.join(run_dir, "in"), args.seed, n_batches=CO2_YEARS,
        countries=countries,
        indicators=max(2, int(round(WDI_ROWS * scale / countries))),
        co2_rows_per_year=max(100, int(round(CO2_ROWS_PER_YEAR * scale))))
    inj = m["injected"]
    n0 = m["wdi_rows"]
    curate = [n0, n0, n0 - inj["all_null"], n0 - inj["all_null"] - inj["duplicate"],
              n0 - inj["all_null"] - inj["duplicate"] - inj["bad_code"],
              m["wdi_valid_rows"]]
    rows, cum = [], 0
    for b in m["co2"]:
        cum += b["rows"]
        rows.append(cum)
    rows.append(cum)                                   # update
    rows.append(cum + 50)                              # upsert: 50 new ids
    rows.append(cum + 50 - m["pl_rows"] - m["pl_first50"])   # delete
    spec = {
        "workload": "medallion",
        "medallion": {"wdi": m["wdi"], "country": m["country"],
                      "co2": m["co2"], "years": m["years"]},
        "expect": {
            "curate_counts": curate,
            "country_rows": m["country_valid"],
            "serve_rows": len(m["years"]) * min(100, m["indicators"]),
            # periods 2000..2020 x regions x indicators
            "denorm_rows": 21 * m["regions_present"] * m["indicators"],
            "version_rows": rows,
            "scan_rows": m["co2"][1]["rows"] - m["pl_batch1"],
        },
    }
    inputs = {"scale": scale, "rows": m["input_rows"], "bytes": m["input_bytes"],
              "wdi_rows": m["wdi_rows"], "co2_rows": m["co2_rows"],
              "co2_batches": len(m["co2"]), "injected": inj}
    return spec, inputs


def launch(spec, cp_file, timeout, stage_dir=None):
    """Run the harness JVM on ``spec`` and return its result. With
    ``stage_dir`` the io.Staged root is pinned there for the whole run."""
    run_dir = spec["run_dir"]
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f, indent=1)
    with open(cp_file) as f:
        cp = f.read().strip()
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{mem}", f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main", spec_path]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_STAGE_DIR", None)
    if stage_dir:
        os.makedirs(stage_dir, exist_ok=True)
        env["SPARK_GRAFT_STAGE_DIR"] = stage_dir
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        rc = run_bounded(cmd, cwd=run_dir, env=env, timeout=max(timeout, 30.0),
                         out=jlog)
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        die(f"benchmark JVM failed (exit {rc}); see {run_dir}/jvm.log", 1)
    with open(res_path) as f:
        return json.load(f)


# ---- checks and metrics --------------------------------------------------------

def check_queries(result, spec, expected, overrides):
    import check
    sf_key = os.path.basename(spec["data_dir"]).split("-")[0]
    kept = expected.get(sf_key, {})
    want_map = {q: e["hash"] for q, e in kept.items()}
    want_map.update(overrides)
    con = check.connect(spec["data_dir"])
    for op in result["ops"]:
        if op["status"] != "ok":
            continue
        q = op["name"]
        got = check.output_hash(con, os.path.join(spec["run_dir"], "out", q))
        want = want_map.get(q)
        if want is None:
            op["status"] = "wrong"
            op["message"] = "no expected row hash: rerun perfbench/calibrate.py"
        elif got != want:
            op["status"] = "wrong"
            op["message"] = ("no output" if got is None
                             else f"row hash {got[:12]} != expected {want[:12]}")
    # bytes of the results written, relative to what the same queries wrote
    # at calibration
    ran = [o["name"] for o in result["ops"]]
    want_bytes = sum(kept.get(q, {}).get("bytes", 0) for q in ran)
    got_bytes = dir_stats(os.path.join(spec["run_dir"], "out"), ".parquet")[1]
    return got_bytes / want_bytes if want_bytes else 0.0


def percentile(xs, p):
    """Nearest-rank percentile: always the latency of one operation, never
    an interpolation between two unrelated ones."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(p * len(xs)) - 1)] if xs else 0.0


END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "success_rate": "ratio",
    "op_p50_s": "s", "op_p90_s": "s", "throughput_rows_per_s": "rows/s",
    "lake_bytes_per_input_byte": "ratio"}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect", action="append", default=[],
                    metavar="QUERY=HASH",
                    help="override the expected row hash of a query")
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops the JVM it started (run_bounded's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) and
            os.path.isfile(os.path.join(ROOT, "oracle_sql.json"))):
        die(f"engine sources not found under {ROOT}: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")

    cp_file = ensure_built()
    pools = load_pools()

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-"
                           f"t{args.trace}-{int(time.time() * 1000)}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    n_cores = cores()
    load0 = load_avg()

    t_gen = time.time()
    if args.workload == "medallion":
        spec, inputs = medallion_spec(args, run_dir)
    else:
        spec, inputs = query_spec(args, pools)
    gen_s = time.time() - t_gen
    spec.update({"run_dir": run_dir, "cores": n_cores,
                 "trace": bool(args.trace), "seed": args.seed,
                 "op_budget_s": OP_BUDGET_S[args.workload]})

    stage_dir = os.path.join(run_dir, "stage")
    t_jvm = time.time()
    result = launch(spec, cp_file, JVM_TIMEOUT_S - (time.time() - t_start),
                    stage_dir)
    jvm_s = time.time() - t_jvm

    if args.workload != "medallion":
        overrides = dict(e.split("=", 1) for e in args.expect)
        bytes_ratio = check_queries(result, spec, pools["expected"], overrides)
    else:
        bytes_ratio = dir_stats(os.path.join(run_dir, "lake"))[1] / inputs["bytes"]

    ops = result["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if o["status"] != "ok")
    wall = result["wall_s"]
    times = [o["seconds"] for o in ops]
    end_to_end = {
        "setup_s": result["setup_s"],
        "wall_s": wall,
        "success_rate": (attempted - failed) / max(attempted, 1),
        "op_p50_s": percentile(times, 0.5),
        "op_p90_s": percentile(times, 0.9),
        "throughput_rows_per_s": inputs["rows"] / wall if wall > 0 else 0.0,
        "lake_bytes_per_input_byte": bytes_ratio,
    }
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": n_cores, "master": result["master"],
        "load_avg_start": load0, "load_avg_end": load_avg(),
        "inputs": inputs, "input_gen_s": gen_s,
        "sample": spec.get("queries"),
        "staged_queries": spec.get("stage_queries"),
        "staged_dirs": dir_stats(stage_dir, "_graft_staged")[0],
        "error_rate": failed / max(attempted, 1),
        "ops_beyond_p90": sum(1 for t in times if t > end_to_end["op_p90_s"]),
        "failures": [{k: o[k] for k in ("name", "status", "error_class", "message")}
                     for o in ops if o["status"] != "ok"],
    }
    context["harness_s"] = {"jvm": jvm_s, "total": time.time() - t_start,
                            "phases": result.get("phases", {})}
    for k in ("curate_counts", "files_read", "live_files"):
        if k in result:
            context[k] = result[k]
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in end_to_end.items()}
    record = {"context": context, "end_to_end": end_to_end, "ops": ops,
              "layers": result.get("layers", {})}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for sub in ("out", "lake", "in", "stage", "spark-local", "warehouse",
                "tmp", "warm"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
