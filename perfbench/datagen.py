"""Input generators for the benchmark.

Two families:

* ``write_tables(dir, sf)`` writes the ten TPC-H-ish parquet tables the
  registered queries read (region, nation, customer, supplier, part,
  orders, lineitem, events, documents, embeddings) at scale factor ``sf``.
  The tables are a fixed function of ``sf`` (data seed ``TABLE_SEED``), so
  the expected query results kept in ``calibration.json`` stay valid; the
  workload seed only picks which queries run.
* ``write_medallion(dir, seed, ...)`` writes the medallion pipeline's raw
  inputs from the workload seed: a WDI-shaped wide CSV with injected
  all-null, duplicate, bad-code and bad-series rows, a country CSV, and
  CO2-shaped JSON-lines batches, one per year (the last adds a column).
  It returns the injected counts the pipeline output is checked against.

numpy + pyarrow only; every value comes from a seeded ``default_rng``.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
WORDS = ["scan", "column", "window", "order", "sort", "part", "agg", "value",
         "line", "key", "join", "merge", "query", "group", "a", "vector",
         "hash", "slow", "stream", "filter", "fast", "the", "spark", "batch",
         "table", "small", "data", "big", "customer", "row"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000


def _days(start, n_days, size, rng):
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    d = rng.integers(0, n_days + 1, size)
    return pa.array(base + d * DAY_US, pa.timestamp("us"))


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def table_sizes(sf):
    s = sf / 0.001
    return {
        "customer": int(round(150 * s)), "supplier": int(round(10 * s)),
        "part": int(round(200 * s)), "orders": int(round(1500 * s)),
        "lineitem": int(round(6000 * s)), "events": int(round(1000 * s)),
        "documents": max(500, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
        "users": max(15, int(round(15 * s))),
    }


def write_tables(dir_, sf):
    """Write the ten query tables for scale factor ``sf`` into ``dir_``."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([TABLE_SEED, int(round(sf * 1e6))])
    n = table_sizes(sf)

    _write(dir_, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})

    ns = n["supplier"]
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    np_ = n["part"]
    keys = np.arange(np_)
    _write(dir_, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, np_),
                                               rng.choice(NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    no = n["orders"]
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days("1995-01-01", 2404, no, rng),
        "o_orderpriority": rng.choice(PRIORITIES, no)})

    nl = n["lineitem"]
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days("1995-01-02", 2498, nl, rng)})

    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne)) + t0
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and i % 20 == 5:
            # near-duplicate of an earlier document: two tokens swapped
            # out, plus a marker token
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks = [t for t in toks if t != "dup"]
            for j in rng.integers(0, len(toks), 2):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.5, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---- medallion inputs ------------------------------------------------------

YEARS = list(range(1960, 2021))
MEMBER_STATES = ["AT", "BE", "DE", "DK", "ES", "FI", "FR", "IE", "IT", "NL",
                 "PL", "PT", "SE"]
MAKERS = ["BMW", "FERRARI", "FIAT", "FORD", "KIA", "RENAULT", "SKODA",
          "TOYOTA", "VOLVO"]


def _csv_field(v):
    if v is None:
        return ""
    s = str(v)
    return '"' + s.replace('"', '""') + '"' if ("," in s or '"' in s) else s


def write_medallion(dir_, seed, n_batches=4, countries=40, indicators=30,
                    co2_rows_per_year=2000):
    """Write the medallion inputs for ``seed`` and return their manifest:
    paths, row and byte counts, and the injected bad-row counts."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([7, seed])
    codes = sorted({"".join(rng.choice(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"), 3))
                    for _ in range(countries * 3)})[:countries]
    series = [f"SER.{i:03d}.{j}" for i, j in
              zip(range(indicators), rng.integers(10, 99, indicators))]

    rows = []
    for c in codes:
        for s in series:
            vals = np.round(rng.normal(100.0, 40.0, len(YEARS)), 3)
            mask = rng.random(len(YEARS)) < 0.1
            rows.append([f"Country {c}", c, f"Indicator {s}", s] +
                        [None if m else float(v) for v, m in zip(vals, mask)])
    n_valid = len(rows)
    n_dup = max(1, n_valid // 50)
    n_null = max(1, n_valid // 80)
    n_bad_code = max(1, n_valid // 60)
    n_bad_series = max(1, n_valid // 70)
    dups = [list(rows[int(i)]) for i in rng.choice(n_valid, n_dup, replace=False)]
    nulls = [[None] * (4 + len(YEARS)) for _ in range(n_null)]
    bad_code = []
    for i in range(n_bad_code):
        r = list(rows[int(rng.integers(0, n_valid))])
        r[1] = r[1][:2]  # 2-letter code: fails the 3-char validity rule
        r[0] = f"Bad {i}"
        bad_code.append(r)
    bad_series = []
    for i in range(n_bad_series):
        r = list(rows[int(rng.integers(0, n_valid))])
        r[3] = f"BAD SER {i}"  # embedded space: fails the series rule
        bad_series.append(r)
    allrows = rows + dups + nulls + bad_code + bad_series
    order = rng.permutation(len(allrows))
    header = ["Country Name", "Country Code", "Indicator Name",
              "Indicator Code"] + [str(y) for y in YEARS]
    wdi = os.path.join(dir_, "wdi.csv")
    with open(wdi, "w") as f:
        f.write(",".join(header) + "\n")
        for i in order:
            f.write(",".join(_csv_field(v) for v in allrows[int(i)]) + "\n")

    country = os.path.join(dir_, "country.csv")
    regions = ["Europe", "Asia", "Africa", "Americas"]
    incomes = ["High", "Upper middle", "Lower middle", "Low"]
    region_of = {c: regions[int(rng.integers(0, 4))] for c in codes}
    with open(country, "w") as f:
        f.write("Country Code,2-alpha code,Currency Unit,Region,Income Group\n")
        for c in codes:
            f.write(f"{c},{c[:2]},Unit {c},{region_of[c]},"
                    f"{incomes[int(rng.integers(0, 4))]}\n")
        f.write("WLD,1W,,,\n")  # aggregate row: null region
    n_country = len(codes) + 1

    co2_dir = os.path.join(dir_, "co2")
    os.makedirs(co2_dir, exist_ok=True)
    batches = []
    next_id = 0
    co2_years = [2017 + i for i in range(n_batches)]
    pl_rows = pl_first50 = pl_batch1 = 0
    for bi, y in enumerate(co2_years):
        n = co2_rows_per_year
        ms = rng.choice(MEMBER_STATES, n)
        mh = rng.choice(MAKERS, n)
        enedc = np.round(rng.uniform(80.0, 250.0, n), 1)
        ec = np.round(rng.uniform(900.0, 3000.0, n), 0)
        path = os.path.join(co2_dir, f"co2_{y}.jsonl")
        with open(path, "w") as f:
            for i in range(n):
                rec = {"ID": next_id + i, "MS": str(ms[i]), "Mh": str(mh[i]),
                       "year": y, "Enedc (g/km)": float(enedc[i]),
                       "ec (cm3)": float(ec[i])}
                if y == co2_years[-1]:
                    rec["Enedc (g/km) V2"] = float(enedc[i]) + 0.5
                f.write(json.dumps(rec) + "\n")
        pl = ms == "PL"
        pl_rows += int(pl.sum())
        if bi == 0:
            pl_first50 = int(pl[:50].sum())
        if bi == 1:
            pl_batch1 = int(pl.sum())
        batches.append({"year": y, "path": path, "rows": n,
                        "first_id": next_id})
        next_id += n

    inputs = [wdi, country] + [b["path"] for b in batches]
    return {
        "wdi": wdi, "country": country, "co2": batches,
        "wdi_rows": len(allrows), "wdi_valid_rows": n_valid,
        "injected": {"duplicate": n_dup, "all_null": n_null,
                     "bad_code": n_bad_code, "bad_series": n_bad_series},
        "country_rows": n_country, "country_valid": len(codes),
        "co2_rows": next_id, "years": YEARS, "co2_years": co2_years,
        "indicators": indicators,
        "regions_present": len(set(region_of.values())),
        "pl_rows": pl_rows, "pl_first50": pl_first50, "pl_batch1": pl_batch1,
        "input_rows": len(allrows) + n_country + next_id,
        "input_bytes": sum(os.path.getsize(p) for p in inputs),
    }
