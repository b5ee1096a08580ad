"""Seeded input generators for the benchmark.

Two families:

* ``write_tables`` — the ten engine tables (TPC-H-ish star schema, the
  ``events`` stream table and the ``documents``/``embeddings`` curation
  tables) as one parquet file each, with the column types and value
  shapes the declared queries are written against (FIXTURES.md §B).
* ``encounter_files`` — encounter-shaped CSV objects for the ingest
  workload, with a seeded share of malformed lines whose expected
  routing (curated, unparseable, missing-required) is returned alongside.

Everything is a pure function of its arguments: the same seed gives
byte-identical output.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["ring", "plate", "gizmo", "widget", "gear", "rod", "bolt", "anvil"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "purchase", "error", "view"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
US_PER_DAY = 86_400_000_000


def _days(start, end, n, rng):
    """n midnight timestamps, uniform over [start, end], as datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start, "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, tagged "dup" as the
            # fixture corpus tags its planted duplicates
            words = texts[int(rng.integers(0, i))].split(" ")
            words = [w for w in words if w != "dup"]
            k = int(rng.integers(0, 3))
            for _ in range(k):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            m = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), m)))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def make_tables(sf, seed):
    """The ten engine tables at scale factor ``sf`` as pyarrow tables."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, nc)])})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npt = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npt), rng.integers(0, 8, npt))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, npt)]),
        "p_type": pa.array([PTYPES[j] for j in rng.integers(0, 6, npt)]),
        "p_size": pa.array(rng.integers(1, 51, npt).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npt) % 1000) * 0.1, 1))})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array([["F", "O", "P"][j] for j in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), no, rng)),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, no)])})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npt, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][j] for j in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([["F", "O"][j] for j in rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl, rng))})
    ne = n["events"]
    gaps = rng.exponential(30 * US_PER_DAY / ne, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), ne).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, ne)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32))})
    return t


def write_tables(out_dir, sf, seed):
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns the dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return out_dir


# ---------------------------------------------------------------- ingest CSV

ENCOUNTER_HEADER = "patient_id,encounter_id,encounter_ts,diagnosis,provider,amount,los_days"
DIAGNOSES = ["I10", "E11.9", "J45.909", "M54.5", "F32.9", "K21.9", "N39.0",
             "R51", "J06.9", "E78.5", "I25.10", "Z00.00"]
REQUIRED = ["patient_id", "encounter_id", "encounter_ts", "amount"]


def encounter_files(seed, n_files, rows_per_file, malformed_frac, id_offset=0):
    """``n_files`` encounter CSV objects (header + ``rows_per_file`` lines).

    Returns ``(files, expect)``: ``files`` is a list of bytes objects and
    ``expect`` counts the lines by routing — ``rows`` (all data lines),
    ``valid`` (parse and satisfy the required columns), ``unparseable``
    (a numeric or timestamp field that does not parse) and
    ``missing_required`` (an empty required field).
    """
    rng = np.random.default_rng(seed)
    files = []
    expect = {"rows": 0, "valid": 0, "unparseable": 0, "missing_required": 0}
    base = np.datetime64("2026-01-01T00:00:00", "s")
    for f in range(n_files):
        n = rows_per_file
        ids = id_offset + f * n + np.arange(n)
        patients = rng.integers(0, 50_000, n)
        secs = rng.integers(0, 180 * 86_400, n)
        diag = rng.integers(0, len(DIAGNOSES), n)
        prov = rng.integers(0, 400, n)
        cents = rng.integers(1_000, 2_500_000, n)
        los = rng.integers(0, 30, n)
        kind = rng.random(n)
        which = rng.integers(0, 4, n)
        lines = [ENCOUNTER_HEADER]
        for i in range(n):
            ts = str(base + np.timedelta64(int(secs[i]), "s")).replace("T", " ")
            row = [f"P{patients[i]:06d}", f"E{ids[i]:09d}", ts,
                   DIAGNOSES[diag[i]], f"PRV{prov[i]:04d}",
                   f"{cents[i] // 100}.{cents[i] % 100:02d}", str(los[i])]
            if kind[i] < malformed_frac / 2:
                # unparseable: a typed field carries text
                j = [2, 5, 6, 5][which[i]]
                row[j] = ["not-a-date", "N/A", "x7", "12.3.4"][which[i]]
                expect["unparseable"] += 1
            elif kind[i] < malformed_frac:
                # missing required: an empty required field
                row[[0, 1, 2, 5][which[i]]] = ""
                expect["missing_required"] += 1
            else:
                expect["valid"] += 1
            lines.append(",".join(row))
        expect["rows"] += n
        files.append(("\n".join(lines) + "\n").encode())
    return files, expect
