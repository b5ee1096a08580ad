"""Compare a collected query result with its DuckDB oracle.

Normalisation follows ``tools/check_oracle.py``: columns sorted by name,
row order preserved, exact values, NaN compared as a token, lists as
tuples, and the same declared-type rule (integer on one side only, or any
DECIMAL readout, is a mismatch). Values the harness had to tag in JSON
(timestamps, dates, decimals, binaries, structs, maps) are brought to the
same form as DuckDB's Python values.
"""
import base64
import datetime as dt
import decimal
import json
import math

EPOCH = dt.datetime(1970, 1, 1)
INT_DUCK = {"TINYINT": 8, "SMALLINT": 16, "INTEGER": 32, "BIGINT": 64,
            "HUGEINT": 128, "UTINYINT": 8, "USMALLINT": 16, "UINTEGER": 32,
            "UBIGINT": 64}
INT_SPARK = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _micros(d):
    if d.tzinfo is not None:
        d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
    delta = d - EPOCH
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


def norm(v):
    """Canonical form of one value, from either side."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return ("ts", _micros(v))
    if isinstance(v, dt.date):
        return ("date", (v - EPOCH.date()).days)
    if isinstance(v, dt.timedelta):
        return ("us", (v.days * 86_400 + v.seconds) * 1_000_000 + v.microseconds)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("bin", base64.b64encode(bytes(v)).decode())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        if len(v) == 1:
            (tag, x), = v.items()
            if tag == "$ts":
                return ("ts", int(x))
            if tag == "$date":
                return ("date", int(x))
            if tag == "$us":
                return ("us", int(x))
            if tag == "$dec":
                return float(decimal.Decimal(x))
            if tag == "$bin":
                return ("bin", x)
            if tag == "$struct":
                return tuple(sorted((k, norm(y)) for k, y in x.items()))
            if tag == "$map":
                return ("map", tuple(sorted((repr(norm(k)), norm(y)) for k, y in x)))
        return tuple(sorted((k, norm(y)) for k, y in v.items()))
    return v


def norm_duck(v):
    """DuckDB MAP values arrive as dicts of key/value lists."""
    if isinstance(v, dict) and set(v) == {"key", "value"} and isinstance(v["key"], list):
        return ("map", tuple(sorted((repr(norm(k)), norm(x)) for k, x in zip(v["key"], v["value"]))))
    return norm(v)


def load_result(path):
    """(column names, Spark type strings, rows) from the harness's dump."""
    with open(path) as f:
        cols = json.loads(f.readline())
        rows = [json.loads(line) for line in f]
    return [c[0] for c in cols], [c[1] for c in cols], rows


def _type_mismatch(spark_t, duck_t):
    duck_t = duck_t.upper()
    s_w, d_w = INT_SPARK.get(spark_t), INT_DUCK.get(duck_t)
    if spark_t.startswith("decimal") or duck_t.startswith("DECIMAL"):
        return True
    if s_w is not None and d_w is None:
        return True
    return s_w is None and spark_t in ("double", "float") and d_w is not None


def compare(result_path, con, sql):
    """None when the dumped result equals DuckDB's answer to ``sql``,
    else a one-line reason."""
    s_cols, s_types, s_rows = load_result(result_path)
    try:
        rel = con.sql(sql)
        d_rows = rel.fetchall()
        d_cols, d_types = list(rel.columns), [str(t) for t in rel.types]
    except Exception as e:  # the oracle itself failed: not a pass
        return f"oracle SQL error: {str(e)[:160]}"
    if sorted(s_cols) != sorted(d_cols):
        return f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"row count differs: spark={len(s_rows)} duck={len(d_rows)}"
    order = sorted(s_cols)
    si = [s_cols.index(c) for c in order]
    di = [d_cols.index(c) for c in order]
    for n, (a, b) in enumerate(zip(s_rows, d_rows)):
        ra = tuple(norm(a[i]) for i in si)
        rb = tuple(norm_duck(b[i]) for i in di)
        if ra != rb:
            return f"row {n} differs: spark={str(ra)[:120]} duck={str(rb)[:120]}"
    bad = [c for c in order
           if _type_mismatch(s_types[s_cols.index(c)], d_types[d_cols.index(c)])]
    if bad:
        return f"declared types diverge on {bad}"
    return None
