"""Output check: each query's rows from Spark against DuckDB's rows for
the oracle text on the same parquet files.

Rows are compared by count and by an order-insensitive hash of their
canonical form. Canonical values: numbers as doubles printed to 10
significant digits (so a different summation order cannot flip the
hash), timestamps as naive UTC ISO strings, dates as ISO dates.
"""
import datetime as dt
import hashlib
import json
import math
import re
from decimal import Decimal
from pathlib import Path

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_TS = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?"
                 r"(Z|[+-]\d{2}:?\d{2})?$")
_SPECIAL = {"NaN": math.nan, "Infinity": math.inf, "-Infinity": -math.inf}


def _ts(t: dt.datetime) -> str:
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return t.isoformat(timespec="microseconds")


def canon(v):
    """One value in the form both engines agree on."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, str) and v in _SPECIAL:
        v = _SPECIAL[v]
    if isinstance(v, (int, float, Decimal)):
        x = float(v)
        if math.isnan(x):
            return "nan"
        if math.isinf(x):
            return "inf" if x > 0 else "-inf"
        if x == int(x) and abs(x) < 2 ** 53:
            return str(int(x))
        return "%.10g" % x
    if isinstance(v, dt.datetime):
        return _ts(v)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, str):
        if _TS.match(v):
            return _ts(dt.datetime.fromisoformat(v.replace("Z", "+00:00")))
        return v
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items())}
    return str(v)


def digest(rows) -> tuple:
    """(row count, order-insensitive sha256) of rows given as value lists."""
    lines = sorted(json.dumps([canon(x) for x in r], sort_keys=True)
                   for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), h


def spark_rows(json_rows):
    """Spark rows serialized as {"c0": .., "c1": ..} objects."""
    out = []
    for s in json_rows:
        o = json.loads(s)
        out.append([o[f"c{i}"] for i in range(len(o))])
    return out


def _connect(data_dir: str, cache: dict):
    import duckdb
    if data_dir not in cache:
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            p = Path(data_dir) / f"{t}.parquet"
            src = f"{p}/*.parquet" if p.is_dir() else str(p)
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        cache[data_dir] = con
    return cache[data_dir]


def check_all(records):
    """Decide every check record; returns [(id, ok, detail)]."""
    cache = {}
    out = []
    for r in records:
        if r.get("oracle_sql") is None or not r["ok"]:
            out.append((r["id"], bool(r["ok"]), r.get("detail", "")))
            continue
        try:
            con = _connect(r["data_dir"], cache)
            want = digest(con.execute(r["oracle_sql"]).fetchall())
        except Exception as e:  # an oracle failure is a failed check
            out.append((r["id"], False, f"duckdb: {type(e).__name__}: {e}"[:300]))
            continue
        got = digest(spark_rows(r["rows"]))
        ok = got == want
        out.append((r["id"], ok, "" if ok else
                    f"rows spark={got[0]} duckdb={want[0]}, hash differs"))
    for con in cache.values():
        con.close()
    return out
