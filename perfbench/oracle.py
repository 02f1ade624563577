"""Correctness check of saved query results against graft's DuckDB oracles.

The harness saves each query op's warm-up result as parquet. Each result
is compared with the op's oracle SQL (`QueryDef.oracle`, the same SQL
`SparkEntry.oracleSql` exposes) run by DuckDB over the same input tables:
the column names, the row count and an order-insensitive hash of the rows
must all match. Numbers compare by value (5 equals 5.0, as in the repo's
own oracle gate), timestamps in UTC. An op without an oracle passes when
its result is readable; its row count and hash are still recorded.
"""
import datetime
import decimal
import hashlib
import json
import math
from pathlib import Path

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    """A canonical, hashable, printable form of one value."""
    if v is None or isinstance(v, (bool, str, bytes)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, int) and abs(v) >= 2 ** 53:
            return str(v)
        f = float(v)
        if math.isnan(f):
            return "nan"
        return repr(f + 0.0)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return repr(v)


def digest(columns, rows):
    """(sorted column names, row count, order-insensitive row hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return [columns[i] for i in order], len(rows), h.hexdigest()


def _fetch(con, sql):
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


def _connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{Path(sf_dir, t + '.parquet')}'")
    return con


def expected(con, sql, sf_dir, cache_dir):
    """The oracle's digest. It depends only on the SQL and the inputs, so
    it is computed once per checkout and cached under `cache_dir`."""
    key = hashlib.sha256(f"{Path(sf_dir).resolve()}\n{sql}".encode()).hexdigest()
    f = Path(cache_dir, key + ".json")
    if f.exists():
        return tuple(json.loads(f.read_text()))
    want = digest(*_fetch(con, sql))
    f.parent.mkdir(parents=True, exist_ok=True)
    f.write_text(json.dumps(want))
    return want


def check_results(results_dir, oracles, sf_dir, cache_dir, corrupt=False):
    """name -> {"rows", "hash", "oracle", "error"} for every saved
    result. With `corrupt`, each oracle's expected result is altered (one
    row fewer, another hash), so every oracle-checked op must fail: the
    self-test uses it to prove the check bites.
    """
    results_dir = Path(results_dir)
    if not results_dir.is_dir():
        return {}
    con = _connect(sf_dir)
    out = {}
    for d in sorted(p for p in results_dir.iterdir() if p.is_dir()):
        name = d.name
        entry = {"oracle": name in oracles, "error": None}
        try:
            cols, rows = _fetch(con, f"SELECT * FROM read_parquet('{d}/*.parquet')")
        except Exception as e:  # unreadable result: the op failed
            entry["error"] = f"result unreadable: {e}"
            out[name] = entry
            continue
        got = digest(cols, rows)
        entry.update(rows=got[1], hash=got[2])
        if name in oracles:
            try:
                want = expected(con, oracles[name], sf_dir, cache_dir)
            except Exception as e:
                entry["error"] = f"oracle failed: {e}"
                out[name] = entry
                continue
            if corrupt:
                want = (want[0], want[1] - 1, hashlib.sha256(want[2].encode()).hexdigest())
            if got[0] != list(want[0]):
                entry["error"] = f"columns {got[0]} != oracle {want[0]}"
            elif got[1] != want[1]:
                entry["error"] = f"{got[1]} rows != oracle {want[1]}"
            elif got[2] != want[2]:
                entry["error"] = "row hash differs from the oracle's"
        out[name] = entry
    con.close()
    return out
