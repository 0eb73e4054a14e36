"""Result digests for the output checks.

Both sides are read through DuckDB: the declared oracle SQL
(`SparkEntry.oracleSql`) over the generated tables, and the parquet the
program wrote. Each row becomes a canonical tuple over the columns sorted
by name, and the digest is a hash of the sorted rows, so the comparison is
exact but does not depend on how Spark split its output into files.
"""
import datetime
import decimal
import hashlib
import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def components_digest(pairs_dir):
    """Digest of (node, component = min node id) over the pair graph in
    pairs_dir (columns id_a, id_b), by union-find: the reference for a
    direct connected-components build on that graph."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    con = _connect()
    for a, b in con.execute(
            f"SELECT id_a, id_b FROM read_parquet('{os.path.join(pairs_dir, '*.parquet')}')"
    ).fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return digest(["node", "component"], [(x, find(x)) for x in list(parent)])


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _digest(cursor):
    return digest([d[0] for d in cursor.description], cursor.fetchall())


def digest(names, rows):
    """Order-independent digest of a result: row count and a hash of the
    canonical rows over the columns sorted by name."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([names[i] for i in order]).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def oracle_digest(data_dir, sql):
    con = _connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return _digest(con.execute(sql))


def result_digest(result_dir):
    con = _connect()
    return _digest(con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(result_dir, '*.parquet')}')"))
