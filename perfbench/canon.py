"""Canonical result hash, the Python twin of perfbench.Canon (Scala).

Columns in name order; a row is its value tokens joined by U+001F. Integral
numbers below 1e15 print as integers (so 5, 5.0 and Decimal('5.000') agree
across engines); other floats are "d" + the hex of their IEEE-754 double
bits. Timestamps are epoch microseconds, dates epoch days, NULL is U+0000N,
lists [..], structs (..). The hash is "<rows>:<hex sum of the first 8 bytes
of each row's SHA-256 mod 2^64>": independent of row order, duplicates kept.
"""
import datetime
import decimal
import hashlib
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def num(d):
    if d != d:
        return "nan"
    if d in (float("inf"), float("-inf")):
        return "inf" if d > 0 else "-inf"
    if d == int(d) and abs(d) < 1e15:
        return str(int(d))
    return "d" + format(struct.unpack(">Q", struct.pack(">d", d))[0], "x")


def token(v):
    if v is None:
        return "\u0000N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value() and abs(v) < 10 ** 15:
            return str(int(v))
        return num(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        delta = v - (_EPOCH_TZ if v.tzinfo else _EPOCH)
        return str((delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return str((v - _EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "(" + ",".join(token(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(token(x) for x in v) + "]"
    return str(v)


def row_string(order, row):
    return "\u001f".join(token(row[i]) for i in order)


def result_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for r in rows:
        d = hashlib.sha256(row_string(order, r).encode("utf-8")).digest()
        acc = (acc + int.from_bytes(d[:8], "big")) % (1 << 64)
    return f"{len(rows)}:{acc:x}"


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_hashes(data_dir, oracle_sql, names):
    """Runs each query's DuckDB oracle over the generated tables and returns
    {name: canonical hash}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        cur = con.execute(oracle_sql[name])
        cols = [d[0] for d in cur.description]
        out[name] = result_hash(cols, cur.fetchall())
    con.close()
    return out
