"""Order-insensitive result digest, and the DuckDB oracle cross-check of a
query pass: the harness writes each Spark result to parquet, and both that
parquet and the query's oracle SQL are read through DuckDB and digested
here, so one implementation renders the rows of both engines.

A row renders canonically with its columns sorted by name; the first 8
bytes of the row's SHA-256 are summed mod 2^64 over all rows. Row order
never changes the digest, while a changed, missing or extra row does.
"""
import datetime
import glob
import hashlib
import os
import struct

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = _EPOCH.replace(tzinfo=datetime.timezone.utc)


def _dbl(x):
    bits = struct.unpack(">q", struct.pack(">d", 0.0 if x == 0.0 else x))[0]
    return "d:" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")


def _micros(delta):
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def canon(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b:" + ("true" if v else "false")
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            return f"t:{_micros(v - _EPOCH)}"
        return f"t:{_micros(v - _EPOCH_TZ)}"
    if isinstance(v, datetime.date):
        return f"D:{(v - datetime.date(1970, 1, 1)).days}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(v[k])}" for k in sorted(v)) + "}"
    raise TypeError(f"digest: unsupported value {type(v).__name__}")


def row_hash(names, row):
    s = "{" + ",".join(f"{n}={canon(v)}" for n, v in sorted(zip(names, row))) + "}"
    return struct.unpack(">q", hashlib.sha256(s.encode()).digest()[:8])[0]


def digest(names, rows):
    """'<16 hex digits of the row-hash sum>:<row count>'."""
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash(names, r)) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return f"{total:016x}:{n}"


def parquet_digest(result_dir):
    """Digest of the parquet files one query result was written to (none
    for an empty result)."""
    import duckdb
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return digest([], [])
    con = duckdb.connect()
    try:
        rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        return digest(rel.columns, rel.fetchall())
    finally:
        con.close()


def oracle_digests(data_dir, oracle_sql):
    """Run each query's oracle SQL in DuckDB over the generated tables and
    digest the result; a failing SQL maps to an 'error: ...' string."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            rel = con.sql(sql)
            out[name] = digest(rel.columns, rel.fetchall())
        except Exception as e:  # reported as a disagreement, never dropped
            out[name] = f"error: {e}".splitlines()[0][:300]
    con.close()
    return out
