"""Expected result digests from the DuckDB oracle SQL of each registry query,
in the same canonical form the harness digests Spark's collected rows with
(perfbench/scala/perfbench/Harness.scala, object Digest): columns in name
order, floats rounded to 10 significant digits half-even, per-row SHA-256,
rows combined by a 64-bit sum, so row order does not matter."""
import datetime
import decimal
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_TEN = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)
_WIDE = decimal.Context(prec=80)
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _micros(delta):
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == 0:
            return "0"
        return format(_TEN.plus(decimal.Decimal(v)).normalize(_WIDE), "f")
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(_WIDE), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        epoch = _EPOCH if v.tzinfo is None else _EPOCH_TZ
        return str(_micros(v - epoch))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(canon(k) + ":" + canon(x) for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")
        n += 1
    head = hashlib.sha256("\x1f".join(sorted(columns)).encode("utf-8")).digest()[:4].hex()
    return "%d:%016x:%s" % (n, total % (1 << 64), head)


def oracle_digests(inputs_dir, sqls, tmp_dir):
    """{query name: digest} for each oracle SQL over the tables in inputs_dir;
    a query whose SQL fails maps to 'error: ...'."""
    import duckdb
    con = duckdb.connect(config={"threads": 4, "temp_directory": tmp_dir})
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = os.path.join(inputs_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(sqls.items()):
        try:
            rel = con.sql(sql)
            out[name] = digest(rel.columns, rel.fetchall())
        except Exception as e:  # a failing oracle fails the step, never the run
            out[name] = "error: %s" % str(e).splitlines()[0][:200]
    con.close()
    return out
