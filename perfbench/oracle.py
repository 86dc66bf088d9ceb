"""Suite output check: each query's result, as the JVM dumped it, against
the DuckDB oracle SQL the engine ships for it (SparkEntry.oracleSql),
over the same generated corpus. Both sides are reduced to a digest of
their normalized rows, so the comparison is one string per query."""
import datetime
import decimal
import hashlib
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_cell(v):
    """One value as a canonical string: floats at 6 decimals (integral
    floats as integers), NULL and NaN alike, bytes as hex, sequences
    element-wise, timestamps in ISO form."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        s = f"{v:.6f}".rstrip("0").rstrip(".")
        return "0" if s == "-0" else s
    if isinstance(v, decimal.Decimal):
        return canon_cell(float(v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    return str(v)


def digest(columns, rows):
    """Order-insensitive digest of a result: columns sorted by name, each
    row rendered with canon_cell, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest(), len(lines)


def _result(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def check(data_dir, verify_dir, oracle_sql):
    """Names of the queries whose dumped result does not match its
    oracle (a missing dump counts as a mismatch)."""
    import duckdb
    with open(os.path.join(data_dir, "plan.json")) as fh:
        corpus = json.load(fh)["corpus"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        files = os.path.join(verify_dir, name, "*.parquet")
        try:
            got = digest(*_result(con, f"SELECT * FROM read_parquet('{files}')"))
            want = digest(*_result(con, sql))
        except Exception:  # noqa: BLE001 - any failure is a mismatch
            bad.append(name)
            continue
        if got != want:
            bad.append(name)
    return bad
