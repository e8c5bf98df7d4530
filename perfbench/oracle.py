"""DuckDB oracle answers as result fingerprints.

`fingerprint` is the Python half of `src/perfbench/Fingerprint.scala`
and must stay byte-for-byte in step with it: columns in name order, rows
as a multiset (the normalisation `tools/check.py` applies before its
exact compare), numbers as the exact decimal value of their double
image, timestamps to the microsecond. Answers depend only on the data
and the oracle SQL, so they are cached under the build directory keyed
by both.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _number(f):
    f = float(f)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "Inf" if f > 0 else "-Inf"
    if f == 0.0:
        return "0"
    # exact expansion: Decimal(float) is exact, but normalize() would
    # round to the context's 28 digits
    s = format(decimal.Decimal(f), "f")
    return s.rstrip("0").rstrip(".") if "." in s else s


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return _number(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(e) for e in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(e) for e in v.values()) + "}"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return f"{','.join(sorted(columns))}|{len(rows)}|{total % (1 << 64):x}"


def answers(data_dir, oracle_sql, cache_dir):
    """{query: fingerprint or 'error: ...'} for every query with oracle SQL."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256((os.path.abspath(data_dir) + "\0" + sql).encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)["fingerprint"]
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET TimeZone = 'UTC'")
            con.execute("SET threads = 2")
            con.execute(f"SET temp_directory = '{os.path.abspath(cache_dir)}/duckdb_tmp'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        try:
            rel = con.sql(sql)
            fp = fingerprint(rel.columns, rel.fetchall())
        except Exception as e:  # noqa: BLE001 - a broken oracle is reported, not fatal
            out[name] = f"error: {type(e).__name__}: {str(e)[:200]}"
            continue
        with open(path, "w") as f:
            json.dump({"query": name, "fingerprint": fp}, f)
        out[name] = fp
    return out


def bm25_topk(data_dir, terms, live_ids, k):
    """(doc_id, score) of the top `k` live documents by BM25, computed
    by DuckDB from the raw texts of the documents in `live_ids`: the
    scoring of the engine's `bm25OracleSql`, with N, the mean length
    and df taken over the live documents and the per-term weights
    summed in query-term order."""
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.register("live_ids", pa.table({"doc_id": pa.array(live_ids, pa.int64())}))
        tf = ",\n".join(
            f"CAST(len(list_filter(tk, x -> x = ?)) AS BIGINT) AS tf_{i}" for i in range(len(terms)))
        dfs = ",\n".join(f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(terms)))
        matched = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(terms)))
        score = "\n + ".join(
            f"""(((n_docs - df_{i}) + 0.5) / (df_{i} + 0.5))
                * ((CAST(tf_{i} AS DOUBLE) * 2.2)
                   / (CAST(tf_{i} AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                                              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"""
            for i in range(len(terms)))
        sql = f"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
              FROM '{data_dir}/documents.parquet'
              WHERE text IS NOT NULL AND doc_id IN (SELECT doc_id FROM live_ids)),
            tf AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, {tf} FROM tk),
            st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {dfs} FROM tf)
            SELECT doc_id, score FROM (
              SELECT doc_id, CAST({matched} AS BIGINT) AS n_matched, {score} AS score FROM tf, st)
            WHERE n_matched > 0
            ORDER BY score DESC, doc_id LIMIT {int(k)}"""
        return [(int(d), float(s)) for d, s in con.execute(sql, list(terms)).fetchall()]
    finally:
        con.close()
