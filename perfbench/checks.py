"""Independent output checks. None of these call the program: CDC targets
are compared with the generator's own fold (gen.expected_state), query
results with DuckDB running SparkEntry.oracleSql over the same fixtures."""
import decimal
import glob
import hashlib
import json
import math
import os

import pyarrow.parquet as pq

TARGET_COLS = ["user_id", "event_id", "ts", "event_type", "value", "props",
               "_cdc_deleted", "_segment", "_offset"]
FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def check_cdc(run_dir, expected_rows, expected_dlq, log):
    """Returns (failures, DLQ rows, target rows): one failure per key whose
    target row is missing, extra, duplicated or different, and per event id
    missing from, extra in or duplicated in the DLQ."""
    t = pq.read_table(os.path.join(run_dir, "target"), columns=TARGET_COLS).to_pydict()
    got, dup = {}, 0
    for i, k in enumerate(t["user_id"]):
        if k in got:
            dup += 1
        got[k] = tuple(t[c][i] for c in TARGET_COLS[1:])
    missing = expected_rows.keys() - got.keys()
    extra = got.keys() - expected_rows.keys()
    wrong = [k for k in expected_rows.keys() & got.keys() if got[k] != expected_rows[k]]
    # one file at a time: the _batch_id=N partition directories start
    # with "_", which dataset discovery skips
    ids = [i for f in glob.glob(os.path.join(run_dir, "dlq", "*", "*.parquet"))
           for i in pq.read_table(f, columns=["event_id"]).column("event_id").to_pylist()]
    dlq_dup = len(ids) - len(set(ids))
    dlq_missing = expected_dlq - set(ids)
    dlq_extra = set(ids) - expected_dlq
    failed = (len(missing) + len(extra) + len(wrong) + dup
              + dlq_dup + len(dlq_missing) + len(dlq_extra))
    if failed:
        k = next(iter(sorted(wrong) or sorted(missing) or sorted(extra) or [None]))
        log(f"[check] {run_dir}: target missing={len(missing)} extra={len(extra)} "
            f"wrong={len(wrong)} dup={dup}; dlq missing={len(dlq_missing)} "
            f"extra={len(dlq_extra)} dup={dlq_dup}; first key {k}: "
            f"target={got.get(k)} expected={expected_rows.get(k)}")
    return failed, len(ids), len(got)


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, decimal.Decimal):
        return ("num", str(v.normalize()))
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("float", repr(v))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    return ("str", str(v))


def result_hash(cols, rows):
    """Order-insensitive hash of a result: columns sorted by name, rows
    canonicalized cell by cell and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256(repr(([cols[i] for i in order], canon)).encode()).hexdigest()


def spark_result_hash(path):
    t = pq.read_table(path)
    cols = t.column_names
    return result_hash(cols, [tuple(r[c] for c in cols) for r in t.to_pylist()])


def oracle_hashes(fixtures, sql_by_query, cache_dir):
    """DuckDB's result hash per query. Cached under cache_dir by the hash of
    the fixture files and the SQL text, since the oracle is the slowest
    part of a batch-operators run and a seed's fixtures never change."""
    h = hashlib.sha256()
    for t in FIXTURE_TABLES:
        p = os.path.join(fixtures, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    h.update(json.dumps(sql_by_query, sort_keys=True).encode())
    cached = os.path.join(cache_dir, h.hexdigest() + ".json")
    if os.path.exists(cached):
        with open(cached) as f:
            return json.load(f)
    out = _oracle_hashes(fixtures, sql_by_query)
    os.makedirs(cache_dir, exist_ok=True)
    with open(cached + ".tmp", "w") as f:
        json.dump(out, f)
    os.rename(cached + ".tmp", cached)
    return out


def _oracle_hashes(fixtures, sql_by_query):
    import duckdb
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        p = os.path.join(fixtures, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sql_by_query.items():
        res = con.sql(sql)
        out[name] = result_hash(list(res.columns), res.fetchall())
    con.close()
    return out
