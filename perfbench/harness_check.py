"""Output checks of the harness workload.

Every query's check-pass result (parquet, one directory per query) is
compared with an independent expectation:

* queries with a DuckDB oracle (`SparkEntry.oracleSql`, written by the
  benchmark as `oracle_sql.json`): same columns, same row count and the same
  rows, exactly, after sorting, against the oracle run on the same tables;
* queries that read no harness table (`q_pipeline_triples`,
  `q_train_labels`): row count and checksum equal the values recorded in
  `expected/harness_fixed.json` at the commit that added the benchmark;
* `q_agg_approx`: the exact column and the row count equal DuckDB's, and the
  sketch estimate is within 10% of the exact count.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
APPROX_TOLERANCE = 0.10


def _sorted_frame(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols).reset_index(drop=True)


def fingerprint(df) -> dict:
    """Row count and an order-independent checksum of a result."""
    rows = _sorted_frame(df).astype(str).values.tolist()
    digest = hashlib.sha256(json.dumps([sorted(df.columns), rows]).encode()).hexdigest()
    return {"rows": len(df), "checksum": digest}


def _equal(exp, got):
    if sorted(exp.columns) != sorted(got.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} != {len(exp)}"
    exp, got = _sorted_frame(exp), _sorted_frame(got)
    if not exp.equals(got):
        neq = ((exp != got) & ~(exp.isna() & got.isna())).any(axis=1)
        return f"{int(neq.sum())} rows differ, e.g. {got[neq].head(1).to_dict('records')}"
    return None


def compare(data_dir: str, check_dir: str, bench_dir: str) -> dict:
    """Return {query: reason} for every query whose output check failed."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(bench_dir, "expected", "harness_fixed.json")) as f:
        fixed = json.load(f)
    failures = {}
    queries = sorted(d for d in os.listdir(check_dir)
                     if os.path.isdir(os.path.join(check_dir, d)))
    for q in queries:
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{q}/*.parquet')").df()
            if q in oracles:
                reason = _equal(con.sql(oracles[q]).df(), got)
            elif q in fixed:
                fp = fingerprint(got)
                reason = None if fp == fixed[q] else f"{fp} != recorded {fixed[q]}"
            elif q == "q_agg_approx":
                exp = con.sql("SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders "
                              "FROM lineitem GROUP BY 1").df()
                reason = _equal(exp, got[["l_returnflag", "exact_orders"]])
                err = ((got["approx_orders"] - got["exact_orders"]).abs()
                       / got["exact_orders"]).max()
                if reason is None and err > APPROX_TOLERANCE:
                    reason = f"sketch off by {err:.3f}"
            else:
                reason = "no check defined for this query"
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            reason = f"{type(e).__name__}: {e}"
        if reason is not None:
            failures[q] = reason
    return failures
