"""The ``spark_queries`` workload.

It runs the 21 headline ``__spark_entry__.queries()`` at sf0.1: the catalog
set (fs tree, Merkle freeze, intervals, relational queries) and then the
pipeline set (dedup, text, similarity, sessionization, Python workers).
Set-up starts the session, loads the table handles and runs a warm-up pass
over the sf0.001 tables, which pays the session's first planning, code
generation and Python worker start. A timed pass then runs every query once
at sf0.1, in a fixed order, and collects its output; passes repeat until the
run's seconds are used up. The first timed pass still builds the session's
memoized fs-tree tables for sf0.1, as a job that opens the data does. After
timing, the collected outputs are checked: every
query against its ``oracle_sql()`` entry run in DuckDB on the same parquet,
except D1, whose pairs are recomputed exactly.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from harness import WARMUP, Ops, Tracer, timed_loop
from pufs_spark.tables import TPCH_TABLES, load_table

CATALOG = [
    "L3_extended_listing",
    "F1_merkle_freeze",
    "R1_missing_regions",
    "R2_interval_union",
    "U1_exact_dedup",
    "W1_rank_per_group",
    "Q1_pricing_summary",
    "Q3_shipping_priority",
    "Q5_local_supplier",
    "Q6_forecast_revenue",
    "Q14_promo_revenue",
    "Q18_large_orders",
]
PIPELINE = [
    "D1_minhash_lsh_neardup",
    "T1_token_quality",
    "T2_lang_id",
    "S1_cosine_topk",
    "E1_sessionize",
    "E2_event_rate",
    "M2_media_features",
    "T13_dedup_paragraphs",
    "T14_pack_sequences",
]
QUERIES = CATALOG + PIPELINE

D1 = "D1_minhash_lsh_neardup"
D1_THRESHOLD = 0.7
D1_RECALL_DOCS = 2000  # the recall check covers every pair among the lowest doc ids
ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".oracle-cache")


def run_suite(spark, sf_dir: str, warm_dir: str, seconds: float,
              ops: Ops, tracer: Tracer, on_setup_done) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()

    def one(rnd: str, name: str, data_dir: str, sink):
        def op():
            with tracer.span(f"{name}.build"):
                df = qs[name](spark, data_dir)
            with tracer.span(f"{name}.exec"):
                return sink(df)
        return ops.run(rnd, name, op)

    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t)
    # warm-up: one pass over the small tables pays the session's first
    # planning, code generation and Python worker start outside the timed
    # passes
    for name in QUERIES:
        one(WARMUP, name, warm_dir, lambda df: df.toPandas())
    on_setup_done()

    outputs: dict[str, pd.DataFrame] = {}

    def one_pass(rnd: str) -> None:
        for name in QUERIES:
            ok, pdf = one(rnd, name, sf_dir, lambda df: df.toPandas())
            if ok:
                outputs.setdefault(name, pdf)

    timed_loop(seconds, one_pass)
    check_outputs(outputs, sf_dir, ops)


# ---------------------------------------------------------------------------
# Correctness
# ---------------------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = pd.DataFrame({
        c: df[c].map(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v)
        if df[c].dtype == object else df[c]
        for c in df.columns
    })
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Row count, column names, then values order-insensitively: rows sorted
    by every column, numbers equal within 1e-9 (relative or absolute).

    The same rule as ``tools/verify_oracle.py``, kept here so that the
    benchmark depends on nothing but ``pufs_spark`` and ``__spark_entry__``."""
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    got, want = _normalize(got), _normalize(want)
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            ok = np.isclose(a.astype(float).to_numpy(), b.astype(float).to_numpy(),
                            rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = ((a.astype(str) == b.astype(str)) | (a.isna() & b.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} differs at sorted row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def shingles(text: str | None) -> frozenset[str]:
    """Distinct character 5-grams, as D1's oracle SQL defines them."""
    text = text or ""
    return frozenset(text[i:i + 5] for i in range(max(len(text) - 4, 0)))


def exact_pairs(docs: list[tuple[int, frozenset]]) -> dict[tuple[int, int], float]:
    """Every pair of ``docs`` with Jaccard >= D1_THRESHOLD, by brute force:
    intersection sizes come from a 0/1 incidence matrix product."""
    vocab: dict[str, int] = {}
    rows, cols = [], []
    for r, (_, sh) in enumerate(docs):
        for g in sh:
            rows.append(r)
            cols.append(vocab.setdefault(g, len(vocab)))
    m = np.zeros((len(docs), max(len(vocab), 1)), dtype=np.float32)
    m[rows, cols] = 1.0
    inter = (m @ m.T).astype(np.float64)
    n = np.array([len(sh) for _, sh in docs], dtype=np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        jac = inter / (n[:, None] + n[None, :] - inter)
    a, b = np.nonzero(np.triu(jac >= D1_THRESHOLD, 1))
    return {(docs[i][0], docs[j][0]): float(jac[i, j]) for i, j in zip(a, b)}


def check_d1(got: pd.DataFrame, docs: dict[int, frozenset], ops: Ops) -> None:
    # precision: every reported pair, recomputed exactly
    for a, b, j in got[["a", "b", "jaccard"]].itertuples(index=False):
        x, y = docs[int(a)], docs[int(b)]
        inter = len(x & y)
        exact = inter / (len(x) + len(y) - inter)
        ops.check(int(a) < int(b) and exact >= D1_THRESHOLD
                  and abs(exact - j) <= 1e-9,
                  f"D1 pair ({a}, {b}) reports {j}, exact Jaccard is {exact}")
    # recall: all pairs among a fixed subset of documents
    subset = sorted(docs)[:D1_RECALL_DOCS]
    want = exact_pairs([(d, docs[d]) for d in subset])
    reported = {(int(a), int(b)) for a, b in got[["a", "b"]].itertuples(index=False)}
    missing = sorted(set(want) - reported)
    ops.check(not missing, f"D1 misses {len(missing)} of {len(want)} pairs among "
                           f"the first {len(subset)} documents, e.g. {missing[:3]}")


def check_outputs(outputs: dict[str, pd.DataFrame], sf_dir: str, ops: Ops) -> None:
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.sql("SET threads TO 4")
    data = hashlib.sha256()
    for t in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        with open(path, "rb") as f:
            data.update(hashlib.sha256(f.read()).digest())
    oracles = entry.oracle_sql()
    for name, got in outputs.items():
        if name == D1:
            rows = con.sql("SELECT doc_id, text FROM documents").fetchall()
            check_d1(got, {d: shingles(t) for d, t in rows}, ops)
            continue
        diff = compare(got, oracle_frame(con, name, oracles[name], data.hexdigest()))
        ops.check(diff is None, f"{name}: {diff}")
    con.close()


def oracle_frame(con, name: str, sql: str, data_digest: str) -> pd.DataFrame:
    """DuckDB's result for one oracle. It depends only on the SQL text and
    the input tables, so each checkout computes it once and keeps it in
    ``.oracle-cache`` under a key over both; a change to either recomputes
    it. The cache holds only what this function wrote."""
    key = hashlib.sha256(f"{data_digest}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(ORACLE_CACHE, f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df
