"""Loaders for the driver-provided test tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns stored as TIMESTAMP(NANOS) in the driver parquet; read as long
# (spark.sql.legacy.parquet.nanosAsLong) then converted to real timestamps.
_NANOS_TS_COLUMNS = {
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
    "events": ("ts",),
}


# DataFrame HANDLE memo — not a data cache. Each load_table call costs
# ~95 ms (r15 measured): spark.read.parquet re-lists the path and
# re-reads footers for schema on every call, and the headline suite
# makes ~35 such calls per bench pass (~3 s of pure driver time).
# A real service resolves a table reference once per session; the memo
# does the same for the immutable driver testdata. No persist() — the
# scan still reads parquet every execution; only the plan handle is
# reused. PUFS_ENTRY_CACHE=0 disables, matching the entry's memo switch
# (plan-assert tests run cold).
#
# The memo is a dict on the session object itself:
# spark.newSession() shares the SparkContext but not SQL-conf state, so
# a handle bound to one session must not be served to another, and an
# id() key could be recycled by a later session. A dead session's
# entries go with it: the session -> memo -> DataFrame -> session cycle
# is collected as a whole.
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if os.environ.get("PUFS_ENTRY_CACHE", "1") != "1":
        return _load_table_uncached(spark, sf_dir, name)
    memo = vars(spark).setdefault("_pufs_table_memo", {})
    key = (os.path.abspath(sf_dir), name)
    df = memo.get(key)
    if df is None:
        df = memo[key] = _load_table_uncached(spark, sf_dir, name)
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Some driver parquet files store TIMESTAMP(NANOS), which Spark rejects
    # unless nanosAsLong is set. It's a runtime SQL conf, so set it on the
    # *caller's* session here rather than relying on our own session factory
    # (the driver's oracle harness builds a plain SparkSession).
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf rejected (e.g. future Spark removes it); try the read anyway
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        df = spark.read.parquet(path)
        # Force schema resolution now so PARQUET_TYPE_ILLEGAL surfaces here.
        df.schema
    except Exception as exc:
        # Only the TIMESTAMP(NANOS) rejection should fall back to the
        # driver-side arrow loader; any other failure (missing file, corrupt
        # footer, permissions) must surface rather than silently turning a
        # distributed scan into a driver collect.
        msg = str(exc)
        if "PARQUET_TYPE_ILLEGAL" not in msg and "NANOS" not in msg.upper():
            raise
        df = _load_via_arrow(spark, path)
    for c in _NANOS_TS_COLUMNS.get(name, ()):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # Integer division: `/` on bigint is DOUBLE division and epoch
            # nanos (~1.8e18) exceed double's 53-bit mantissa, corrupting
            # ~12% of values by 1 us. `div` truncates exactly, matching
            # DuckDB's epoch_us.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _load_via_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Last-resort loader: read via pyarrow, downcast nanos to micros.

    Only used when the parquet read fails even with nanosAsLong (or the conf
    itself is rejected). Materializes through the driver, so it's only
    acceptable for the small oracle-harness tables — the normal path above
    stays fully distributed.
    """
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    pdf = tbl.to_pandas(timestamp_as_object=False)
    for col in pdf.columns:
        if str(pdf[col].dtype).startswith("datetime64[ns"):
            pdf[col] = pdf[col].astype("datetime64[us]")
    return spark.createDataFrame(pdf)


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count from parquet FOOTERS, no Spark job.

    For operators whose physical shape is gated on input size (e.g.
    lsh_topk's inline-vector cap), a driver-side footer walk replaces a
    cluster-wide sizing count(): O(files) metadata reads, zero tasks.
    Returns None when the path isn't local parquet (caller falls back
    to counting or to the scale-safe shape)."""
    import glob

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        files = (
            [path]
            if os.path.isfile(path)
            else sorted(glob.glob(os.path.join(path, "*.parquet")))
        )
        if not files:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:  # noqa: BLE001 — sizing is advisory, never fatal
        return None


def table_column_minmax(
    sf_dir: str, name: str, col: str
) -> tuple[int, int] | None:
    """(min, max) of a column from parquet FOOTER statistics, no Spark
    job — the same driver-side metadata walk as table_row_count, for
    callers that need a cheap sanity check on key-column layout (e.g.
    q_s1 verifying vec_id contiguity before trusting a derived count;
    ADVICE r14). Returns None when any row group lacks stats or the
    path isn't local parquet — advisory, never fatal."""
    import glob

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        files = (
            [path]
            if os.path.isfile(path)
            else sorted(glob.glob(os.path.join(path, "*.parquet")))
        )
        if not files:
            return None
        lo = hi = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (lo, hi)
    except Exception:  # noqa: BLE001 — sizing is advisory, never fatal
        return None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TPCH_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (the SQL surface)."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
