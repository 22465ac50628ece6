"""Partition-pruning verification: a filter on the partition column
must prune directories in the plan (PartitionFilters), and the scan
must read fewer files than the full dataset."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pufs_spark.sources import dataset
from pufs_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_partition_pruning(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_by_type")
    dataset.write_partitioned(ev, path, ["event_type"], ["ts"])

    back = dataset.read_dataset(spark, path)
    one = back.where(F.col("event_type") == "click")
    plan = _formatted(one)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan  # pruned at planning

    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    assert "click" in types
    expect = ev.where(F.col("event_type") == "click").count()
    assert one.count() == expect


def test_sorted_layout_pushes_range_filter(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_sorted")
    dataset.write_partitioned(ev, path, ["event_type"], ["value"])
    back = dataset.read_dataset(spark, path).where(F.col("value") > 99.0)
    plan = _formatted(back)
    assert "GreaterThan(value,99" in plan  # row-group-stat pushdown
    assert back.count() == ev.where(F.col("value") > 99.0).count()


def test_spread_for_compute_gate(spark):
    """r11: compute-dense operators spread small-bytes inputs across
    the cluster (Spark sizes scan splits by BYTES, so a 15MB documents
    file ran the sf1.0 MinHash build on 2 of 32 cores). Contract: a
    below-parallelism input is repartitioned up to defaultParallelism
    with identical rows; an at-or-above-parallelism input is returned
    UNTOUCHED (never reduce a real corpus's partitioning); a streaming
    plan passes through without a .rdd call (which would raise)."""
    from pufs_spark.operators.util import spread_for_compute

    par = spark.sparkContext.defaultParallelism

    narrow = spark.range(100).coalesce(1).withColumn(
        "text", F.concat(F.lit("doc"), F.col("id"))
    )
    assert narrow.rdd.getNumPartitions() < par
    out = spread_for_compute(narrow, ["id", "text"])
    assert out.rdd.getNumPartitions() == par
    assert out.columns == ["id", "text"]
    assert sorted(r["id"] for r in out.collect()) == list(range(100))

    wide = spark.range(1000).repartition(par + 3)
    out2 = spread_for_compute(wide)
    assert out2.rdd.getNumPartitions() == par + 3  # untouched
    assert out2 is wide

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    out3 = spread_for_compute(stream, ["value"])
    assert out3.isStreaming and out3.columns == ["value"]


def test_spread_for_compute_by_key_skips_payload_sort(spark):
    """ADVICE r12: round-robin repartition locally sorts every row on
    ALL columns (sortBeforeRepartition) before the exchange — for a
    media frame that is a comparison sort over the binary payloads.
    ``by=<key>`` switches to hash partitioning: the plan must carry
    hashpartitioning on the key (deterministic per row, no sort node
    over the payload), spread to defaultParallelism, and preserve
    rows exactly."""
    from pufs_spark.operators.util import spread_for_compute

    par = spark.sparkContext.defaultParallelism
    media = (
        spark.range(64)
        .coalesce(1)
        .select(
            F.col("id").alias("media_id"),
            F.encode(F.repeat(F.concat(F.lit("x"), F.col("id")), 200),
                     "utf-8").alias("content"),
        )
    )
    out = spread_for_compute(media, by="media_id")
    assert out.rdd.getNumPartitions() == par
    plan = _formatted(out)
    assert "hashpartitioning(media_id" in plan, plan
    assert "roundrobin" not in plan.lower(), plan
    got = {r["media_id"]: bytes(r["content"]) for r in out.collect()}
    assert len(got) == 64 and got[3] == b"x3" * 200


def test_estimated_scan_partitions_matches_exact_probe(spark, tmp_path):
    """spread_for_compute gates on the exact partition count
    (``.rdd.getNumPartitions()``), not a file-size estimate. A small
    single-file parquet scan arrives as ONE split and must be spread to
    defaultParallelism with identical rows; a frame already
    repartitioned to at least defaultParallelism is returned untouched;
    a non-file frame below parallelism is spread too."""
    import pandas as pd

    from pufs_spark.operators.util import spread_for_compute

    par = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "small.parquet")
    pd.DataFrame({"id": range(100), "text": ["x"] * 100}).to_parquet(
        src, index=False
    )
    scan = spark.read.parquet(src).select("id", "text")
    # (a) narrow scan: one split in, defaultParallelism out
    assert scan.rdd.getNumPartitions() == 1
    out = spread_for_compute(scan)
    assert out.rdd.getNumPartitions() == par
    assert sorted(out.collect()) == sorted(scan.collect())
    # (b) explicit repartition at or above parallelism: untouched
    rep = scan.repartition(par + 1)
    assert spread_for_compute(rep) is rep
    # (c) non-file frame below parallelism: spread
    rng = spark.range(10).coalesce(2)
    assert rng.rdd.getNumPartitions() == 2 < par
    out = spread_for_compute(rng)
    assert out.rdd.getNumPartitions() == par
    assert sorted(out.collect()) == sorted(rng.collect())


def test_estimated_scan_partitions_limit_sample_union(spark, tmp_path):
    """A limit, sample or union over a one-split scan, and a scan with
    a column oddly named like a plan node, all still arrive below
    parallelism; spread_for_compute must spread each of them to
    defaultParallelism with identical rows."""
    import pandas as pd

    from pufs_spark.operators.util import spread_for_compute

    par = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "lsu.parquet")
    pd.DataFrame({"id": range(100), "text": ["x"] * 100}).to_parquet(
        src, index=False
    )
    scan = spark.read.parquet(src).select("id", "text")
    for shaped in (
        scan.limit(5),
        scan.sample(fraction=0.5, seed=7),
        scan.union(scan),
        scan.select(F.col("id").alias("SortOrderJoin"), "text"),
    ):
        assert shaped.rdd.getNumPartitions() < par
        out = spread_for_compute(shaped)
        assert out.rdd.getNumPartitions() == par
        assert sorted(out.collect()) == sorted(shaped.collect())


def test_load_table_memoizes_handle_per_session(spark):
    """r15: load_table returns the SAME DataFrame handle for repeated
    calls (a ~95 ms path re-list + footer re-read per call otherwise),
    and PUFS_ENTRY_CACHE=0 bypasses the memo. Handle reuse only — the
    scan still reads parquet at execution (no persist in the plan)."""
    import os as _os

    from pufs_spark.tables import load_table
    from tests.conftest import SF_DIR

    # test_plans.py sets PUFS_ENTRY_CACHE=0 at module level, which
    # pytest evaluates at COLLECTION time for the whole process — pin
    # the env explicitly for each branch rather than trusting the
    # process default.
    old = _os.environ.get("PUFS_ENTRY_CACHE")
    try:
        _os.environ["PUFS_ENTRY_CACHE"] = "1"
        a = load_table(spark, SF_DIR, "orders")
        b = load_table(spark, SF_DIR, "orders")
        assert a is b
        assert (
            "InMemoryRelation"
            not in a._jdf.queryExecution().optimizedPlan().toString()
        )
        _os.environ["PUFS_ENTRY_CACHE"] = "0"
        c = load_table(spark, SF_DIR, "orders")
        assert c is not a
        assert c.count() == a.count()
    finally:
        if old is None:
            _os.environ.pop("PUFS_ENTRY_CACHE", None)
        else:
            _os.environ["PUFS_ENTRY_CACHE"] = old
