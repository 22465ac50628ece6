"""Interval algebra over (key, start, end) DataFrames.

Reference kernel: region/region.go — a per-block sorted disjoint
interval set with Add (union-merge), GetMissing (difference),
TotalLength/Count (stats), GetFirstMissingRegion / GetNextStart.

Spark-first shape: the *mask* is not an in-memory structure but a view —
the gaps-and-islands merge of an append-only ``regions`` log
(reference's ``.regions`` files, core/freezer.go:420-509). All ops are
window + aggregate compositions that scale out per key; the per-key sort
the windows imply is exactly the reference's per-block sorted set, kept
distributed. Intervals are half-open [start, end); adjacent intervals
merge (reference Add semantics, region/region.go:74-124).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = "bid"


def merge_intervals(df: DataFrame, key: str = KEY) -> DataFrame:
    """R2: union-merge an interval log into a disjoint sorted mask.

    Gaps-and-islands: a row starts a new island iff its start lies
    strictly past the running max end of all earlier rows (ties/adjacent
    merge). One shuffle on ``key``; everything else stays in the same
    partitioning AND the same sort.

    Window-only formulation (r13): the classic island-id + groupBy
    finisher built a hash aggregate over O(islands) fine-grained keys —
    at sf10 that was 25M (key,island) groups probing a saturated hash
    map 528 times per key on average, 75% of the whole query's CPU
    (event-log profile; the r13 bench notes under tools/out/ are in
    git history). Islands are
    ordered, so no aggregation is needed:

    - the running max of ``end`` over earlier rows (``prev_max_end``)
      marks island STARTS (``start > prev_max_end``);
    - islands ascend: every row of island k has ``end`` < island k+1's
      start, so at an island's LAST row the running max *including the
      row* equals that island's merged end;
    - a row is its island's last iff the next row starts a new island
      (or there is no next row);
    - the island's merged start is carried forward to its last row by
      ``last(start where is_start, ignorenulls)``.

    Three window passes over one sort replace the 2-pass-plus-hash-agg
    plan; every pass is an O(1)-per-row frame. Output is one row per
    island, identical values to the groupBy form (equality-tested).

    Precondition (ADVICE r13): intervals must be valid half-open ranges
    with ``end >= start`` — the reference's region log guarantees this
    (region/regions.go commit path) and ``validate_mask`` flags
    violations. A malformed row with ``end < start`` would see the
    running ``max(end)`` carry a PREVIOUS island's larger end into its
    own, where the old groupBy form kept per-island maxima; run
    ``validate_mask`` first if the input is untrusted."""
    w = Window.partitionBy(key).orderBy("start", "end")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    with_flag = df.withColumn(
        "_is_start",
        F.col("start") > F.coalesce(prev_max_end, F.lit(-(1 << 62))),
    )
    island_start = F.last(
        F.when(F.col("_is_start"), F.col("start")), ignorenulls=True
    ).over(run)
    island_end = F.max("end").over(run)
    next_is_start = F.lead("_is_start", 1, True).over(w)
    return (
        with_flag.select(
            F.col(key),
            island_start.alias("start"),
            island_end.alias("end"),
            next_is_start.alias("_closes"),
        )
        .where(F.col("_closes"))
        .drop("_closes")
    )


def coverage_stats(mask: DataFrame, key: str = KEY) -> DataFrame:
    """R3/A1: per-key (populated_region_count, populated_size).
    ``mask`` must be disjoint (pass through merge_intervals first)."""
    return mask.groupBy(key).agg(
        F.count(F.lit(1)).alias("populated_region_count"),
        F.sum(F.col("end") - F.col("start")).alias("populated_size"),
    )


def missing_regions(
    mask: DataFrame, queries: DataFrame, key: str = KEY, qid: str = "qid"
) -> DataFrame:
    """R1: per query [qstart, qend), the sub-ranges NOT covered by the
    mask → rows (key, qid, start, end).

    Join each query with its overlapping mask intervals (a range join —
    at scale, pre-bucket both sides by key so it's co-partitioned), then
    a lag-window sweep finds the gaps, including head and tail.
    ``mask`` must be disjoint.
    """
    q = queries.select(
        F.col(key), F.col(qid), F.col("qstart"), F.col("qend")
    )
    j = q.join(
        mask.select(key, "start", "end"),
        on=[
            q[key] == mask[key],
            F.col("start") < F.col("qend"),
            F.col("end") > F.col("qstart"),
        ],
        # inner, not left: unmatched queries are re-introduced by their
        # sentinel row below (whole range missing), so the join never
        # has to carry NULL mask rows.
        how="inner",
    ).select(q[key], qid, "qstart", "qend", "start", "end")

    # Single-pass sweep: one sentinel row per query at start = qend
    # turns the tail gap into just another head gap (the gap "before"
    # the sentinel). The sentinel sorts strictly last — joined
    # intervals all have start < qend — and a query with no overlap
    # contributes only its sentinel, whose lag(end) is NULL, yielding
    # the full [qstart, qend) range. One union arm is query-only
    # (no mask dependency), so the expensive mask-side join + merge is
    # planned ONCE (the previous head/tail two-arm union recomputed it
    # per arm: 2x the mask merge, the r4 bench regression).
    sentinels = q.select(
        F.col(key),
        F.col(qid),
        "qstart",
        "qend",
        F.col("qend").alias("start"),
        F.col("qend").alias("end"),
    )
    w = Window.partitionBy(key, qid).orderBy("start")
    prev_end = F.lag("end").over(w)
    gap_start = F.greatest(F.coalesce(prev_end, F.col("qstart")), F.col("qstart"))
    clipped_start = F.least(F.greatest(F.col("start"), F.col("qstart")), F.col("qend"))
    return (
        j.unionByName(sentinels)
        .withColumn("gstart", gap_start)
        .withColumn("gend", clipped_start)
        .where(F.col("gend") > F.col("gstart"))
        .select(key, qid, F.col("gstart").alias("start"), F.col("gend").alias("end"))
    )


def add_region(log: DataFrame, additions: DataFrame, key: str = KEY) -> DataFrame:
    """R2 entry point: append to the log then re-merge (the mask is a
    view; compaction = materializing merge_intervals back to storage)."""
    return merge_intervals(log.unionByName(additions), key)


def first_missing(
    mask: DataFrame, queries: DataFrame, key: str = KEY, qid: str = "qid"
) -> DataFrame:
    """R4a: the first gap of each query range (top-1 per key via
    row_number)."""
    gaps = missing_regions(mask, queries, key, qid)
    w = Window.partitionBy(key, qid).orderBy("start")
    return (
        gaps.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def next_start(mask: DataFrame, positions: DataFrame, key: str = KEY) -> DataFrame:
    """R4b: smallest interval start >= position, per key. Every input
    position yields a row; next_start is NULL when no interval follows —
    matching the reference's GetNextStart, which reports absence rather
    than dropping the query (the >= predicate lives in the aggregate,
    not a post-join filter that would delete NULL-join rows)."""
    j = positions.join(mask, key, "left")
    return j.groupBy(key, "position").agg(
        F.min(
            F.when(F.col("start") >= F.col("position"), F.col("start"))
        ).alias("next_start")
    )


def align_chunks(
    queries: DataFrame, chunk_size: int, max_size_col: str | None = None
) -> DataFrame:
    """R5: round [qstart, qend) out to chunk boundaries (reference
    chunk = 200KB, core/datastore.go:106; alignment
    core/freezer.go:131-138). Clamps qend to the block size when given."""
    out = queries.withColumn(
        "qstart", (F.floor(F.col("qstart") / chunk_size) * chunk_size).cast("long")
    ).withColumn(
        "qend", (F.ceil(F.col("qend") / chunk_size) * chunk_size).cast("long")
    )
    if max_size_col:
        out = out.withColumn("qend", F.least(F.col("qend"), F.col(max_size_col)))
    return out


def validate_mask(mask: DataFrame, key: str = KEY) -> DataFrame:
    """Invariant check (reference region.Validate,
    region/region.go:126-139): rows where ordering/disjointness is
    violated — empty result = valid."""
    w = Window.partitionBy(key).orderBy("start")
    prev_end = F.lag("end").over(w)
    return (
        mask.withColumn("_prev_end", prev_end)
        .where(
            (F.col("end") <= F.col("start"))
            | (F.col("_prev_end").isNotNull() & (F.col("start") < F.col("_prev_end")))
        )
        .drop("_prev_end")
    )
