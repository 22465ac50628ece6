"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_for_compute(
    df: DataFrame,
    cols: list[str] | None = None,
    by: str | None = None,
) -> DataFrame:
    """Round-robin ``df`` (optionally projected to ``cols``) across the
    cluster when it arrives in fewer partitions than there are cores.

    Spark sizes scan partitions by BYTES (maxPartitionBytes=128MB), but
    text/embedding operators are compute-dense: ~300 chars of text cost
    hundreds of regexp/array/hash evaluations per row, so a 15MB
    documents file that fits one input split runs the whole operator on
    ONE core of 32. Measured on an sf1.0 tile (50k docs arriving as 2
    partitions): the D1 MinHash explode alone took 17.4s at
    ~1.2us/shingle — single-thread codegen speed, not a slow plan —
    and dropped to <1s spread over 32 cores; T1/T2 showed the same
    shape. The repartition ships only the projected columns — trivial
    bytes relative to the compute it unlocks. The gate reads the exact
    partition count (``.rdd.getNumPartitions()``: one physical planning,
    no job).

    Scale behavior: a real 100TB corpus arrives in >>cores partitions
    and this is a no-op (the gate never REDUCES partitioning); the
    repartition fires exactly in the small-bytes/high-compute regime
    where its shuffle is free. Row-transform semantics are unaffected —
    only placement changes.

    ``by``: hash-repartition on this column instead of round-robin.
    Round-robin (``repartition(n)``) is the right default for narrow
    rows — it balances perfectly — but Spark's
    ``sortBeforeRepartition`` (on by default, for deterministic task
    retries) LOCALLY SORTS every row on ALL columns first, so a frame
    carrying wide binary payloads (media blobs) pays a comparison sort
    over the payload bytes before the exchange. Hash
    partitioning on a cheap distinct-ish key skips that sort entirely
    (it is already deterministic per row) and still ships each row
    once; balance is multinomial rather than exact — fine when the key
    is near-unique."""
    slim = df.select(*cols) if cols else df
    if df.isStreaming:
        # no .rdd on streaming plans; micro-batch parallelism is the
        # source's concern (maxFilesPerTrigger etc.), not this helper's
        return slim
    sc = df.sparkSession.sparkContext
    if slim.rdd.getNumPartitions() < sc.defaultParallelism:
        if by is not None:
            return slim.repartition(sc.defaultParallelism, by)
        return slim.repartition(sc.defaultParallelism)
    return slim


def _estimated_scan_bytes(df: DataFrame) -> int | None:
    """Sum of the on-disk bytes of ``df``'s leaf file scans (driver-
    side ``os.stat`` over ``inputFiles()`` — one plan analysis, no
    job). None for non-file-rooted or unstatable (remote) inputs."""
    import os

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — estimation is advisory
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f[5:] if f.startswith("file:") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total
