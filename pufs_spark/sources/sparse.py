"""Sparse chunked block cache — the reference's hot read path (§3.2)
re-expressed as Spark jobs over a CAS directory.

Reference semantics reproduced (core/freezer.go:125-217, region/
pending.go, region log core/freezer.go:420-509):

- A block's bytes live in ONE sparse local file; only the byte ranges
  actually read are populated (pwrite at offset leaves holes).
- Which ranges are populated is recorded in an append-only region log,
  replayed into a merged interval mask on load — the cache survives
  restart with zero remote re-reads (reference test
  core/freezer_test.go:72-118).
- Reads are chunk-aligned (reference chunk = 200KB,
  core/datastore.go:106) and extended by a readahead window (5MB,
  core/freezer.go:226-227).
- Concurrent/overlapping requests coalesce: fetch tasks are keyed by
  (bid, chunk) and deduplicated before hitting the remote — the
  analog of region/pending.go:281-299's request joining.

Distribution model: the fetch is PLANNED on the driver against the
region mask (align → readahead → gaps → chunk set, deduplicated) —
the mask is small and driver-resident, the same in-memory check the
reference makes before joining or issuing fetches (core/freezer.go:
602-612) — and EXECUTED on executors: one mapPartitions job over the
chunk list, one remote connection per partition, writing
executor-side. A fully cached request set starts no Spark job. The
region log is SEGMENTED — each task appends its own
`<bid>.regions.<task>` file and replay merges all segments — so there
is no cross-task lock, the same commit discipline as Spark's own
multi-file output commit.

On a real cluster the cache root lives on fast shared storage (or the
fetch job is routed so a bid's chunks land on the executor that will
read them); in local[*] tests a local dir plays that role.
"""

from __future__ import annotations

import glob
import os
import struct
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHUNK_SIZE = 200 * 1024  # reference: core/datastore.go:106
READAHEAD = 5 * 1024 * 1024  # reference: core/freezer.go:226

_REC = struct.Struct("<qq")  # (start, end) little-endian int64 pairs


class SparseFreezer:
    """Local sparse CAS: per-bid sparse data file + segmented region
    log. Safe for concurrent same-process writers on disjoint ranges
    (pwrite-style positioned writes; one log segment per writer)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "chunks"), exist_ok=True)
        # per-instance merged-mask cache: replaying log segments costs a
        # glob + file reads per call, which dominates hot read paths.
        # Writers update it incrementally; cross-process writers are
        # picked up by constructing a fresh SparseFreezer (same contract
        # as the reference's one-freezer-per-process mask).
        self._mask_cache: dict[str, list[tuple[int, int]]] = {}

    def _data_path(self, bid: str) -> str:
        return os.path.join(self.root, "chunks", bid)

    def _segment_glob(self, bid: str) -> str:
        return os.path.join(self.root, "chunks", f"{bid}.regions.*")

    def new_segment_path(self, bid: str) -> str:
        return os.path.join(
            self.root, "chunks", f"{bid}.regions.{uuid.uuid4().hex}"
        )

    # -- region mask ---------------------------------------------------

    def log_records(self, bid: str) -> list[tuple[int, int]]:
        """Replay every log segment (unmerged)."""
        out: list[tuple[int, int]] = []
        for seg in glob.glob(self._segment_glob(bid)):
            with open(seg, "rb") as f:
                data = f.read()
            # ignore a torn trailing record (crash mid-append)
            for i in range(0, len(data) - len(data) % _REC.size, _REC.size):
                out.append(_REC.unpack_from(data, i))
        return out

    def regions(self, bid: str) -> list[tuple[int, int]]:
        """Merged disjoint mask for one block (R2, driver-side)."""
        cached = self._mask_cache.get(bid)
        if cached is None:
            cached = merge_ranges(self.log_records(bid))
            self._mask_cache[bid] = cached
        return cached

    def missing(self, bid: str, start: int, end: int) -> list[tuple[int, int]]:
        """R1 driver-side: gaps of [start, end) not in the mask."""
        gaps = []
        pos = start
        for s, e in self.regions(bid):
            if e <= pos:
                continue
            if s >= end:
                break
            if s > pos:
                gaps.append((pos, min(s, end)))
            pos = max(pos, e)
            if pos >= end:
                break
        if pos < end:
            gaps.append((pos, end))
        return gaps

    def coverage(self, bid: str) -> tuple[int, int]:
        """A1: (populated_region_count, populated_size)."""
        m = self.regions(bid)
        return len(m), sum(e - s for s, e in m)

    # -- data ----------------------------------------------------------

    def _pwrite(self, bid: str, start: int, data: bytes) -> None:
        path = self._data_path(bid)
        if not os.path.exists(path):
            open(path, "ab").close()
        if data:
            with open(path, "r+b") as f:
                f.seek(start)
                f.write(data)

    def log_range(self, bid: str, start: int, end: int) -> None:
        with open(self.new_segment_path(bid), "wb") as f:
            f.write(_REC.pack(start, end))
        if bid in self._mask_cache:
            self._mask_cache[bid] = merge_ranges(
                self._mask_cache[bid] + [(start, end)]
            )

    def write_range(self, bid: str, start: int, data: bytes) -> None:
        """Positioned write + own log segment append (no locks)."""
        self._pwrite(bid, start, data)
        self.log_range(bid, start, start + len(data))

    def commit_chunk(self, bid: str, start: int, end: int, data: bytes) -> None:
        """Fetch-task commit: write whatever the remote returned but log
        the FULL requested chunk — a short read means end-of-block, and
        logging the request keeps ensure_cached idempotent (otherwise
        the EOF tail re-fetches forever). Reads past EOF clamp at the
        sparse file's size."""
        self._pwrite(bid, start, data)
        self.log_range(bid, start, end)

    def read(self, bid: str, start: int = 0, length: int | None = None) -> bytes:
        """Read populated bytes; raises if the range has gaps."""
        end_known = None
        if length is not None:
            end_known = start + length
            gaps = self.missing(bid, start, end_known)
            if gaps:
                raise ValueError(f"uncached ranges for {bid}: {gaps}")
        with open(self._data_path(bid), "rb") as f:
            f.seek(start)
            return f.read(length) if length is not None else f.read()

    def compact(self, bid: str) -> None:
        """Fold all log segments into one (R6 compaction job's local
        step): write the merged mask as a single segment, drop the rest."""
        merged = self.regions(bid)
        segs = glob.glob(self._segment_glob(bid))
        out = self.new_segment_path(bid)
        with open(out, "wb") as f:
            for s, e in merged:
                f.write(_REC.pack(s, e))
        for seg in segs:
            os.unlink(seg)


def merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Driver-side R2 for small per-block masks."""
    out: list[tuple[int, int]] = []
    for s, e in sorted(ranges):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


TRANSFER_LOG_DIR = "transfers"


def transfer_events(spark: SparkSession, freezer_root: str) -> DataFrame:
    """T5/T6 producer surface: the per-fetch telemetry log as a
    DataFrame (bid, ts, offset, end, bytes, latency_ms) — the input to
    monitor.transfer_rates / latency_percentiles /
    stateful_transfer_status (readStream the same directory for the
    live variant). Reference instruments every remote read the same way
    (core/freezer.go:241-288)."""
    path = os.path.join(freezer_root, TRANSFER_LOG_DIR)
    if not glob.glob(os.path.join(path, "*.parquet")):
        return spark.createDataFrame(
            [],
            "bid string, ts timestamp, offset long, `end` long, "
            "bytes long, latency_ms double",
        )
    df = spark.read.parquet(path)
    return df.withColumn("ts", F.timestamp_micros(F.col("ts_us"))).select(
        "bid", "ts", "offset", "end", "bytes", "latency_ms"
    )


def _write_transfer_segment(freezer_root: str, rows: list[tuple]) -> None:
    """One parquet segment per fetch task (executor-side, no locks) —
    same multi-file commit discipline as the region log."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(freezer_root, TRANSFER_LOG_DIR)
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "bid": pa.array(cols[0], pa.string()),
            "ts_us": pa.array(cols[1], pa.int64()),
            "offset": pa.array(cols[2], pa.int64()),
            "end": pa.array(cols[3], pa.int64()),
            "bytes": pa.array(cols[4], pa.int64()),
            "latency_ms": pa.array(cols[5], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(path, f"{uuid.uuid4().hex}.parquet"))


def plan_chunks(
    freezer: SparseFreezer,
    requests: Iterable[tuple[str, int, int]],
    chunk_size: int = CHUNK_SIZE,
    readahead: int = 0,
) -> list[tuple[str, int]]:
    """The fetch plan, driver-side: chunk-align each (bid, qstart, qend)
    request (R5) after extending it by the readahead window, take its
    gaps against the cached mask (R1), and expand the gaps to a
    deduplicated, sorted list of (bid, chunk_start) pairs (T2
    coalescing: overlapping requests share chunks)."""
    chunks: set[tuple[str, int]] = set()
    for bid, qstart, qend in requests:
        start = (qstart // chunk_size) * chunk_size
        end = -(-(qend + readahead) // chunk_size) * chunk_size
        for s, e in freezer.missing(bid, start, end):
            first = (s // chunk_size) * chunk_size
            chunks.update((bid, c) for c in range(first, e, chunk_size))
    return sorted(chunks)


def _fetch_missing(
    spark: SparkSession,
    freezer_root: str,
    remote_factory,
    requests: Iterable[tuple[str, int, int]],
    chunk_size: int,
    readahead: int,
) -> dict:
    """Plan ``requests`` on the driver and fetch the missing chunks in
    one executor-side job; no job at all when nothing is missing."""
    chunks = plan_chunks(
        SparseFreezer(freezer_root), requests, chunk_size, readahead
    )
    if not chunks:
        return {"chunks_fetched": 0, "bytes_fetched": 0}

    def fetch(rows):
        import time as _time

        remote = remote_factory()
        fz = SparseFreezer(freezer_root)
        n = b = 0
        events = []
        for bid, start in rows:
            end = start + chunk_size
            t0 = _time.monotonic()
            data = remote.read_block(bid, start, chunk_size)
            lat_ms = (_time.monotonic() - t0) * 1000.0
            fz.commit_chunk(bid, start, end, data)
            n += 1
            b += len(data)
            events.append(
                (bid, int(_time.time() * 1_000_000), start, end, len(data), lat_ms)
            )
        if events:
            _write_transfer_segment(freezer_root, events)
        yield (n, b)

    sc = spark.sparkContext
    stats = (
        sc.parallelize(chunks, min(len(chunks), sc.defaultParallelism))
        .mapPartitions(fetch)
        .collect()
    )
    return {
        "chunks_fetched": sum(s[0] for s in stats),
        "bytes_fetched": sum(s[1] for s in stats),
    }


def ensure_cached(
    spark: SparkSession,
    freezer_root: str,
    remote_factory,
    requests: DataFrame,
    chunk_size: int = CHUNK_SIZE,
    readahead: int = 0,
) -> dict:
    """T1 distributed: materialize every missing chunk of the requested
    (bid, qstart, qend) ranges into the sparse cache. The requests are
    collected once and planned on the driver against the region mask
    (``plan_chunks``); the missing chunks are fetched on executors
    (mapPartitions, one remote connection per partition). Short remote
    reads self-clamp at end-of-block (``commit_chunk``). Idempotent: a
    re-run plans no chunks and starts no fetch job. Each fetch task
    also appends a telemetry segment (bid, ts, offset, bytes, latency)
    to <root>/transfers — the producer behind the T5/T6 monitoring
    queries (see transfer_events; reference:
    core/freezer.go:241-288). Returns {'chunks_fetched',
    'bytes_fetched'}."""
    rows = requests.select("bid", "qstart", "qend").collect()
    return _fetch_missing(
        spark, freezer_root, remote_factory, [tuple(r) for r in rows],
        chunk_size, readahead,
    )


def stream_ensure_cached(
    spark: SparkSession,
    requests_path: str,
    freezer_root: str,
    remote_factory,
    chunk_size: int = CHUNK_SIZE,
    readahead: int = 0,
):
    """T1/T2 live: a Structured Streaming source of read requests
    (bid, qstart, qend) drives the chunk-fetch job per micro-batch via
    foreachBatch. Within a batch, coalescing happens in the driver-side
    plan (chunk dedup); across batches, the region mask makes re-requests
    no-ops — the streaming equivalent of the reference's background
    copier joining outstanding requests. Returns the started query;
    caller awaits/stops it."""
    stream = spark.readStream.schema(
        "bid string, qstart long, qend long"
    ).parquet(requests_path)

    def batch(df, _batch_id):
        ensure_cached(
            df.sparkSession,
            freezer_root,
            remote_factory,
            df,
            chunk_size=chunk_size,
            readahead=readahead,
        )

    return (
        stream.writeStream.foreachBatch(batch)
        .trigger(availableNow=True)
        .start()
    )


def read_through(
    spark: SparkSession,
    freezer_root: str,
    remote_factory,
    bid: str,
    start: int,
    length: int,
    chunk_size: int = CHUNK_SIZE,
    readahead: int = READAHEAD,
) -> bytes:
    """S7 convenience: ensure the range is cached (with readahead) then
    serve the exact bytes from the sparse file. The single range goes
    straight to the driver-side planner, so a cached range starts no
    Spark job."""
    _fetch_missing(
        spark, freezer_root, remote_factory, [(bid, start, start + length)],
        chunk_size, readahead,
    )
    # the fetch logged full chunks, so the range is gap-free; the file
    # read itself clamps at end-of-block
    return SparseFreezer(freezer_root).read(bid, start, length)
