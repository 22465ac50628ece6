"""Sparse chunk cache tests — ports of the reference's freezer/pending
behavior (partial reads core/freezer_test.go:120-162, persistence
across restart core/freezer_test.go:72-118, request coalescing
region/pending.go:281-299)."""

from __future__ import annotations

import os
import random
import uuid

import pytest

from pufs_spark.sources import sparse
from pufs_spark.sources.remote import MemRemote


class CountingRemote:
    """Wraps a remote, logging every read (bid, offset, bytes served) —
    the read-accounting oracle for zero-re-read assertions."""

    def __init__(self, inner, counter_path: str):
        self.inner = inner
        self.counter_path = counter_path

    def read_block(self, bid, offset, length):
        data = self.inner.read_block(bid, offset, length)
        with open(self.counter_path, "a") as f:
            f.write(f"{bid} {offset} {len(data)}\n")
        return data


def _counted(counter_path: str) -> int:
    if not os.path.exists(counter_path):
        return 0
    with open(counter_path) as f:
        return sum(int(line.split()[2]) for line in f if line.strip())


def _reads(counter_path: str) -> list[tuple[str, int]]:
    """Every (bid, offset) the remote served, in log order."""
    if not os.path.exists(counter_path):
        return []
    with open(counter_path) as f:
        return [
            (bid, int(off)) for bid, off, _ in (ln.split() for ln in f if ln.strip())
        ]


def _count_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, #Spark jobs)."""
    sc = spark.sparkContext
    group = f"sparse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _chunk_union(reqs, chunk: int) -> set[tuple[str, int]]:
    """Chunk starts covered by the chunk-aligned requests."""
    return {
        (bid, c)
        for bid, qs, qe in reqs
        for c in range((qs // chunk) * chunk, qe, chunk)
    }


CHUNK = 1024  # small chunk for tests (reference default is 200KB)


@pytest.fixture()
def remote_with_block(tmp_path):
    remote = MemRemote()
    data = bytes(i % 251 for i in range(10 * CHUNK + 123))  # non-aligned size
    remote.blocks["blk1"] = data
    counter = str(tmp_path / "counter")
    return remote, data, counter


def _factory(remote, counter):
    def make():
        return CountingRemote(remote, counter)

    return make


def test_read_through_exact_bytes(spark, tmp_path, remote_with_block):
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    got = sparse.read_through(
        spark, root, _factory(remote, counter), "blk1", 100, 5000,
        chunk_size=CHUNK, readahead=0,
    )
    assert got == data[100:5100]


def test_chunk_alignment_and_counts(spark, tmp_path, remote_with_block):
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs = spark.createDataFrame(
        [("blk1", 100, 200)], "bid string, qstart long, qend long"
    )
    stats = sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    # [100, 200) aligns to exactly one chunk [0, 1024)
    assert stats == {"chunks_fetched": 1, "bytes_fetched": CHUNK}
    fz = sparse.SparseFreezer(root)
    assert fz.regions("blk1") == [(0, CHUNK)]


def test_second_run_fetches_nothing(spark, tmp_path, remote_with_block):
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs = spark.createDataFrame(
        [("blk1", 0, 3000), ("blk1", 2500, 4000)],
        "bid string, qstart long, qend long",
    )
    s1 = sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    assert s1["chunks_fetched"] == 4  # [0,4096) = 4 chunks, overlap coalesced
    before = _counted(counter)
    s2 = sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    assert s2 == {"chunks_fetched": 0, "bytes_fetched": 0}
    assert _counted(counter) == before  # zero remote bytes on re-run


def test_persistence_across_restart(spark, tmp_path, remote_with_block):
    """Reference core/freezer_test.go:72-118: a NEW freezer instance
    over the same root replays the region log and re-reads nothing."""
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs = spark.createDataFrame(
        [("blk1", 0, 2048)], "bid string, qstart long, qend long"
    )
    sparse.ensure_cached(spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK)
    before = _counted(counter)
    # "restart": fresh SparseFreezer + fresh ensure over same root
    fz2 = sparse.SparseFreezer(root)
    assert fz2.regions("blk1") == [(0, 2048)]
    assert fz2.read("blk1", 0, 2048) == data[:2048]
    s = sparse.ensure_cached(spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK)
    assert s["bytes_fetched"] == 0
    assert _counted(counter) == before


def test_request_coalescing(spark, tmp_path, remote_with_block):
    """Overlapping concurrent requests → each chunk fetched once."""
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs = spark.createDataFrame(
        [("blk1", 0, 2000)] * 8 + [("blk1", 500, 2500)] * 8,
        "bid string, qstart long, qend long",
    )
    stats = sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    assert stats["chunks_fetched"] == 3  # [0,3072), no duplicates


def test_readahead_extends_coverage(spark, tmp_path, remote_with_block):
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs = spark.createDataFrame(
        [("blk1", 0, 100)], "bid string, qstart long, qend long"
    )
    sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs,
        chunk_size=CHUNK, readahead=3 * CHUNK,
    )
    fz = sparse.SparseFreezer(root)
    (s, e), = fz.regions("blk1")
    assert s == 0 and e >= 4 * CHUNK  # request + readahead window


def test_eof_tail_is_idempotent(spark, tmp_path, remote_with_block):
    """Requesting past end-of-block must not re-fetch forever: the short
    final chunk is logged as complete and reads clamp at EOF."""
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    n = len(data)
    reqs = spark.createDataFrame(
        [("blk1", n - 50, n + 5000)], "bid string, qstart long, qend long"
    )
    s1 = sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    assert s1["chunks_fetched"] > 0
    s2 = sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    assert s2 == {"chunks_fetched": 0, "bytes_fetched": 0}
    fz = sparse.SparseFreezer(root)
    assert fz.read("blk1", n - 50, 5050) == data[n - 50 :]


def test_sparse_file_has_holes(spark, tmp_path, remote_with_block):
    """Only requested chunks are materialized — the cache is sparse."""
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs = spark.createDataFrame(
        [("blk1", 9 * CHUNK, 9 * CHUNK + 100)],
        "bid string, qstart long, qend long",
    )
    stats = sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    assert stats["chunks_fetched"] == 1
    fz = sparse.SparseFreezer(root)
    assert fz.read("blk1", 9 * CHUNK, 100) == data[9 * CHUNK : 9 * CHUNK + 100]
    with pytest.raises(ValueError):
        fz.read("blk1", 0, 100)  # head never fetched


def test_compaction(spark, tmp_path, remote_with_block):
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs = spark.createDataFrame(
        [("blk1", i * CHUNK, i * CHUNK + 10) for i in range(5)],
        "bid string, qstart long, qend long",
    )
    sparse.ensure_cached(spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK)
    fz = sparse.SparseFreezer(root)
    assert len(fz.log_records("blk1")) == 5
    fz.compact("blk1")
    assert fz.log_records("blk1") == [(0, 5 * CHUNK)]
    assert fz.regions("blk1") == [(0, 5 * CHUNK)]


def test_stream_ensure_cached(spark, tmp_path, remote_with_block):
    """A request stream fills the cache; a second identical stream
    fetches zero remote bytes (cross-batch coalescing via the mask)."""
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs_dir = str(tmp_path / "requests")
    reqs = spark.createDataFrame(
        [("blk1", 0, 2500), ("blk1", 2000, 4000), ("blk1", 6000, 6500)],
        "bid string, qstart long, qend long",
    )
    reqs.repartition(2).write.parquet(reqs_dir)

    q = sparse.stream_ensure_cached(
        spark, reqs_dir, root, _factory(remote, counter), chunk_size=CHUNK
    )
    q.awaitTermination(120)
    q.stop()
    fz = sparse.SparseFreezer(root)
    assert fz.read("blk1", 0, 4000) == data[:4000]
    assert fz.read("blk1", 6000, 500) == data[6000:6500]
    before = _counted(counter)

    # second stream over a copy of the same requests
    reqs.write.parquet(str(tmp_path / "requests2"), mode="overwrite")
    q2 = sparse.stream_ensure_cached(
        spark, str(tmp_path / "requests2"), root, _factory(remote, counter),
        chunk_size=CHUNK,
    )
    q2.awaitTermination(120)
    q2.stop()
    assert _counted(counter) == before  # zero remote bytes re-fetched


def test_transfer_telemetry_lands(spark, tmp_path, remote_with_block):
    """Every fetch task logs (bid, ts, offset, bytes, latency) events;
    the monitoring queries (T5/T6/A2 shapes) read them directly
    (reference: per-transfer instrumentation, core/freezer.go:241-288)."""
    from pufs_spark.streaming import monitor

    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    reqs = spark.createDataFrame(
        [("blk1", 0, 3 * CHUNK), ("blk1", 5 * CHUNK, 7 * CHUNK)],
        "bid string, qstart long, qend long",
    )
    stats = sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    ev = sparse.transfer_events(spark, root)
    rows = ev.collect()
    assert len(rows) == stats["chunks_fetched"] > 0
    assert sum(r["bytes"] for r in rows) == stats["bytes_fetched"]
    assert all(r["latency_ms"] >= 0 for r in rows)
    assert all(r["end"] - r["offset"] == CHUNK for r in rows)

    # T6 consumes the log: one rate row for the block
    rates = monitor.transfer_rates(ev).collect()
    assert len(rates) == 1 and rates[0]["bid"] == "blk1"
    # A2 shape consumes the log too
    pct = monitor.latency_percentiles(ev, value_col="latency_ms", by="bid")
    assert pct.collect()[0]["n"] == len(rows)

    # warm re-run: no new telemetry (nothing fetched)
    sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK
    )
    assert sparse.transfer_events(spark, root).count() == len(rows)


def test_warm_read_through_runs_no_job(spark, tmp_path, remote_with_block):
    """A cached range is answered from the driver-side mask check
    (reference core/freezer.go:602-612): no Spark job, no remote read."""
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    factory = _factory(remote, counter)
    sparse.read_through(spark, root, factory, "blk1", 100, 3000,
                        chunk_size=CHUNK, readahead=0)
    before = _counted(counter)
    got, jobs = _count_jobs(spark, lambda: sparse.read_through(
        spark, root, factory, "blk1", 200, 2000, chunk_size=CHUNK, readahead=0))
    assert got == data[200:2200]
    assert jobs == 0
    assert _counted(counter) == before


def test_cold_batch_jobs_and_single_fetch_per_chunk(
    spark, tmp_path, remote_with_block
):
    """A cold batch collects its requests and runs one fetch job; each
    chunk of the chunk-aligned union is read from the remote once."""
    remote, data, counter = remote_with_block
    root = str(tmp_path / "cache")
    raw = [("blk1", 0, 3000), ("blk1", 2500, 5000), ("blk1", 100, 200)] * 4
    reqs = spark.createDataFrame(raw, "bid string, qstart long, qend long")
    stats, jobs = _count_jobs(spark, lambda: sparse.ensure_cached(
        spark, root, _factory(remote, counter), reqs, chunk_size=CHUNK))
    assert jobs <= 2
    want = _chunk_union(raw, CHUNK)
    assert sorted(_reads(counter)) == sorted(want)  # every chunk once, no others
    assert stats == {"chunks_fetched": len(want), "bytes_fetched": len(want) * CHUNK}


def test_large_batch_fetches_exact_chunk_union(spark, tmp_path):
    """1500 requests (above any small-batch special case) over two
    blocks: the fetch is exactly the chunk-aligned union of the
    requests, each chunk read once, in at most two jobs; a repeat
    fetches nothing and runs no fetch job."""
    nchunks = 2048
    remote = MemRemote()
    for i, bid in enumerate(("big1", "big2")):
        remote.blocks[bid] = bytes((j + i) % 253 for j in range(nchunks * CHUNK))
    counter = str(tmp_path / "counter")
    rng = random.Random(1500)
    raw = []
    for _ in range(1500):
        bid = rng.choice(("big1", "big2"))
        qs = rng.randrange(nchunks * CHUNK - 2 * CHUNK)
        raw.append((bid, qs, qs + rng.randint(1, 2 * CHUNK)))
    reqs = spark.createDataFrame(raw, "bid string, qstart long, qend long")
    root = str(tmp_path / "cache")
    factory = _factory(remote, counter)

    stats, jobs = _count_jobs(spark, lambda: sparse.ensure_cached(
        spark, root, factory, reqs, chunk_size=CHUNK))
    want = _chunk_union(raw, CHUNK)
    assert len(want) < 2 * nchunks  # a sparse union, not whole blocks
    assert sorted(_reads(counter)) == sorted(want)
    assert stats == {"chunks_fetched": len(want), "bytes_fetched": len(want) * CHUNK}
    assert jobs <= 2

    again, jobs = _count_jobs(spark, lambda: sparse.ensure_cached(
        spark, root, factory, reqs, chunk_size=CHUNK))
    assert again == {"chunks_fetched": 0, "bytes_fetched": 0}
    assert jobs <= 1  # collecting the requests, no fetch job
    fz = sparse.SparseFreezer(root)
    for bid, qs, qe in raw[:50]:
        assert fz.read(bid, qs, qe - qs) == remote.blocks[bid][qs:qe]
