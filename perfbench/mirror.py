"""The ``mirror`` workload: the puFS lifecycle on a seeded, generated tree.

Set-up generates the inputs and runs one untimed warm-up round on the small
tree. Then at least two timed rounds, on fresh stores and a fresh remote each
time:

1. ``publish``: add every file to store A (``mkdir`` / ``add_immutable_bytes``),
   ``freeze``, ``push`` to a ``LocalDirRemote``.
2. ``mount_cold_walk``: ``mount_by_label`` on a fresh store B, then stat and
   read every file (all bytes come from the remote).
3. ``warm_walk``: the same walk three more times, all cached.
4. ``pufs_scan``: ``export_catalog`` of B, then a ``pufs`` content scan.
5. ``sparse_cold``: one batch of seeded byte ranges over 32 MB remote blocks
   through ``sparse.ensure_cached`` into a fresh sparse cache, then the
   requested bytes read back.
6. ``warm_read``: single ``sparse.read_through`` calls of cached ranges.
7. ``republish``: several edit rounds on store A, each replacing a share of
   the files and pushing again.

Every byte read back is checked against the generated source by SHA-256, the
remote must hold every distinct content hash, each republish must upload
exactly the new contents plus the dirty directory spine, and the sparse
cache must fetch exactly the chunk-aligned union of the requests, and nothing
when asked again.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import shutil
import time
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from harness import WARMUP, Ops, Tracer, Workspace, median, op_spark_counts, timed_loop
from pufs_spark.catalog.datastore import ROOT_INODE, DataStore
from pufs_spark.sources import sparse
from pufs_spark.sources.datasource import PufsDataSource
from pufs_spark.sources.remote import LocalDirRemote

SIZES = {
    # files, top dirs, subdirs per top dir, file size range (bytes),
    # share of files repeating earlier content, sparse blocks, requests,
    # warm reads, republish edit rounds, files edited per edit round
    "full": dict(files=2000, top=10, sub=10, min_size=32, max_size=32 << 10,
                 dup_share=0.25, blocks=2, block_size=32 << 20, requests=64,
                 warm_reads=3, edit_rounds=5, edits=20),
    "small": dict(files=200, top=4, sub=4, min_size=32, max_size=4 << 10,
                  dup_share=0.25, blocks=1, block_size=2 << 20, requests=8,
                  warm_reads=2, edit_rounds=2, edits=5),
}
LABEL = "main"
MOUNT = "m"
REQ_MIN, REQ_MAX = 4 << 10, 1 << 20
WARM_WALKS = 3  # a single warm walk is too short to time steadily


def sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def log_uniform(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return np.exp(rng.uniform(math.log(lo), math.log(hi), n)).astype(np.int64)


class Inputs:
    """Everything a run's rounds read, derived from the seed alone."""

    def __init__(self, seed: int, size: dict):
        rng = np.random.default_rng(seed)
        n = size["files"]
        self.dirs = [f"d{t:02d}/s{s:02d}" for t in range(size["top"])
                     for s in range(size["sub"])]
        sizes = log_uniform(rng, size["min_size"], size["max_size"], n)
        dup = rng.random(n) < size["dup_share"]
        self.files: dict[str, bytes] = {}  # path under the tree root -> bytes
        contents: list[bytes] = []
        for i in range(n):
            if dup[i] and contents:
                data = contents[int(rng.integers(len(contents)))]
            else:
                data = rng.bytes(int(sizes[i]))
            contents.append(data)
            self.files[f"/{self.dirs[i % len(self.dirs)]}/f{i:05d}.bin"] = data
        self.digests = {p: sha(d) for p, d in self.files.items()}
        self.user_bytes = sum(len(d) for d in self.files.values())

        # republish: the same edit plan every round (each round starts from
        # a fresh store), new contents unique so every edit uploads a block
        paths = sorted(self.files)
        self.edits: list[list[tuple[str, bytes]]] = []
        for e in range(size["edit_rounds"]):
            chosen = rng.choice(len(paths), size["edits"], replace=False)
            self.edits.append([
                (paths[i], f"edit {e} {i} ".encode()
                 + rng.bytes(int(log_uniform(rng, size["min_size"], size["max_size"], 1)[0])))
                for i in sorted(chosen)])

        # sparse: a few large remote blocks and seeded ranges over them
        bs = size["block_size"]
        self.blocks = {}
        for _ in range(size["blocks"]):
            data = rng.bytes(bs)
            self.blocks[sha(data)] = data
        bids = sorted(self.blocks)
        lengths = log_uniform(rng, REQ_MIN, REQ_MAX, size["requests"])
        self.requests = [
            (bids[int(rng.integers(len(bids)))], int(rng.integers(bs)), int(ln))
            for ln in lengths]
        # warm reads: the first half of some requested ranges
        picks = rng.choice(len(self.requests), size["warm_reads"], replace=False)
        self.warm = [(b, s, max(1, ln // 2)) for b, s, ln in
                     (self.requests[int(i)] for i in picks)]


class CountingRemote(LocalDirRemote):
    """``LocalDirRemote`` that counts calls and bytes per method."""

    def __init__(self, root: str):
        super().__init__(root)
        self.counts: Counter = Counter()

    def put_block_if_absent(self, bid: str, data: bytes) -> bool:
        new = super().put_block_if_absent(bid, data)
        self.counts["put_calls"] += 1
        self.counts["put_new"] += int(new)
        self.counts["put_bytes"] += len(data) if new else 0
        return new

    def has_block(self, bid: str) -> bool:
        self.counts["has_calls"] += 1
        return super().has_block(bid)

    def get_block(self, bid: str) -> bytes:
        data = super().get_block(bid)
        self.counts["get_calls"] += 1
        self.counts["get_bytes"] += len(data)
        return data


def walk(ds, inode: int) -> dict[str, bytes]:
    """Stat and read every file under ``inode``; path -> bytes."""
    out = {}
    stack = [(inode, "")]
    while stack:
        node, prefix = stack.pop()
        for name, child in ds.get_dir_contents(node):
            path = f"{prefix}/{name}"
            if ds.getattr(child)["is_dir"]:
                stack.append((child, path))
            else:
                out[path] = ds.read(child)
    return out


def chunk_union_bytes(requests, sizes: dict[str, int], chunk: int) -> int:
    """Bytes in the union of chunk-aligned request ranges, clamped at the end
    of each block: what a cold ``ensure_cached`` must fetch."""
    per_bid: dict[str, list[tuple[int, int]]] = {}
    for bid, start, length in requests:
        lo = start // chunk * chunk
        hi = -(-(start + length) // chunk) * chunk
        per_bid.setdefault(bid, []).append((lo, min(hi, sizes[bid])))
    total = 0
    for ranges in per_bid.values():
        end = -1
        for lo, hi in sorted(ranges):
            lo = max(lo, end)
            if hi > lo:
                total += hi - lo
                end = hi
    return total


class Mirror:
    def __init__(self, spark, ws: Workspace, inputs: Inputs, ops: Ops, tracer: Tracer,
                 name: str = "timed"):
        self.spark, self.ws, self.inp, self.ops, self.tracer = spark, ws, inputs, ops, tracer
        spark.dataSource.register(PufsDataSource)
        sparse_root = ws.path(f"sparse-remote-{name}")
        remote = LocalDirRemote(sparse_root)
        for bid, data in inputs.blocks.items():
            remote.put_block_if_absent(bid, data)
            # on disk before timing starts, so their write-back does not
            # land inside the round (LocalDirRemote keeps blocks in CAS/)
            fd = os.open(os.path.join(sparse_root, "CAS", bid), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        self.sparse_factory = functools.partial(LocalDirRemote, sparse_root)
        self.block_sizes = {b: len(d) for b, d in inputs.blocks.items()}
        self.requested = sum(min(s + ln, self.block_sizes[b]) - s
                             for b, s, ln in inputs.requests)
        # per timed round: remote counters, sparse stats, stored bytes
        self.stats: dict[str, dict] = {}

    # -- one round ----------------------------------------------------------

    def round(self, rnd: str) -> None:
        base = self.ws.path(f"round-{rnd}")
        remote = CountingRemote(os.path.join(base, "remote"))
        st = self.stats[rnd] = {}
        a = b = None

        def publish():
            ds = DataStore(os.path.join(base, "store-a"), remote=remote)
            with self.tracer.span("datastore.add"):
                inodes = {}
                for d in self.inp.dirs:
                    top, sub = d.split("/")
                    if top not in inodes:
                        inodes[top] = ds.mkdir(ROOT_INODE, top)
                    inodes[d] = ds.mkdir(inodes[top], sub)
                for path, data in self.inp.files.items():
                    parent, name = path[1:].rsplit("/", 1)
                    ds.add_immutable_bytes(inodes[parent], name, data)
            with self.tracer.span("datastore.freeze"):
                ds.freeze()
            with self.tracer.span("datastore.push"):
                ds.push(LABEL)
            return ds

        ok, a = self.ops.run(rnd, "publish", publish)
        if ok:
            have = set(remote.list_blocks())
            lost = set(self.inp.digests.values()) - have
            self.ops.check(not lost, f"{rnd}: remote lacks {len(lost)} content hashes")
            st["stored_bytes"] = sum(
                os.path.getsize(os.path.join(a.freezer.chunks_dir, n))
                for n in a.freezer.list_bids())
        st["publish"] = dict(remote.counts)

        def mount_cold_walk():
            ds = DataStore(os.path.join(base, "store-b"), remote=remote)
            inode = ds.mount_by_label(ROOT_INODE, MOUNT, LABEL)
            return ds, inode, walk(ds, inode)

        ok, res = self.ops.run(rnd, "mount_cold_walk", mount_cold_walk)
        if ok:
            b, b_inode, got = res
            self._check_files(rnd, "cold walk", got)
            ok, got = self.ops.run(
                rnd, "warm_walk", lambda: [walk(b, b_inode) for _ in range(WARM_WALKS)])
            if ok:
                for g in got:
                    self._check_files(rnd, "warm walk", g)
        st["mount"] = dict(remote.counts - Counter(st["publish"]))

        if b is not None:
            ok, rows = self.ops.run(rnd, "pufs_scan", lambda: self._scan(b, base))
            if ok:
                got = {p[len(MOUNT) + 1:]: h for p, h in rows}
                self.ops.check(got == self.inp.digests,
                               f"{rnd}: pufs scan content differs from the source")

        self._sparse(rnd, base)

        if a is not None:
            before = Counter(remote.counts)
            self.ops.run(rnd, "republish", lambda: self._republish(rnd, a, remote))
            st["republish"] = dict(Counter(remote.counts) - before)
        shutil.rmtree(base, ignore_errors=True)

    def _check_files(self, rnd: str, what: str, got: dict[str, bytes]) -> None:
        """``got`` maps paths below the mount point to the bytes read."""
        digests = {p: sha(d) for p, d in got.items()}
        self.ops.check(digests == self.inp.digests,
                       f"{rnd}: {what} read back differs from the source")

    def _scan(self, ds, base: str):
        cat = os.path.join(base, "catalog.parquet")
        with self.tracer.span("datastore.export_catalog"):
            ds.export_catalog(cat)
        with self.tracer.span("datasource.scan"):
            df = (self.spark.read.format("pufs").option("catalog", cat)
                  .option("cas", ds.freezer.chunks_dir)
                  .option("content", "true").load())
            return [(r[0], r[1]) for r in
                    df.select("path", F.sha2("content", 256)).collect()]

    def _sparse(self, rnd: str, base: str) -> None:
        root = os.path.join(base, "sparse")
        reqs = self.inp.requests

        def requests_df():
            return self.spark.createDataFrame(
                [(b, s, s + ln) for b, s, ln in reqs], "bid string, qstart long, qend long")

        def cold():
            stats = sparse.ensure_cached(self.spark, root, self.sparse_factory, requests_df())
            fz = sparse.SparseFreezer(root)
            return stats, [fz.read(b, s, ln) for b, s, ln in reqs]

        ok, res = self.ops.run(rnd, "sparse_cold", cold)
        if not ok:
            return
        stats, got = res
        self.stats[rnd]["sparse"] = stats
        self._check_ranges(rnd, "cold ranged read", reqs, got)
        want = chunk_union_bytes(reqs, self.block_sizes, sparse.CHUNK_SIZE)
        self.ops.check(stats["bytes_fetched"] == want,
                       f"{rnd}: ensure_cached fetched {stats['bytes_fetched']} bytes, "
                       f"the chunk-aligned union of the requests is {want}")
        again = sparse.ensure_cached(self.spark, root, self.sparse_factory, requests_df())
        self.ops.check(again["bytes_fetched"] == 0,
                       f"{rnd}: a repeated ensure_cached fetched {again['bytes_fetched']} bytes")

        lat = self.stats[rnd]["warm_s"] = []

        def warm():
            out = []
            for b, s, ln in self.inp.warm:
                t0 = time.perf_counter()
                with self.tracer.span("sparse.read_through"):
                    out.append(sparse.read_through(
                        self.spark, root, self.sparse_factory, b, s, ln, readahead=0))
                lat.append(time.perf_counter() - t0)
            return out

        ok, got = self.ops.run(rnd, "warm_read", warm)
        if ok:
            self._check_ranges(rnd, "warm ranged read", self.inp.warm, got)

    def _check_ranges(self, rnd, what, reqs, got) -> None:
        bad = sum(sha(g) != sha(self.inp.blocks[b][s:s + ln])
                  for (b, s, ln), g in zip(reqs, got))
        self.ops.check(bad == 0, f"{rnd}: {bad} {what}s differ from the source")

    def _republish(self, rnd: str, ds, remote) -> None:
        for edits in self.inp.edits:
            before = remote.counts["put_new"]
            spine = {"/"}
            for path, data in edits:
                parent, name = path.rsplit("/", 1)
                pinode = ds.resolve_path(parent)
                ds.remove(pinode, name)
                ds.add_immutable_bytes(pinode, name, data)
                top = parent.split("/")[1]
                spine.update({parent, "/" + top})
            with self.tracer.span("datastore.refreeze"):
                ds.freeze(ROOT_INODE)
            with self.tracer.span("datastore.repush"):
                ds.push(LABEL)
            want = len({sha(d) for _, d in edits}) + len(spine)
            got = remote.counts["put_new"] - before
            self.ops.check(got == want, f"{rnd}: republish uploaded {got} blocks, "
                                        f"expected {want} (new contents + dirty spine)")


def run(spark, ws: Workspace, seed: int, size: str, seconds: float,
        ops: Ops, tracer: Tracer, on_setup_done) -> Mirror:
    # warm-up: one round on the small tree pays the session's first
    # planning, code generation and Python worker start outside the timed
    # rounds
    Mirror(spark, ws, Inputs(seed, SIZES["small"]), ops, tracer, "warmup").round(WARMUP)
    m = Mirror(spark, ws, Inputs(seed, SIZES[size]), ops, tracer)
    on_setup_done()
    # a round is short, so a run times at least two
    timed_loop(seconds, m.round, min_rounds=2)
    return m


def detail(m: Mirror, rounds: list[str], tracer: Tracer, groups: dict) -> dict:
    """Mirror layer metrics of a traced run, each the median over the timed
    rounds: ``counts`` (reported in the record) and ``times`` (trace file)."""
    st = [m.stats[r] for r in rounds]

    def med(key, sub=None):
        vals = [s[key] if sub is None else s[key][sub] for s in st if key in s]
        return median(vals) if vals else 0

    def remote_total(key):
        return median([sum(s.get(ph, {}).get(key, 0)
                           for ph in ("publish", "mount", "republish")) for s in st])

    def span_med(name):
        return median([sum(tracer.span_seconds(name, r + "/")) for r in rounds])

    warm_ms = [x * 1e3 for s in st for x in s.get("warm_s", [])]
    cold = op_spark_counts(groups, rounds, "sparse_cold")
    scan = op_spark_counts(groups, rounds, "pufs_scan")
    counts = {
        "remote.put_calls": remote_total("put_calls"),
        "remote.put_bytes": remote_total("put_bytes"),
        "remote.has_calls": remote_total("has_calls"),
        "remote.get_calls": remote_total("get_calls"),
        "remote.get_bytes": remote_total("get_bytes"),
        "cas.stored_bytes_per_user_byte": med("stored_bytes") / m.inp.user_bytes,
        "sparse.chunks_fetched": med("sparse", "chunks_fetched"),
        "sparse.bytes_fetched": med("sparse", "bytes_fetched"),
        "sparse.fetch_amplification": med("sparse", "bytes_fetched") / m.requested,
        "sparse.cold_jobs": cold["jobs"],
        "sparse.cold_tasks": cold["tasks"],
        "sparse.warm_read_jobs":
            op_spark_counts(groups, rounds, "warm_read")["jobs"] / len(m.inp.warm),
        "datasource.scan_jobs": scan["jobs"],
        "datasource.scan_tasks": scan["tasks"],
    }
    times = {
        "datastore.add_s": span_med("datastore.add"),
        "datastore.freeze_s": span_med("datastore.freeze"),
        "datastore.push_s": span_med("datastore.push"),
        "datastore.mount_walk_s": span_med("mount_cold_walk"),
        "datastore.warm_walk_s": span_med("warm_walk"),
        "datastore.refreeze_s": span_med("datastore.refreeze"),
        "datastore.repush_s": span_med("datastore.repush"),
        "datastore.export_catalog_s": span_med("datastore.export_catalog"),
        "datasource.scan_s": span_med("datasource.scan"),
        "sparse.cold_s": span_med("sparse_cold"),
        # a handful of samples per run: a median, no tail percentile
        "sparse.warm_read_p50_ms": median(warm_ms) if warm_ms else 0.0,
        "sparse.warm_read_samples": len(warm_ms),
    }
    return {"counts": counts, "times": times}
