"""Distributed Merkle freeze must agree with the driver-side recursive
freeze, plus GC, push and the derived-FS-tree builders."""

from pyspark.sql import functions as F

from pufs_spark.catalog import queries
from pufs_spark.catalog.datastore import ROOT_INODE, DataStore
from pufs_spark.operators import intervals
from pufs_spark.plans import fstree, merkle
from pufs_spark.sources.remote import MemRemote
from tests.conftest import SF_DIR


import pytest


def test_distributed_freeze_matches_driver(spark, tmp_path):
    ds = DataStore(str(tmp_path / "s"), remote=MemRemote())
    a = ds.mkdir(ROOT_INODE, "a")
    b = ds.mkdir(a, "b")
    ds.add_immutable_bytes(b, "f1", b"one")
    ds.add_immutable_bytes(a, "f2", b"two")
    ds.add_immutable_bytes(ROOT_INODE, "top", b"three")
    driver_root_bid = ds.freeze()

    # rebuild the same tree WITHOUT dir bids and freeze distributed
    nodes = queries.nodes_df(spark, ds).withColumn(
        "bid", F.when(F.col("is_dir"), F.lit(None)).otherwise(F.col("bid"))
    )
    frozen = merkle.freeze_nodes_df(nodes)
    got = {r["inode"]: r["bid"] for r in frozen.collect()}
    for inode, node in ds.nodes.items():
        assert got[inode] == node.bid, f"inode {inode}"
    assert got[ROOT_INODE] == driver_root_bid


def test_unpushed_anti_join(spark, tmp_path):
    ds = DataStore(str(tmp_path / "s"), remote=MemRemote())
    ds.add_immutable_bytes(ROOT_INODE, "f1", b"one")
    ds.add_immutable_bytes(ROOT_INODE, "f2", b"two")
    ds.freeze()
    nodes = queries.nodes_df(spark, ds)
    inventory = spark.createDataFrame(
        [(ds.get_node(ds.resolve_path("/f1")).bid,)], "bid string"
    )
    missing = merkle.unpushed(nodes, inventory)
    assert missing.count() == 2  # f2 + root dir


def test_fs_tree_shape(spark):
    nodes = fstree.fs_nodes(spark, SF_DIR)
    by_kind = (
        nodes.groupBy("is_dir").count().collect()
    )
    counts = {r["is_dir"]: r["count"] for r in by_kind}
    assert counts[False] > 100  # order files
    assert counts[True] > 30  # root + regions + nations + customers
    # parent integrity: every parent exists and is a dir
    parents = nodes.select(F.col("parent").alias("inode")).distinct()
    dirs = nodes.where("is_dir").select("inode")
    assert parents.join(dirs, "inode", "left_anti").count() == 0
    # unique (parent, name)
    dup = nodes.groupBy("parent", "name").count().where("count > 1")
    assert dup.count() == 0


def test_fs_regions_mask(spark):
    regions = fstree.fs_regions(spark, SF_DIR)
    mask = intervals.merge_intervals(regions)
    assert intervals.validate_mask(mask).count() == 0
    # overlapping line slots must have merged: fewer mask rows than log rows
    assert mask.count() < regions.count()


def test_memoized_freeze_skips_frozen_subtrees(spark, tmp_path):
    """Dirty-bit pruning: a dir with a pre-set bid is returned as-is
    (proven by a sentinel no hash could produce); null-bid dirs
    recompute — ancestors of the sentinel embed it (differ from a clean
    freeze), unrelated dirs match the clean freeze exactly."""
    ds = DataStore(str(tmp_path / "s"), remote=MemRemote())
    a = ds.mkdir(ROOT_INODE, "a")
    b = ds.mkdir(a, "b")
    c = ds.mkdir(ROOT_INODE, "c")
    ds.add_immutable_bytes(b, "f1", b"one")
    ds.add_immutable_bytes(c, "f2", b"two")
    ds.freeze()
    nodes = queries.nodes_df(spark, ds)

    clean = nodes.withColumn(
        "bid", F.when(F.col("is_dir"), F.lit(None)).otherwise(F.col("bid"))
    )
    expected = {
        r["inode"]: r["bid"]
        for r in merkle.freeze_nodes_df(clean)
        .where("is_dir")
        .collect()
    }

    patched = clean.withColumn(
        "bid",
        F.when(F.col("inode") == b, F.lit("SENTINEL")).otherwise(F.col("bid")),
    )
    out = {
        r["inode"]: r["bid"]
        for r in merkle.freeze_nodes_df(patched, memoized=True)
        .where("is_dir")
        .collect()
    }
    assert out[b] == "SENTINEL"          # frozen subtree untouched
    assert out[c] == expected[c]          # dirty sibling recomputed
    assert out[a] != expected[a]          # ancestors embed the sentinel
    assert out[ROOT_INODE] != expected[ROOT_INODE]


def test_gc_traces_reachability(spark, tmp_path):
    """Freeze a tree, publish, then drop a subtree and refreeze: GC
    must flag exactly the dropped subtree's unshared blocks."""
    ds = DataStore(str(tmp_path / "s"), remote=MemRemote())
    keep = ds.mkdir(ROOT_INODE, "keep")
    drop = ds.mkdir(ROOT_INODE, "drop")
    ds.add_immutable_bytes(keep, "k.dat", b"keep-bytes")
    ds.add_immutable_bytes(drop, "d.dat", b"drop-bytes")
    ds.add_immutable_bytes(drop, "shared.dat", b"shared")
    ds.add_immutable_bytes(keep, "shared2.dat", b"shared")  # same content!
    ds.freeze()
    all_bids_v1 = {n.bid for n in ds.nodes.values() if n.bid}

    nodes_v1 = queries.nodes_df(spark, ds)
    edges = merkle.block_edges(nodes_v1)
    root_bid = ds.nodes[ROOT_INODE].bid
    roots = spark.createDataFrame([(root_bid,)], "bid string")
    reachable = merkle.reachable_bids(edges, roots)
    got = {r["bid"] for r in reachable.collect()}
    assert got == all_bids_v1  # everything reachable from the live root

    # drop the subtree, refreeze → v2 root
    ds.remove(drop, "d.dat")
    ds.remove(drop, "shared.dat")
    ds.remove(ROOT_INODE, "drop")
    ds.freeze()
    nodes_v2 = queries.nodes_df(spark, ds)
    v2_bids = {n.bid for n in ds.nodes.values() if n.bid}

    all_blocks = spark.createDataFrame(
        [(b,) for b in sorted(all_bids_v1 | v2_bids)], "bid string"
    )
    live = merkle.reachable_bids(
        merkle.block_edges(nodes_v2),
        spark.createDataFrame([(ds.nodes[ROOT_INODE].bid,)], "bid string"),
    )
    garbage = {r["bid"] for r in merkle.gc_candidates(all_blocks, live).collect()}

    drop_file_bid = [b for b in all_bids_v1 if b not in v2_bids]
    # the shared-content block must survive (still referenced by keep/)
    import hashlib

    shared_bid = hashlib.sha256(b"shared").hexdigest()
    assert shared_bid not in garbage
    assert hashlib.sha256(b"drop-bytes").hexdigest() in garbage
    assert hashlib.sha256(b"keep-bytes").hexdigest() not in garbage
    # garbage is exactly v1-only blocks (old manifests + dropped file)
    assert garbage == set(drop_file_bid)


def test_gc_deletes_unreachable_blocks_with_lease_guard(spark, tmp_path):
    """End-to-end F6: push v1 then v2 of one label. While v1's lease is
    live, GC deletes nothing; once it expires, GC removes EXACTLY the
    v1-only blocks, and a fresh mount of the label still reads every
    byte of v2."""
    import functools
    import hashlib

    from pufs_spark.sources.remote import (
        DEFAULT_LEASE_SECONDS,
        LocalDirRemote,
    )

    remote_dir = str(tmp_path / "remote")
    factory = functools.partial(LocalDirRemote, remote_dir)
    t = {"now": 1_000_000.0}
    ds = DataStore(
        str(tmp_path / "s"), remote=factory(), clock=lambda: t["now"]
    )
    d = ds.mkdir(ROOT_INODE, "dir")
    ds.add_immutable_bytes(d, "a.dat", b"v1-only")
    ds.add_immutable_bytes(d, "shared.dat", b"shared")
    ds.push("rel")  # v1: lease pins v1 root until now+48h
    v1_bids = set(factory().list_blocks())

    t["now"] += 1000.0
    ds.remove(d, "a.dat")
    ds.add_immutable_bytes(d, "b.dat", b"v2-only")
    ds.push("rel")  # label repointed to v2; second lease pins v2

    # both leases live → lease guard holds even for the superseded root
    stats = merkle.collect_garbage(spark, factory, now=t["now"])
    assert stats["deleted"] == 0
    before = set(factory().list_blocks())
    assert v1_bids <= before

    # v1's lease expired, v2's still live (pushed 1000s later)
    after_v1 = 1_000_000.0 + DEFAULT_LEASE_SECONDS + 1
    stats = merkle.collect_garbage(spark, factory, now=after_v1)
    remaining = set(factory().list_blocks())
    # exactly the v1-only blocks went: a.dat's content + the two stale
    # manifests (dir v1, root v1)
    assert hashlib.sha256(b"v1-only").hexdigest() not in remaining
    assert hashlib.sha256(b"shared").hexdigest() in remaining
    assert hashlib.sha256(b"v2-only").hexdigest() in remaining
    assert stats["deleted"] == 3
    deleted = before - remaining
    assert len(deleted) == 3
    assert deleted <= v1_bids  # only v1-era blocks were touched
    assert stats["live_blocks"] == len(remaining)

    # a fresh consumer can still mount the label and read every byte
    fresh = DataStore(str(tmp_path / "s2"), remote=factory())
    mnt = fresh.mount_by_label(ROOT_INODE, "mnt", "rel")
    assert fresh.read_path("/mnt/dir/shared.dat") == b"shared"
    assert fresh.read_path("/mnt/dir/b.dat") == b"v2-only"
    assert mnt


def test_freeze_strategies_agree_on_random_trees(spark, tmp_path):
    """The distributed freeze vs the driver freeze on irregular random
    trees (deep chains, empty dirs, shared content, dirs mixing file
    and dir children at every level) — seeds fixed for reproducibility."""
    import random

    for seed in (7, 23):
        rnd = random.Random(seed)
        ds = DataStore(str(tmp_path / f"s{seed}"), remote=MemRemote())
        dirs = [ROOT_INODE]
        for i in range(rnd.randint(15, 30)):
            parent = rnd.choice(dirs)
            if rnd.random() < 0.45:
                dirs.append(ds.mkdir(parent, f"d{i}"))
            else:
                content = bytes([rnd.randint(0, 3)]) * rnd.randint(0, 64)
                ds.add_immutable_bytes(parent, f"f{i}", content)
        ds.freeze()
        nodes = queries.nodes_df(spark, ds).withColumn(
            "bid", F.when(F.col("is_dir"), F.lit(None)).otherwise(F.col("bid"))
        )
        got = {r["inode"]: r["bid"] for r in merkle.freeze_nodes_df(nodes).collect()}
        for inode, node in ds.nodes.items():
            assert got[inode] == node.bid, (seed, inode)


def test_push_blocks_lease_protocol(spark, tmp_path):
    """The distributed upload path upholds GC invariant 1 when given
    the root bid: the lease lands BEFORE any upload (observable when
    the upload job dies: the pin is already there), the root block
    uploads last, and the lease is re-issued pinning the root after the
    uploads finish."""
    import functools
    import os as _os
    import time as _time

    from pufs_spark.sources.remote import LocalDirRemote

    remote_dir = str(tmp_path / "remote")
    factory = functools.partial(LocalDirRemote, remote_dir)
    ds = DataStore(str(tmp_path / "s"), remote=factory())
    d = ds.mkdir(ROOT_INODE, "dir")
    ds.add_immutable_bytes(d, "a.dat", b"alpha")
    ds.add_immutable_bytes(d, "b.dat", b"beta")
    root_bid = ds.freeze()
    freezer_root = str(tmp_path / "s" / "freezer")
    bids = ds.collect_unpushed()
    assert root_bid in bids

    # lease-first: an upload that fails (bid missing from the freezer)
    # must still leave the pin behind
    bad = spark.createDataFrame([("f" * 64,), (root_bid,)], "bid string")
    with pytest.raises(Exception):  # noqa: B017 — executor error surfaces wrapped
        merkle.push_blocks(
            bad, factory, freezer_root, root_bid=root_bid, lease_name="pin"
        )
    leases = {n: (e, b) for n, e, b in factory().get_leases()}
    assert "pin" in leases and leases["pin"][1] == root_bid
    assert leases["pin"][0] > _time.time()

    # clean run: everything lands, root block newest, lease re-issued
    to_push = spark.createDataFrame([(b,) for b in bids], "bid string")
    n = merkle.push_blocks(
        to_push, factory, freezer_root, root_bid=root_bid, lease_name="pin"
    )
    assert n == len(bids)
    remote = factory()
    assert set(remote.list_blocks()) >= set(bids)
    mtimes = {
        b: _os.stat(_os.path.join(remote_dir, "CAS", b)).st_mtime_ns
        for b in bids
    }
    assert mtimes[root_bid] >= max(
        m for b, m in mtimes.items() if b != root_bid
    )
    # published label survives a GC right after
    remote.set_root("rel", root_bid)
    stats = merkle.collect_garbage(spark, factory)
    assert stats["deleted"] == 0
    fresh = DataStore(str(tmp_path / "s2"), remote=factory())
    fresh.mount_by_label(ROOT_INODE, "m", "rel")
    assert fresh.read_path("/m/dir/a.dat") == b"alpha"

    # rerun with the root already pushed stays idempotent (root row
    # absent from to_push)
    rest = spark.createDataFrame(
        [(b,) for b in bids if b != root_bid], "bid string"
    )
    assert merkle.push_blocks(
        rest, factory, freezer_root, root_bid=root_bid
    ) == len(bids) - 1


def test_gc_chaos_concurrent_pushes(spark, tmp_path):
    """collect_garbage looping while N threads publish successive
    versions of their own labels: no block of any labeled root is ever
    deleted — every label reads back byte-identical after the dust
    settles — while orphan garbage still gets collected once the
    publishers go quiet."""
    import functools
    import threading

    from pufs_spark.sources.remote import LocalDirRemote

    remote_dir = str(tmp_path / "remote")
    factory = functools.partial(LocalDirRemote, remote_dir)
    n_threads, max_rounds = 3, 200
    stop = threading.Event()
    errs: list[Exception] = []
    final_round = [0] * n_threads

    def pusher(ti: int) -> None:
        try:
            ds = DataStore(str(tmp_path / f"s{ti}"), remote=factory())
            d = ds.mkdir(ROOT_INODE, "dir")
            for r in range(max_rounds):
                ds.add_immutable_bytes(d, f"f{r}.dat", f"t{ti}r{r}".encode() * 64)
                ds.push(f"rel{ti}")
                final_round[ti] = r
                if stop.is_set():
                    break
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    threads = [
        threading.Thread(target=pusher, args=(i,)) for i in range(n_threads)
    ]
    for t in threads:
        t.start()
    orphans = []
    try:
        for cycle in range(3):
            orphan = f"{cycle:064d}"
            factory().put_block_if_absent(orphan, b"orphan")
            orphans.append(orphan)
            merkle.collect_garbage(spark, factory)
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not errs
    # publishers quiet: one more cycle must clear the orphans without
    # touching any labeled tree
    stats = merkle.collect_garbage(spark, factory)
    assert "skipped_raced" not in stats and "skipped_inflight" not in stats
    remaining = set(factory().list_blocks())
    assert not (set(orphans) & remaining)
    for ti in range(n_threads):
        fresh = DataStore(str(tmp_path / f"v{ti}"), remote=factory())
        fresh.mount_by_label(ROOT_INODE, "m", f"rel{ti}")
        for r in range(final_round[ti] + 1):
            assert fresh.read_path(f"/m/dir/f{r}.dat") == f"t{ti}r{r}".encode() * 64


def test_gc_skips_cycle_when_push_in_flight(spark, tmp_path):
    """A lease pinning a root whose manifest hasn't landed marks an
    in-flight push (push leases BEFORE uploading): GC must delete
    NOTHING that cycle. A labeled root missing from the CAS is data
    loss and must abort instead."""
    import functools

    import pytest as _pytest

    from pufs_spark.catalog import errors as E
    from pufs_spark.sources.remote import LocalDirRemote

    remote_dir = str(tmp_path / "remote")
    factory = functools.partial(LocalDirRemote, remote_dir)
    ds = DataStore(str(tmp_path / "s"), remote=factory())
    d = ds.mkdir(ROOT_INODE, "dir")
    ds.add_immutable_bytes(d, "f.dat", b"payload")
    ds.push("rel")
    before = set(factory().list_blocks())

    # orphan garbage that a normal cycle WOULD collect
    factory().put_block_if_absent("deadbeef", b"garbage")

    # in-flight push: lease written, root manifest not uploaded yet
    factory().set_lease("inflight", 9_999_999_999.0, "0" * 64)
    stats = merkle.collect_garbage(spark, factory, now=1.0)
    assert stats["deleted"] == 0
    assert stats["skipped_inflight"] == 1
    assert before <= set(factory().list_blocks())

    # lease expires with the root never landing -> normal GC resumes,
    # the orphan goes, the labeled tree survives
    stats = merkle.collect_garbage(spark, factory, now=10_000_000_000.0)
    assert stats["deleted"] == 1  # just deadbeef
    assert before <= set(factory().list_blocks())

    # a LABELED root missing from the CAS aborts loudly
    factory().set_root("broken", "f" * 64)
    with _pytest.raises(E.CatalogError, match="data loss"):
        merkle.collect_garbage(spark, factory, now=10_000_000_000.0)


def test_gc_tolerates_label_landing_after_stale_inventory(spark, tmp_path):
    """The production `all_blocks` contract: a bucket-inventory frame
    may be HOURS older than the roots/leases GC reads (the docstring
    only requires it to predate the run). Any label that moved since
    the inventory then points at a root absent from it; if that push's
    lease is also gone or torn, the data-loss guard used to
    false-positive. GC must live-probe the store (has_block) and treat
    a present root as landed-after-snapshot — reachability BFS reads
    the live store, so tracing from it is safe — while a concurrent
    unlanded lease pin still skips the cycle."""
    import functools
    import time as _time

    from pufs_spark.sources.remote import LocalDirRemote

    remote_dir = str(tmp_path / "remote")
    factory = functools.partial(LocalDirRemote, remote_dir)

    ds = DataStore(str(tmp_path / "s"), remote=factory())
    d = ds.mkdir(ROOT_INODE, "dir")
    ds.add_immutable_bytes(d, "f0.dat", b"v0" * 64)
    ds.push("rel")                                  # version X

    # GC's inventory snapshot predates everything below
    stale_inventory = spark.createDataFrame(
        [(b,) for b in factory().list_blocks()], "bid string"
    ).localCheckpoint()

    ds.add_immutable_bytes(d, "f1.dat", b"v1" * 64)
    ds.push("rel")                                  # version Y lands fully
    y_bid = factory().get_roots()
    y = dict(y_bid)["rel"]
    # Y's own push lease has aged out (inventory older than the lease
    # horizon) — the label alone must carry it through the guard...
    for name, _exp, bid in factory().get_leases():
        if bid == y:
            factory().set_lease(name, 0, None)
    # ...while an unrelated publisher's in-flight pin is live
    factory().set_lease("m-rel", _time.time() + 3600, "f" * 64)

    stats = merkle.collect_garbage(
        spark, factory, all_blocks=stale_inventory
    )  # must NOT raise the data-loss abort
    assert stats["deleted"] == 0                    # next push in flight
    assert stats.get("skipped_inflight")

    # with the stray pin gone, GC proceeds: Y stays fully readable and
    # a planted orphan is collected even though Y postdates a (fresh)
    # inventory
    factory().set_lease("m-rel", 0, None)
    orphan = "a" * 64
    factory().put_block_if_absent(orphan, b"junk")
    stats2 = merkle.collect_garbage(spark, factory)
    assert orphan not in set(factory().list_blocks())
    fresh = DataStore(str(tmp_path / "v"), remote=factory())
    fresh.mount_by_label(ROOT_INODE, "m", "rel")
    assert fresh.read_path("/m/dir/f0.dat") == b"v0" * 64
    assert fresh.read_path("/m/dir/f1.dat") == b"v1" * 64
    assert dict(y_bid)["rel"] == y  # sanity: label unchanged


def test_strided_tile_freeze_levelwise_matches_single_task(spark):
    """The sf-scaling tiles (tools/gen_scale.py) shift every key by
    replica*1e7, which shifts customer/order INODES identically while
    root/region/nation stay shared. A depth stamp thresholding the raw
    inode (`inode < 100000` => dir depth 3) stamps every replica>0
    customer DIR at file depth; q_f1 stamps depth with pmod within the
    stride block instead. The freeze's order is structural (leaf dirs
    hash JVM-side, and a mis-stamp only makes a dir deeper than its
    parent), so both stamps must give bit-identical bids."""
    from tests.conftest import SF_DIR

    base = fstree.fs_nodes(spark, SF_DIR)
    stride = 10_000_000
    # replica 1: customer dirs + order files shift by the stride;
    # customers keep their (shared) nation parents, orders follow
    # their shifted customer parents. Distinct names avoid sibling
    # collisions, as the real tile's shifted keys do.
    shifted = (
        base.where(F.col("inode") >= 100)
        .select(
            (F.col("inode") + stride).alias("inode"),
            F.when(F.col("parent") >= 100, F.col("parent") + stride)
            .otherwise(F.col("parent")).alias("parent"),
            F.concat(F.col("name"), F.lit("~r1")).alias("name"),
            "is_dir",
            "size",
            "bid",
        )
    )
    nodes = base.unionByName(shifted)

    def stamp(frame, key):
        return frame.withColumn(
            "depth",
            F.when(F.col("inode") == 1, 0)
            .when(key < 10, 1)
            .when(key < 100, 2)
            .when(key < 100000, 3)
            .otherwise(4)
            .cast("int"),
        )

    def dir_bids(frame):
        return {
            r["inode"]: r["bid"]
            for r in merkle.freeze_nodes_df(frame)
            .where(F.col("is_dir")).select("inode", "bid").collect()
        }

    off = F.pmod(F.col("inode"), F.lit(stride))
    raw = stamp(nodes, F.col("inode"))
    # the raw stamp really does put replica-1 customer dirs at depth 4
    assert raw.where(F.col("is_dir") & (F.col("depth") == 4)).count() > 0
    pmod_bids = dir_bids(stamp(nodes, off))
    assert dir_bids(raw) == pmod_bids and pmod_bids[1] is not None
    # the shifted replica actually changed the root (sanity: the tile
    # isn't degenerate — new children reached every ancestor)
    lone = dir_bids(stamp(base, off))
    assert lone[1] != pmod_bids[1]


def test_bushy_tree_gate_counts_interior_files(spark, tmp_path):
    """A bushy tree — every dir has both a subdir and many files —
    sends its interior dirs' own file lines through the one-task
    exchange as manifest-line groups next to the dir rows (only
    leaf-dir lines hash JVM-side). Every bid must match the driver
    freeze."""
    ds = DataStore(str(tmp_path / "s"), remote=MemRemote())
    cur = ROOT_INODE
    for i in range(4):
        cur = ds.mkdir(cur, f"d{i}")
        for j in range(10):
            ds.add_immutable_bytes(cur, f"f{j}", f"{i}-{j}".encode())
    driver_root = ds.freeze()
    nodes = queries.nodes_df(spark, ds).withColumn(
        "bid", F.when(F.col("is_dir"), F.lit(None)).otherwise(F.col("bid"))
    )
    got = {r["inode"]: r["bid"] for r in merkle.freeze_nodes_df(nodes).collect()}
    for inode, node in ds.nodes.items():
        assert got[inode] == node.bid, inode
    assert got[ROOT_INODE] == driver_root


def test_memoized_freeze_on_dirless_frame(spark, tmp_path):
    """ADVICE r13: sum() over zero dir rows is SQL NULL — the memoized
    gate must treat it as 0 dirty (prune path) instead of raising
    TypeError on None <= float. A dir-less frame is necessarily
    orphaned (files hang off dirs), so with_depth legitimately drops
    the unreachable rows — the pinned contract is ONLY that the gate
    runs; before the fix this line raised."""
    ds = DataStore(str(tmp_path / "s"), remote=MemRemote())
    a = ds.mkdir(ROOT_INODE, "a")
    ds.add_immutable_bytes(a, "f1", b"one")
    ds.freeze()
    nodes = queries.nodes_df(spark, ds).where(~F.col("is_dir"))
    out = merkle.freeze_nodes_df(nodes, memoized=True)
    assert out.count() == 0  # orphans dropped, no TypeError raised


def test_small_catalog_gate_runs_one_job(spark, tmp_path):
    """Building a non-memoized freeze runs no Spark action; building a
    memoized one runs exactly the jobs of its one gate aggregate
    (n, dirty). The shared frames persist lazily, so no subplan
    executes at build time. Depth is stamped (the real-catalog fast
    path) so the pointer-doubling derivation — which runs its own
    convergence jobs — stays out of the count."""
    ds = DataStore(str(tmp_path / "s"), remote=MemRemote())
    a = ds.mkdir(ROOT_INODE, "a")
    ds.add_immutable_bytes(a, "f1", b"one")
    ds.add_immutable_bytes(ROOT_INODE, "top", b"two")
    nodes = (
        queries.nodes_df(spark, ds)
        .withColumn(
            "bid",
            F.when(F.col("is_dir"), F.lit(None)).otherwise(F.col("bid")),
        )
        .withColumn(
            "depth",
            F.when(F.col("inode") == ROOT_INODE, 0)
            .when(F.col("parent") == ROOT_INODE, 1)
            .otherwise(2)
            .cast("int"),
        )
    )
    sc = spark.sparkContext

    def jobs_of(group, build):
        sc.setJobGroup(group, group)
        try:
            out = build()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # the gate aggregate alone (one action; AQE may split it into a few
    # stage jobs — count them so the memoized pin below is exact)
    _, gate_jobs = jobs_of(
        "freeze_gate_only",
        lambda: nodes.agg(
            F.expr("sum(CASE WHEN is_dir THEN 1 ELSE 0 END)").alias("n"),
            F.expr(
                "sum(CASE WHEN is_dir AND bid IS NULL THEN 1 ELSE 0 END)"
            ).alias("dirty"),
        ).first(),
    )
    assert gate_jobs >= 1
    expect = ds.freeze()

    frozen, jobs = jobs_of("freeze_build", lambda: merkle.freeze_nodes_df(nodes))
    assert jobs == 0, f"non-memoized freeze build ran {jobs} jobs"
    got = {r["inode"]: r["bid"] for r in frozen.collect()}
    assert got[ROOT_INODE] == expect

    memo, memo_jobs = jobs_of(
        "freeze_build_memoized",
        lambda: merkle.freeze_nodes_df(nodes, memoized=True),
    )
    assert memo_jobs == gate_jobs, (
        f"memoized freeze build ran {memo_jobs} jobs vs {gate_jobs} for "
        "the gate aggregate alone — an extra build-time action crept in"
    )
    got = {r["inode"]: r["bid"] for r in memo.collect()}
    assert got[ROOT_INODE] == expect


def test_repeat_freeze_keeps_shared_frames(spark, tmp_path):
    """VERDICT r15 #2: the r15 FIFO budget self-cancelled sharing on
    repeated freezes — freeze N+1's persist() was a no-op against the
    canonically-identical entry still registered from freeze N, and the
    budget eviction then unpersisted that shared entry, so every freeze
    after the first executed with NO cross-branch sharing. r16 scopes
    the frame lifetime per invocation (drain at freeze start), which
    must leave the SECOND freeze's frames genuinely cached, and must
    empty the registry of the first freeze's handles (its blocks are
    dropped before the new persists, so no freeze reads a
    predecessor's materialization; a fresh process trivially cannot —
    the frames are memory-only, nothing is written out)."""
    ds = DataStore(str(tmp_path / "s"), remote=MemRemote())
    a = ds.mkdir(ROOT_INODE, "a")
    b = ds.mkdir(a, "b")
    ds.add_immutable_bytes(b, "f1", b"one")
    ds.add_immutable_bytes(a, "f2", b"two")
    expect = ds.freeze()
    nodes = (
        queries.nodes_df(spark, ds)
        .withColumn(
            "bid",
            F.when(F.col("is_dir"), F.lit(None)).otherwise(F.col("bid")),
        )
        .withColumn(
            "depth",
            F.when(F.col("inode") == ROOT_INODE, 0)
            .when(F.col("parent") == ROOT_INODE, 1)
            .otherwise(2)
            .cast("int"),
        )
    )
    frozen1 = merkle.freeze_nodes_df(nodes)
    got1 = {r["inode"]: r["bid"] for r in frozen1.collect()}
    frames1 = list(merkle._ACTIVE_FREEZE_FRAMES)
    assert frames1, "freeze registered no shared frames"

    frozen2 = merkle.freeze_nodes_df(nodes)
    frames2 = list(merkle._ACTIVE_FREEZE_FRAMES)
    assert frames2, "second freeze registered no shared frames"
    # the registry holds ONLY the second freeze's handles
    ids1 = {id(f) for f in frames1}
    assert not ids1 & {id(f) for f in frames2}
    # and those frames are genuinely cached (the r15 FIFO left the
    # second freeze's persist() cancelled: storageLevel came back NONE)
    for f in frames2:
        sl = f.storageLevel
        assert sl.useMemory or sl.useDisk, (
            f"second freeze's shared frame lost its persist: {sl}"
        )
    got2 = {r["inode"]: r["bid"] for r in frozen2.collect()}
    assert got1 == got2
    assert got2[ROOT_INODE] == expect
