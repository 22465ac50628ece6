"""Distributed Merkle freeze / push / GC — F1-F3 and F6 as DataFrame
plans for catalogs too big for driver recursion.

Reference: bottom-up memoized freeze (core/datastore.go:1116-1199),
collect-unpushed DFS (core/datastore.go:1074-1114), sequential push loop
(core/datastore.go:999-1072, comment at :1032 'could do in parallel' —
here it IS parallel: uploads run executor-side per partition).

Freeze plan (freeze_nodes_df), one physical shape at every size:
    file_lines = files.groupBy(parent).agg(collect_list(manifest line))
    leaf dirs  → sha2 over their sorted lines, JVM-side, distributed
    interior   → dir rows + line groups, repartition(1), one Python
                 task hashes the interior DAG bottom-up in memory
Only dirty nodes re-hash (memoization = a set bid is its subtree), so
an incremental freeze reads just the dirty dirs' lines — the same
asymptotics as the reference's dirty-bit pruning.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pufs_spark.catalog.datastore import ROOT_INODE

# Shared-subplan frames of the in-flight freeze (see _shared). Their
# lifetime is one freeze_nodes_df invocation: it drains the previous
# freeze's frames before persisting its own, so every freeze keeps
# in-run sharing and no run reads a predecessor's cached blocks (the
# bench must recompute from parquet every run).
_ACTIVE_FREEZE_FRAMES: list = []
_ACTIVE_FREEZE_LOCK = threading.Lock()


def _drain_freeze_frames() -> None:
    """Unpersist every registered frame of previous freezes. Called at
    the START of freeze_nodes_df: the previous invocation's lazy result
    may still be held by a caller (recompute-from-lineage keeps it
    correct), but its cached blocks must not serve this invocation."""
    with _ACTIVE_FREEZE_LOCK:
        frames, _ACTIVE_FREEZE_FRAMES[:] = (
            list(_ACTIVE_FREEZE_FRAMES),
            [],
        )
    for old in frames:
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 — dead context
            pass


def _shared(df: DataFrame) -> DataFrame:
    """Dedup a subplan that feeds multiple union/join branches.

    Spark re-executes a subplan per consuming branch (no cross-branch
    CSE), so these frames must be materialized once. r12-r14 used
    ``localCheckpoint(eager=False)``, but on an AQE plan Spark 4.1
    EXECUTES the subplan's query stages at checkpoint CREATION time
    (toRdd finalizes the adaptive plan) — three SERIAL stage
    executions during plan construction, ~0.6 s per freeze at sf0.1
    and the bulk of the freeze's sequential-job count at sf10
    (measured r15). ``persist()`` is genuinely lazy: all branches
    share one in-memory materialization that happens INSIDE the final
    job, where independent stages run concurrently. Frame lifetime is
    per freeze invocation (see _drain_freeze_frames)."""
    p = df.persist()
    with _ACTIVE_FREEZE_LOCK:
        _ACTIVE_FREEZE_FRAMES.append(p)
    return p


def with_depth(nodes: DataFrame, max_depth: int = 64) -> DataFrame:
    """Annotate each node with its depth (root=0) via pointer doubling:
    ceil(log2(max_depth)) self-joins, each advancing every node's
    ancestor pointer 2^i hops (root self-loops at distance 0, so
    converged rows are fixpoints). No driver actions, and — unlike
    level-synchronous BFS — no frontier broadcast, so it holds at
    billion-node catalogs where a frontier is itself huge.

    Fast path: a catalog that already carries a ``depth`` column (real
    catalogs store it — it's derivable at ingest and invariant under
    everything but rename-across-dirs) skips the doubling entirely."""
    if "depth" in nodes.columns:
        return nodes
    reach = nodes.select(
        "inode",
        F.col("parent").alias("anc"),
        F.when(F.col("inode") == ROOT_INODE, F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("depth"),
    )
    rounds = max(1, (max_depth - 1).bit_length())
    for i in range(rounds):
        hop = reach.select(
            F.col("inode").alias("_j"),
            F.col("anc").alias("_janc"),
            F.col("depth").alias("_jd"),
        )
        reach = reach.join(hop, F.col("anc") == F.col("_j")).select(
            "inode",
            F.col("_janc").alias("anc"),
            (F.col("depth") + F.col("_jd")).alias("depth"),
        )
        # Lineage doubles per self-join round, so it must be cut — but
        # eager checkpoints cost a job each. Let the first three rounds
        # (8-hop reach, covers most FS trees) run as one lazy plan
        # (2^3 copies of a cheap base scan), then checkpoint + test
        # convergence each round for the deep-tree tail.
        if i >= 2:
            reach = reach.localCheckpoint()
            if reach.where(F.col("anc") != ROOT_INODE).isEmpty():
                break
    return nodes.join(reach.select("inode", "depth"), "inode")


# One child's manifest line — MUST match
# catalog.datastore.encode_dir_manifest: name\tis_dir\tbid\tsize.
# Kept as a SQL fragment so callers can FUSE it into a single-parse
# aggregate expression (r16: each extra DataFrame op re-analyzes the
# whole freeze tree JVM-side, ~2 ms/op at sf0.1 — the build was 0.84 s
# of py4j/analysis across ~47 ops).
_MANIFEST_LINE_SQL = (
    "concat_ws('\\t', name,"
    " CASE WHEN is_dir THEN '1' ELSE '0' END,"
    " bid, CAST(size AS STRING))"
)


def _freeze_dirs(leveled: DataFrame, memoized: bool, prune: bool) -> DataFrame:
    """Dir bids, bottom-up: the LEAF tier (dirs with no dir children —
    in a real FS tree nearly all dirs, holding nearly all file lines)
    is hashed DISTRIBUTED by a pure sha2-over-sorted-lines expression;
    the interior DAG — one branching factor smaller per level — flows,
    together with the leaf bids as manifest lines and the interior
    dirs' own file lines, into a single-partition mapInPandas that
    finishes the bottom-up hash in memory. Two shuffles + one
    Arrow-batched task.

    The leaf tier was the serial bottleneck: at the sf1.0 tile
    (1.65M nodes, 150k leaf dirs over 1.5M file lines) the previous
    all-in-one-task plan spent ~7 s single-threaded in the Python DAG
    loop; hashing the leaves JVM-side cuts the task's input to the
    interior dir count and makes the catalog-sized work whole-stage
    codegen.

    The one task holds the interior dirs plus their manifest lines, as
    the reference's in-process freeze holds the whole tree. Measured on
    a 4-CPU, 15 GB host with a 5g driver: a complete 4-ary tree of 5M
    dirs and 5M files (1.25M interior dirs, 1.25M interior-dir files)
    freezes in 115 s with the Python worker peaking at 2.4 GB RSS; a
    level-synchronous plan (one job chain per tree level) took 156 s on
    the same frame for the same bids.

    ``prune`` (memoized, mostly clean) drops the file lines and line
    groups of clean dirs before they are shuffled.

    Matches encode_dir_manifest exactly: lines sorted codepoint-wise
    (Python ``sort`` == Spark ``array_sort`` == UTF8String binary
    order on strings), null fields skipped (``concat_ws`` semantics),
    empty dirs hash the empty manifest (sha256(""))."""
    d_all = leveled.where(F.col("is_dir"))
    files = leveled.where(~F.col("is_dir"))
    if prune:
        # The reference's core incremental contract
        # (core/datastore.go:1123-1125): a dir with a bid IS its
        # unchanged subtree, so its file lines are never read — prune
        # them BEFORE the catalog-sized groupBy, not after. Without
        # this, a 0%-dirty freeze paid the same file-lines shuffle as
        # a full one (measured 5.4 s vs 5.4 s at sf1.0, r12
        # tools/profile_f1_stages.py); with it, the shuffle is
        # O(dirty files). ``prune`` holds only while at most
        # _MEMO_MAX_DIRTY_FRAC of the dirs are dirty, so the broadcast
        # dirty set is at most half the dir count of inode longs, and
        # the prune is a map-side hash filter — no extra exchange.
        dirty_ids = _shared(
            d_all.where(F.col("bid").isNull())
            .select(F.col("inode").alias("parent"))
        )
        files = files.join(F.broadcast(dirty_ids), "parent", "left_semi")
    # Frames feeding MULTIPLE union branches below: Spark re-executes a
    # subplan per branch (no cross-branch CSE): unshared, the
    # collect_list aggregation ran twice and the interior-ids distinct
    # three times (~4.5 s of the 7 s sf1.0 wall, r12). _shared persists
    # each so it materializes once, inside the final job (see _shared
    # for why not localCheckpoint). persist() is MEMORY_AND_DISK, so a
    # frame larger than executor memory spills instead of failing.
    file_lines_all = _shared(
        files.groupBy(F.col("parent").alias("inode")).agg(
            F.expr(f"collect_list({_MANIFEST_LINE_SQL})").alias("_flines")
        )
    )
    # dirs having at least one DIR child (root's self-loop excluded)
    interior_ids = _shared(
        d_all.where(F.col("parent") != F.col("inode"))
        .select(F.col("parent").alias("inode"))
        .distinct()
    )

    # sha256("") — a leaf dir with no file lines hashes the empty
    # manifest; kept as a literal so the hash happens BEFORE the join
    EMPTY_MANIFEST_SHA = (
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    )
    # Hash the leaf manifests ON the aggregation output, then join the
    # 64-char bids — not the manifest arrays — to the dir rows. The
    # previous shape joined _flines into d_all first and hashed after,
    # shipping the whole catalog's manifest text through one more
    # exchange (r12 profile: the leaf tier was 2.1 s of the 6.3 s
    # sf1.0 wall, most of it that join). Single-parse (r16).
    leaf_hash = file_lines_all.selectExpr(
        "inode",
        "sha2(concat(array_join(array_sort(_flines), '\\n'), '\\n'), 256)"
        " AS _fbid",
    )
    computed_sql = f"coalesce(_fbid, '{EMPTY_MANIFEST_SHA}')"
    leaf_bid_sql = (
        f"coalesce(bid, {computed_sql})" if memoized else computed_sql
    )
    # Finished leaf bids — these NEVER enter the single task (r12: the
    # task previously received every leaf dir as a pre-memoized row,
    # so the repartition(1) exchange and the Python loop were both
    # leaf-count-sized — 150k rows / ~2-3 s of the sf1.0 wall for work
    # whose only remaining purpose was contributing ONE manifest line
    # to the parent). Checkpointed: feeds the parent-lines branch and
    # the final output union.
    leaf_bids = _shared(
        d_all.join(interior_ids, "inode", "left_anti")
        .join(leaf_hash, "inode", "left")
        .selectExpr(
            "inode",
            "CAST(parent AS BIGINT) AS parent",
            "name",
            "CAST(size AS BIGINT) AS size",
            leaf_bid_sql + " AS bid",
        )
    )
    # Each hashed leaf dir becomes one manifest line in its PARENT's
    # group — JVM-side groupBy, so the task's input shrinks to the
    # INTERIOR DAG: interior dir rows + line groups (their own file
    # children + their leaf-dir children).
    # is_dir is literally TRUE for every hashed leaf dir, so the
    # manifest line folds to the '1' branch and the two withColumns
    # fuse into the aggregate expression (r16 single-parse; same
    # values, two fewer full-tree analyses per build)
    leaf_lines = (
        leaf_bids.where(F.col("parent") != F.col("inode"))
        .groupBy(F.col("parent").alias("inode"))
        .agg(
            F.expr(
                "collect_list(concat_ws('\\t', name, '1', bid,"
                " CAST(size AS STRING)))"
            ).alias("_flines")
        )
    )
    if prune:
        # a clean interior parent short-circuits on its bid and never
        # reads lines — don't ship its (leaf-count-sized) line groups
        # through the single-task exchange
        dirty_parents = (
            d_all.where(F.col("bid").isNull())
            .select(F.col("inode"))
        )
        leaf_lines = leaf_lines.join(
            F.broadcast(dirty_parents), "inode", "left_semi"
        )

    def _as_line_rows(grouped: DataFrame) -> DataFrame:
        return grouped.selectExpr(
            "inode",
            "CAST(NULL AS BIGINT) AS parent",
            "CAST(NULL AS STRING) AS name",
            "CAST(NULL AS BIGINT) AS size",
            "CAST(NULL AS INT) AS depth",
            "CAST(NULL AS STRING) AS bid",
            "_flines",
        )

    file_lines = _as_line_rows(
        file_lines_all.join(interior_ids, "inode", "left_semi")
    ).unionByName(_as_line_rows(leaf_lines))
    dirs = d_all.join(interior_ids, "inode", "left_semi").selectExpr(
        "inode",
        "CAST(parent AS BIGINT) AS parent",
        "name",
        "CAST(size AS BIGINT) AS size",
        "depth",
        "bid" if memoized else "CAST(NULL AS STRING) AS bid",
        "CAST(NULL AS ARRAY<STRING>) AS _flines",
    )

    def hash_part(pdfs):
        import hashlib  # noqa: PLC0415 — executor-side import

        import pandas as pd  # noqa: PLC0415

        batches = list(pdfs)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        is_dir_row = pdf["parent"].notna()  # file-line rows carry no parent
        # a dir can receive TWO line groups — its own file children and
        # its hashed leaf-dir children — so merge, don't overwrite
        flines: dict[int, list] = {}
        for i, arr in zip(
            pdf.loc[~is_dir_row, "inode"], pdf.loc[~is_dir_row, "_flines"]
        ):
            flines.setdefault(int(i), []).extend(arr)
        rows: dict[int, tuple] = {}
        kids: dict[int, list[int]] = {}
        d = pdf[is_dir_row]
        for ino, par, name, size, depth, bid in zip(
            d["inode"], d["parent"], d["name"], d["size"], d["depth"], d["bid"]
        ):
            ino, par = int(ino), int(par)
            rows[ino] = (name, size, int(depth), bid)
            if par != ino:  # root self-loops
                kids.setdefault(par, []).append(ino)
        bids: dict[int, str] = {}
        for ino in sorted(rows, key=lambda i: -rows[i][2]):  # deepest first
            _name, _size, _depth, pre = rows[ino]
            if pre is not None and not (isinstance(pre, float) and pd.isna(pre)):
                bids[ino] = pre  # memoized: set bid == clean subtree
                continue
            lines = list(flines.get(ino, []))
            for ci in kids.get(ino, []):
                cname, csize, _cd, _cb = rows[ci]
                parts = [str(cname), "1", bids[ci]]
                if not pd.isna(csize):
                    parts.append(str(int(csize)))
                lines.append("\t".join(parts))
            lines.sort()
            manifest = ("\n".join(lines) + "\n") if lines else ""
            bids[ino] = hashlib.sha256(manifest.encode()).hexdigest()
        yield pd.DataFrame(
            {"inode": list(bids), "bid": [bids[k] for k in bids]}
        )

    interior_bids = (
        dirs.unionByName(file_lines)
        # repartition(1), NOT coalesce(1): coalesce is not a shuffle
        # boundary, so it collapsed the whole upstream reduce side —
        # the collect_list aggregation, the leaf joins, and the sha2
        # leaf hashing — into the same single task (measured: 9.2 s at
        # sf1.0 with the leaf tier "distributed" but coalesced serial).
        # A repartition exchange keeps everything above it parallel and
        # single-tasks only the interior-DAG hash below, on the
        # interior-dir-count-sized rows that survive.
        .repartition(1)
        .mapInPandas(hash_part, "inode long, bid string")
    )
    return interior_bids.unionByName(leaf_bids.select("inode", "bid"))


# Dirty-DIR fraction past which a memoized freeze runs the full plan
# instead: measured crossover at sf1.0 (tools/profile_f1_crossover.py,
# r13) — memoized ties full up to ~40% dirty dirs and loses ~1.7x by
# ~65%; 0.5 splits the measured bracket.
_MEMO_MAX_DIRTY_FRAC = 0.5


def freeze_nodes_df(
    nodes: DataFrame,
    max_depth: int = 64,
    memoized: bool = False,
) -> DataFrame:
    """F1 distributed: returns nodes with dir bids filled bottom-up.
    File nodes must already carry bids (content hashing happens at
    ingest: sha2 over binaryFile content — see ingest_files).

    One physical plan at every size (see _freeze_dirs): one
    catalog-sized groupBy collects per-dir file manifest lines, the
    LEAF dir tier hashes JVM-side, and only the interior DAG — a
    branching factor smaller than the dir count — reaches a single
    Arrow-batched task; the dir bids are broadcast-joined back onto the
    dir rows. The whole freeze is ONE action, whose shuffle stages AQE
    submits as separate jobs (sf0.1: ~1 s; sf10 / 61.5M rows: ~17 s,
    see BASELINE), and building it runs no Spark action unless
    ``memoized`` or a derived depth needs one.

    ``memoized=True`` is the reference's dirty-bit pruning
    (core/datastore.go:1123-1125): dirs that already carry a bid are
    returned as-is and only null-bid (dirty) paths re-hash — safe
    because every mutation nulls bids up to the root (M8), so a set
    bid implies an unchanged subtree."""
    # Scope the shared-frame lifetime to THIS invocation: drop the
    # previous freeze's persisted frames before building (and
    # persisting) canonically-identical ones, so every freeze gets
    # in-run sharing and no freeze can read a predecessor's blocks.
    _drain_freeze_frames()
    had_depth = "depth" in nodes.columns
    leveled = with_depth(nodes, max_depth)
    sl = leveled.storageLevel
    if not had_depth and not (sl.useMemory or sl.useDisk):
        # The freeze scans ``leveled`` several times (dir and file
        # branches, join-back, memoized gate). When depth came from the
        # caller the lineage is a cheap columnar scan and re-executing
        # it is FASTER than one catalog-sized cache write (sf1.0 A/B:
        # persist-first e2e 2.6-3.4 s vs 2.4-2.7 s without — and the
        # first persisted run pays a ~4 s write). When with_depth had
        # to DERIVE depth (pointer-doubling self-joins), recomputing
        # that per scan would dwarf the cache write — persist exactly
        # then. Incremental callers holding their catalog cached (the
        # standing mutation-loop state) are already resident and are
        # never re-persisted (r12 profile: the redundant second cache
        # write was ~2 s of the memoized floor).
        # registered like every freeze frame so the next invocation's
        # drain releases it (it was leaked before r16)
        leveled = _shared(leveled)
    prune = False
    if memoized:
        # Auto-switch (r13 crossover, tools/profile_f1_crossover.py /
        # BASELINE.md): the dirty-prune's broadcasts and semi-joins are
        # pure overhead once most dirs re-hash anyway — at sf1.0 the
        # memoized plan ties the full freeze up to ~40% dirty DIRS and
        # loses ~1.7x by ~65% (10% dirty FILES: each leaf dir holds ~10
        # files, so file-dirt compounds). Past the threshold, drop only
        # the PRUNE machinery; preset bids are still honored everywhere
        # (memoized's contract — a set bid IS its subtree — must not
        # depend on the dirty ratio). One aggregate action.
        gate_row = leveled.agg(
            F.expr("sum(CASE WHEN is_dir THEN 1 ELSE 0 END)").alias("n"),
            F.expr(
                "sum(CASE WHEN is_dir AND bid IS NULL THEN 1 ELSE 0 END)"
            ).alias("dirty"),
        ).first()
        # sum() over zero rows is SQL NULL: a dir-less frame must take
        # the prune path (nothing to re-hash), not raise on None <= float.
        prune = (gate_row["dirty"] or 0) <= _MEMO_MAX_DIRTY_FRAC * (
            gate_row["n"] or 0
        )
    # The bid table is one row per dir (an inode and a 64-char bid),
    # collected through the driver for the broadcast, so the driver
    # heap bounds the dir count (5M dirs complete under a 5g driver,
    # see _freeze_dirs).
    all_dir_bids = F.broadcast(_freeze_dirs(leveled, memoized, prune))
    files = leveled.where(~F.col("is_dir"))
    dirs_out = (
        leveled.where(F.col("is_dir"))
        .drop("bid")
        .join(all_dir_bids, "inode")
        .select(*files.columns)
    )
    return files.unionByName(dirs_out).drop("depth")


def ingest_files(binary_df: DataFrame) -> DataFrame:
    """S8 distributed: content-address a binaryFile scan —
    (path, bid, size). The CAS write itself is a foreachPartition of
    put-if-absent (sources.remote layout)."""
    return binary_df.select(
        F.col("path"),
        F.sha2(F.col("content"), 256).alias("bid"),
        F.length(F.col("content")).cast("long").alias("size"),
    )


def unpushed(frozen_nodes: DataFrame, remote_inventory: DataFrame) -> DataFrame:
    """F2/U4: distinct local bids minus the remote CAS set — one
    left-anti join instead of the reference's per-node DFS probe."""
    local = frozen_nodes.where(F.col("bid").isNotNull()).select("bid").distinct()
    return local.join(remote_inventory, "bid", "left_anti")


def block_edges(frozen: DataFrame) -> DataFrame:
    """The Merkle DAG as an edge table: (parent_bid, child_bid) for
    every dir manifest → member. Derived from a frozen catalog (no
    manifest decoding — the tree IS the graph)."""
    dirs = frozen.where(F.col("is_dir") & F.col("bid").isNotNull()).select(
        F.col("inode").alias("_di"), F.col("bid").alias("parent_bid")
    )
    return (
        frozen.where(F.col("bid").isNotNull())
        .join(dirs, F.col("parent") == F.col("_di"))
        .where(F.col("inode") != F.col("_di"))  # root self-edge
        .select("parent_bid", F.col("bid").alias("child_bid"))
        .distinct()
    )


def reachable_bids(
    edges: DataFrame, roots: DataFrame, max_depth: int = 64
) -> DataFrame:
    """All bids reachable from the live root set — level-synchronous
    BFS over the edge table, batch per level, frontier deduped against
    the seen set (shared subtrees visited once). Returns (bid)."""
    seen = roots.select("bid").distinct().localCheckpoint()
    frontier = seen
    for _ in range(max_depth):
        frontier = (
            edges.join(
                frontier.withColumnRenamed("bid", "parent_bid"), "parent_bid"
            )
            .select(F.col("child_bid").alias("bid"))
            .distinct()
            .join(seen, "bid", "left_anti")
            .localCheckpoint()
        )
        if frontier.isEmpty():
            break
        seen = seen.unionByName(frontier).localCheckpoint()
    return seen


def gc_candidates(all_blocks: DataFrame, reachable: DataFrame) -> DataFrame:
    """F6's designed-but-unbuilt GC (reference comment core/types.go:59):
    blocks no live root can reach — a left-anti join. Deleting them is a
    foreachPartition of the store's delete; leases guard racing
    publishers (reference: remote/gcs.go:96-112)."""
    return all_blocks.select("bid").distinct().join(
        reachable, "bid", "left_anti"
    )


def live_root_bids(spark, remote, now: float | None = None) -> DataFrame:
    """The GC root set as a DataFrame of (bid): every labeled root
    binding plus every UNEXPIRED lease's pinned bid (reference:
    ``Lease{Expiry, BID}``, remote/gcs.go:96-112 — a lease keeps a
    just-pushed or label-superseded root alive until it expires)."""
    import time as _time

    now = _time.time() if now is None else now
    bids = {bid for _label, bid in remote.get_roots()}
    bids |= {
        bid
        for _name, expiry, bid in remote.get_leases()
        if bid is not None and expiry > now
    }
    return spark.createDataFrame([(b,) for b in sorted(bids)], "bid string")


def remote_reachable_bids(
    roots: DataFrame, remote_factory, max_depth: int = 64
) -> DataFrame:
    """Reachability over the REMOTE CAS itself — no catalog needed:
    level-synchronous BFS from the live roots, each level fetching its
    dir manifests executor-side (mapPartitions with a per-partition
    RemoteStore) and emitting (child bid, is_dir) rows parsed with the
    same decode_dir_manifest the catalog uses. Shared subtrees are
    visited once (frontier anti-joined against the seen set); a parse
    or fetch failure on a live dir aborts the GC loudly rather than
    silently under-reaching (which would delete live data)."""
    from pufs_spark.catalog.datastore import decode_dir_manifest

    spark = roots.sparkSession

    def expand(rows):
        remote = remote_factory()
        for row in rows:
            for _name, is_dir, bid, _size in decode_dir_manifest(
                remote.get_block(row.bid)
            ):
                yield (bid, is_dir)

    seen = roots.select("bid").distinct().localCheckpoint()
    frontier = seen
    for _ in range(max_depth):
        kids = spark.createDataFrame(
            frontier.rdd.mapPartitions(expand), "bid string, is_dir boolean"
        )
        new = (
            kids.groupBy("bid")
            .agg(F.max("is_dir").alias("is_dir"))
            .join(seen, "bid", "left_anti")
            .localCheckpoint()
        )
        if new.isEmpty():
            return seen
        seen = seen.unionByName(new.select("bid")).localCheckpoint()
        frontier = new.where("is_dir").select("bid")
        if frontier.isEmpty():
            return seen
    # The frontier did not drain: reachability is TRUNCATED. Returning
    # the partial set would classify everything deeper as garbage and
    # delete live data — abort instead (same loud-failure contract as
    # a fetch/parse error above).
    from pufs_spark.catalog import errors as E

    raise E.CatalogError(
        f"reachability BFS did not converge within max_depth={max_depth}; "
        "raise max_depth for deeper trees (refusing to under-reach)"
    )


def gc_delete(candidates: DataFrame, remote_factory) -> int:
    """F6 phase 2: the actual delete — foreachPartition-shaped removal
    through the RemoteStore (one connection per partition, same shape
    as push_blocks' uploads). Returns blocks actually deleted
    (already-gone blocks — e.g. a racing GC — don't count)."""

    def drop(rows):
        remote = remote_factory()
        n = 0
        for row in rows:
            if remote.delete_block(row["bid"]):
                n += 1
        yield n

    return sum(candidates.select("bid").rdd.mapPartitions(drop).collect())


def collect_garbage(
    spark,
    remote_factory,
    now: float | None = None,
    all_blocks: DataFrame | None = None,
    max_depth: int = 64,
) -> dict:
    """End-to-end F6 GC: live roots (labels + unexpired leases) →
    remote BFS reachability → anti-join against the CAS inventory →
    distributed delete. The reference designed-but-never-built exactly
    this pass (core/types.go:59).

    ``all_blocks`` overrides the driver-side ``remote.list_blocks()``
    enumeration — at 100TB feed it a bucket-inventory DataFrame
    instead of listing synchronously.

    CONCURRENT-PUSH SAFETY (two invariants, one per side):

    1. ``DataStore.push`` writes its lease BEFORE uploading a single
       block, and uploads post-order (root manifest last).
    2. GC captures the CAS inventory BEFORE reading roots/leases.
       Blocks uploaded after the inventory snapshot are simply not in
       it — never deleted. Blocks uploaded before the snapshot belong
       to a push whose lease (written first) is visible by the time we
       read the pins; if that push is still in flight its root
       manifest is not in the inventory yet, which GC detects and
       responds to by SKIPPING deletion this cycle (the partial tree
       is unreachable precisely because its root hasn't landed).
       A missing LABELED root, by contrast, is data loss and aborts.

    A bucket-inventory ``all_blocks`` must likewise predate the GC
    run, never postdate it."""
    import time as _time

    from pufs_spark.catalog import errors as E

    remote = remote_factory()
    if all_blocks is None:
        # The list() materializes here, before the root/lease reads
        # below — ordering invariant 2.
        all_blocks = spark.createDataFrame(
            [(b,) for b in remote.list_blocks()], "bid string"
        )
    ts = _time.time() if now is None else now
    roots_snapshot = set(remote.get_roots())
    leases_snapshot = {
        (name, expiry, bid)
        for name, expiry, bid in remote.get_leases()
        if expiry > ts
    }
    label_bids = {bid for _label, bid in roots_snapshot}
    lease_bids = {
        bid for _n, _e, bid in leases_snapshot if bid is not None
    }
    roots = spark.createDataFrame(
        [(b,) for b in sorted(label_bids | lease_bids)], "bid string"
    )
    present = {
        r["bid"]
        for r in roots.join(all_blocks, "bid", "left_semi").collect()
    }
    missing_labels = label_bids - present
    # A labeled root missing from the inventory is data loss — UNLESS a
    # live lease pins that same bid: push leases before uploading and
    # re-leases before set_root, so a label that appeared between our
    # inventory snapshot and the roots read above is simply a push that
    # landed mid-GC (its root postdates the snapshot). That is the
    # in-flight case relative to THIS cycle's inventory, not loss.
    raced = missing_labels & lease_bids
    # Second racer shape the lease pin can't catch: a publisher pushing
    # in a LOOP overwrites its mount's lease with the NEXT push's root
    # bid between our roots read and leases read, so the just-landed
    # labeled root is neither in the (older) inventory nor lease-pinned
    # under its own bid. Probe the store LIVE: a labeled root present
    # NOW simply landed after the inventory snapshot — reachability BFS
    # reads the live store, so tracing from it is safe, and its own
    # blocks are absent from the inventory and thus never candidates.
    landed = {
        b for b in (missing_labels - raced) if remote.has_block(b)
    }
    missing_labels -= raced | landed
    if missing_labels:
        raise E.CatalogError(
            f"labeled roots missing from the CAS: {sorted(missing_labels)} "
            "(data loss — refusing to GC)"
        )
    inflight = ((lease_bids - label_bids) - present) | raced
    if inflight:
        # a lease pins a root whose manifest hasn't landed: push in
        # flight — its earlier-uploaded blocks are unreachable only
        # because the root is last. Delete nothing; retry next cycle.
        return {
            "roots": roots.count(),
            "live_blocks": 0,
            "deleted": 0,
            "skipped_inflight": len(inflight),
        }
    live = remote_reachable_bids(roots, remote_factory, max_depth=max_depth)
    candidates = gc_candidates(all_blocks, live).localCheckpoint()
    # PRE-DELETE RE-CHECK: a push STARTING after the pin reads above can
    # reuse (put-if-absent no-op) a block this cycle classified garbage,
    # then publish a root reaching it — deleting would corrupt that
    # label. Every push writes its lease before touching any block, so
    # re-reading pins right before the delete pass catches any such
    # racer: if the live lease or root set moved, delete NOTHING this
    # cycle. (The residual window — a push leasing between this check
    # and the deletes below — needs store-side conditional ops to close
    # completely; with 48h leases and seconds-long delete passes the
    # conservative skip covers the practical race.)
    roots_recheck = set(remote.get_roots())
    leases_recheck = {
        (name, expiry, bid)
        for name, expiry, bid in remote.get_leases()
        if expiry > ts
    }
    if roots_recheck != roots_snapshot or leases_recheck != leases_snapshot:
        return {
            "roots": roots.count(),
            "live_blocks": live.count(),
            "deleted": 0,
            "skipped_raced": True,
        }
    deleted = gc_delete(candidates, remote_factory)
    return {
        "roots": roots.count(),
        "live_blocks": live.count(),
        "deleted": deleted,
    }


def push_blocks(
    to_push: DataFrame,
    remote_factory,
    freezer_root: str,
    root_bid: str | None = None,
    lease_name: str | None = None,
    clock=None,
) -> int:
    """F3 distributed upload: foreachPartition put-if-absent. The
    factory is a picklable zero-arg callable building a RemoteStore on
    the executor (connections are never shipped).

    CONCURRENT-GC SAFETY: pass ``root_bid`` whenever a
    ``collect_garbage`` may run concurrently. That engages both push
    invariants GC relies on (collect_garbage's docstring, invariant 1):

    1. a lease pinning ``root_bid`` is written BEFORE any upload, so a
       GC whose inventory can see any of our blocks also sees the pin;
    2. the root block uploads LAST, driver-side, after every executor
       partition has completed — until then the partial tree is
       unreachable and GC's in-flight check skips the cycle;
    3. the lease is RE-ISSUED after the uploads, so a push that
       outlasts the original lease window still holds its pin when the
       caller binds the label (callers should set_root promptly after
       this returns).

    WITHOUT ``root_bid`` the blocks uploaded here are unpinned and
    partition order is arbitrary: the caller must hold the root lease
    themselves (as DataStore.push does) or guarantee no GC runs."""
    import secrets as _secrets

    from pufs_spark.sources.cas import Freezer
    from pufs_spark.sources.remote import new_lease_expiry

    lease = None
    if root_bid is not None:
        lease = lease_name or _secrets.token_hex(8)
        remote = remote_factory()
        now = clock() if clock is not None else None
        remote.set_lease(lease, new_lease_expiry(now), root_bid)
        body, root = (
            to_push.where(F.col("bid") != root_bid),
            to_push.where(F.col("bid") == root_bid),
        )
    else:
        body, root = to_push, None

    def upload(rows):
        remote = remote_factory()
        freezer = Freezer(freezer_root)
        n = 0
        for row in rows:
            remote.put_block_if_absent(row["bid"], freezer.get_bytes(row["bid"]))
            n += 1
        yield n

    total = sum(body.select("bid").rdd.mapPartitions(upload).collect())
    if root_bid is not None:
        remote = remote_factory()
        if not root.isEmpty():  # root may already be pushed (idempotent reruns)
            remote.put_block_if_absent(
                root_bid, Freezer(freezer_root).get_bytes(root_bid)
            )
            total += 1
        now = clock() if clock is not None else None
        remote.set_lease(lease, new_lease_expiry(now), root_bid)
    return total
