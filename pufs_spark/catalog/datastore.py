"""Driver-side DataStore: the mutable catalog + freeze/push/mount verbs.

This mirrors the reference's ``DataStore`` API (core/datastore.go) and
``INodeDB`` (core/nodedb.go). Mutations are single-writer driver-side —
exactly the reference's model (one BoltDB writer) — while *queries* over
the catalog are DataFrames (catalog/queries.py) so they distribute at
catalog scale. ``nodes_df()`` exports the current state; persistence is
versioned parquet snapshots (Spark has no point updates; the reference's
own snapshot model maps onto versioned overwrite).

Semantics preserved from the reference (SURVEY.md §7.5):
- rename destructively replaces dest     (core/datastore.go:820-832)
- rmdir of non-empty dir refused         (core/nodedb.go:259-267)
- '.'/'..' rows in listings              (core/nodedb.go:768-776)
- name charset regex                     (core/datastore.go:21)
- dirty bit propagates to root, bid=NULL (core/nodedb.go:286-315)
- freeze memoized via bid IS NOT NULL    (core/datastore.go:1123-1125)
- mount target must be an empty dir      (core/nodedb.go:382-408)
"""

from __future__ import annotations

import os
import re
import secrets
import time
from dataclasses import dataclass, field, replace

from pufs_spark.catalog import errors as E
from pufs_spark.sources.cas import Freezer, bid_of_bytes
from pufs_spark.sources.remote import RemoteStore, new_lease_expiry

ROOT_INODE = 1  # reference: core/nodedb.go:13
MAX_INODES = 10_000_000  # reference: core/datastore.go:148
VALID_NAME = re.compile(r"^[A-Za-z0-9.~#$@ ()+_.-]+$")  # core/datastore.go:21


@dataclass
class RemoteSource:
    kind: str  # 'gcs' | 'url'
    bucket: str | None = None
    key: str | None = None
    generation: int | None = None
    url: str | None = None
    etag: str | None = None
    size: int | None = None


@dataclass
class Node:
    inode: int
    parent: int
    name: str
    is_dir: bool
    size: int = 0
    mtime: float = 0.0
    is_dirty: bool = False
    bid: str | None = None
    deferred: bool = False
    local_path: str | None = None
    remote_source: RemoteSource | None = None


@dataclass
class DirEntry:
    """L2/L3 row (reference: api/api.proto:9-24)."""

    inode: int
    name: str
    is_dirty: bool
    is_dir: bool
    size: int
    mtime: float
    bid: str | None
    populated_region_count: int = 0
    populated_size: int = 0


def encode_dir_manifest(entries: list[tuple[str, bool, str, int]]) -> bytes:
    """Deterministic replacement for the reference's gob ``Dir`` encoding
    (core/datastore.go:981-997): one ``name\\tis_dir\\tbid\\tsize`` line per
    child, sorted by name. A dir's BID is sha256 of this — keeping the
    Merkle property (child BIDs embedded) while being reproducible from
    Spark SQL (sha2 over a sorted string_agg) and DuckDB alike."""
    lines = [
        f"{name}\t{1 if is_dir else 0}\t{bid}\t{size}"
        for name, is_dir, bid, size in sorted(entries)
    ]
    return ("\n".join(lines) + "\n").encode() if lines else b""


def decode_dir_manifest(data: bytes) -> list[tuple[str, bool, str, int]]:
    out = []
    for line in data.decode().splitlines():
        name, is_dir, bid, size = line.split("\t")
        out.append((name, is_dir == "1", bid, int(size)))
    return out


class DataStore:
    """One store = one catalog + one local CAS + optional remote."""

    def __init__(
        self,
        root_dir: str,
        remote: RemoteStore | None = None,
        clock=time.time,
        lister=None,
    ):
        self.root_dir = root_dir
        self.freezer = Freezer(os.path.join(root_dir, "freezer"))
        self.staging_dir = os.path.join(root_dir, "staging")
        os.makedirs(self.staging_dir, exist_ok=True)
        self.remote = remote
        self.lister = lister  # prefix listing + ranged reads (L4/S2)
        # synthetic bid → pinned RemoteSource (key + generation/etag);
        # reads through these validate the pin (remote/gcs.go:302-331)
        self.block_sources: dict[str, RemoteSource] = {}
        self.clock = clock
        self.pushed: set[str] = set()  # bids known to exist remotely
        self.nodes: dict[int, Node] = {
            ROOT_INODE: Node(
                inode=ROOT_INODE,
                parent=ROOT_INODE,
                name="",
                is_dir=True,
                is_dirty=True,
                mtime=clock(),
            )
        }
        self.children: dict[int, dict[str, int]] = {ROOT_INODE: {}}
        self._next_inode = ROOT_INODE + 1
        # Path-addressed journal of namespace mutations since the last
        # commit/load — the replay log that lets catalog/commitlog.py
        # rebase this writer's changes onto a newer committed snapshot
        # (Delta-style optimistic concurrency; SURVEY §7.5: the
        # reference keeps its single Bolt tx short and revalidates
        # after I/O, core/datastore.go:666-735 — at multi-writer scale
        # the analog is journal + rebase).
        self._journal: list[tuple] = []
        # Off by default: plain single-writer stores shouldn't pay the
        # memory of a replay log (write() payloads are held by value).
        # catalog/commitlog.open_log flips it on.
        self.journaling: bool = False
        self.base_version: int = -1  # last committed log version loaded
        # True when catalog rows changed OUTSIDE the journal since the
        # last commit (freeze results, lazy child materialization):
        # commitlog must then write a full checkpoint — a delta record
        # derived from the journal alone would silently drop those rows.
        self._unjournaled_mutation: bool = False

    # ------------------------------------------------------------------
    # P-series: lookups (reference: core/nodedb.go:78-102,487-510)
    # ------------------------------------------------------------------

    def get_node(self, inode: int) -> Node:
        """P2. Overlays live stat size/mtime for writable files
        (reference: core/nodedb.go:86-99)."""
        node = self.nodes.get(inode)
        if node is None:
            raise E.NotFoundError(f"inode {inode}")
        if node.local_path is not None and os.path.exists(node.local_path):
            st = os.stat(node.local_path)
            node = replace(node, size=st.st_size, mtime=st.st_mtime)
        return node

    def get_node_id(self, parent: int, name: str) -> int:
        """P1, with the reference's '.'/'..' handling
        (core/datastore.go:342-373)."""
        if name == ".":
            return parent
        if name == "..":
            return self.get_node(parent).parent
        pnode = self.get_node(parent)
        if not pnode.is_dir:
            raise E.NotDirError(pnode.name)
        self._ensure_children_loaded(parent)
        child = self.children.get(parent, {}).get(name)
        if child is None:
            raise E.NotFoundError(f"{name} under inode {parent}")
        return child

    def node_exists(self, parent: int, name: str) -> bool:
        """P4."""
        try:
            self.get_node_id(parent, name)
            return True
        except E.CatalogError:
            return False

    def get_parent(self, inode: int) -> int:
        """P7."""
        return self.get_node(inode).parent

    @staticmethod
    def split_path(path: str) -> list[str]:
        """P5 helper (reference: core/datastore.go:1334-1353)."""
        return [c for c in path.split("/") if c not in ("",)]

    def resolve_path(self, path: str, parent: int = ROOT_INODE) -> int:
        """P5: per-component P1 loop (reference:
        core/datastore.go:1355-1370)."""
        inode = parent
        for comp in self.split_path(path):
            inode = self.get_node_id(inode, comp)
        return inode

    def getattr(self, inode: int) -> dict:
        """P3: mode derivation (reference: fs/mount.go:541-572)."""
        n = self.get_node(inode)
        if n.is_dir:
            mode = 0o775
        elif n.local_path is not None:
            mode = 0o664
        else:
            mode = 0o444  # frozen => read-only
        return {
            "inode": n.inode,
            "mode": mode,
            "is_dir": n.is_dir,
            "size": n.size,
            "mtime": n.mtime,
        }

    # ------------------------------------------------------------------
    # L-series: listings (reference: core/nodedb.go:758-791,
    # core/datastore.go:391-466)
    # ------------------------------------------------------------------

    def get_dir_contents(self, inode: int, include_dots: bool = False):
        """L1: [(name, inode)] sorted by name."""
        node = self.get_node(inode)
        if not node.is_dir:
            raise E.NotDirError(node.name)
        self._ensure_children_loaded(inode)
        out = []
        if include_dots:
            out += [(".", inode), ("..", node.parent)]
        out += sorted(self.children.get(inode, {}).items())
        return out

    def walk_dir_contents(self, inode: int) -> list[DirEntry]:
        """L2: listing joined with node records."""
        out = []
        for name, child in self.get_dir_contents(inode):
            n = self.get_node(child)
            out.append(
                DirEntry(
                    inode=n.inode,
                    name=name,
                    is_dirty=n.is_dirty,
                    is_dir=n.is_dir,
                    size=n.size,
                    mtime=n.mtime,
                    bid=n.bid,
                )
            )
        return out

    def _ensure_children_loaded(self, inode: int) -> None:
        """L5: lazy child materialization from a dir block, and L4: from
        a one-level remote listing (reference: core/datastore.go:519-617
        — the same deferred flag gates both arms)."""
        node = self.nodes.get(inode)
        if node is None or not node.deferred:
            return
        if self.journaling:
            self._unjournaled_mutation = True
        if node.bid is not None:
            data = self._fetch_block(node.bid)
            for name, is_dir, bid, size in decode_dir_manifest(data):
                self._insert(
                    Node(
                        inode=self._alloc_inode(),
                        parent=inode,
                        name=name,
                        is_dir=is_dir,
                        size=size,
                        mtime=node.mtime,
                        is_dirty=False,
                        bid=bid,
                        deferred=is_dir,
                    ),
                    mark_dirty=False,
                )
        elif node.remote_source is not None:
            if self.lister is None:
                raise E.CatalogError(
                    f"deferred remote dir {node.name} but no lister configured"
                )
            src = node.remote_source
            for name, is_dir, size, gen, etag in self.lister.list_prefix_attrs(
                src.key or ""
            ):
                child_key = ((src.key or "").rstrip("/") + "/" + name).lstrip("/")
                child_src = replace(
                    src, key=child_key, size=size, generation=gen, etag=etag
                )
                bid = None
                if not is_dir:
                    # synthetic BID over the pinned identity (reference:
                    # core/nodedb.go:557-572)
                    ident = f"{src.bucket}/{child_key}:{gen}"
                    bid = bid_of_bytes(ident.encode())
                    self.block_sources[bid] = child_src
                self._insert(
                    Node(
                        inode=self._alloc_inode(),
                        parent=inode,
                        name=name,
                        is_dir=is_dir,
                        size=size,
                        mtime=node.mtime,
                        is_dirty=False,
                        bid=bid,
                        deferred=is_dir,
                        remote_source=child_src,
                    ),
                    mark_dirty=False,
                )
        self.nodes[inode] = replace(node, deferred=False)

    # ------------------------------------------------------------------
    # M-series: mutations (reference: core/nodedb.go:202-436,730-751,
    # core/datastore.go:741-979)
    # ------------------------------------------------------------------

    def path_of(self, inode: int) -> str:
        """Absolute catalog path of a node ('/' for the root). Inode
        numbers are writer-local (each writer allocates its own); paths
        are the stable cross-writer addresses the journal records."""
        parts: list[str] = []
        while inode != ROOT_INODE:
            node = self.nodes[inode]
            parts.append(node.name)
            inode = node.parent
        return "/" + "/".join(reversed(parts))

    def _log_op(self, *op) -> None:
        if self.journaling:
            self._journal.append(op)

    def clear_journal(self) -> None:
        self._journal = []

    def replay_ops(self, ops: list[tuple]) -> None:
        """Re-apply a journal (recorded on another snapshot) onto this
        store, resolving paths afresh. Used by commitlog rebase; each
        replayed op re-journals itself via the public mutators, so a
        rebased store can retry its commit with an equivalent journal."""
        for op in ops:
            kind = op[0]
            if kind == "mkdir":
                self.mkdir(self.resolve_path(op[1]), op[2])
            elif kind == "create":
                self.create_writable(self.resolve_path(op[1]), op[2])
            elif kind == "write":
                self.write(self.resolve_path(op[1]), op[2], op[3])
            elif kind == "truncate":
                self.truncate(self.resolve_path(op[1]), op[2])
            elif kind == "add_bytes":
                self.add_immutable_bytes(
                    self.resolve_path(op[1]), op[2], op[3]
                )
            elif kind == "link_remote":
                self.link_remote(
                    self.resolve_path(op[1]), op[2],
                    RemoteSource(**op[3]), is_dir=op[4],
                )
            elif kind == "rename":
                self.rename(
                    self.resolve_path(op[1]), op[2],
                    self.resolve_path(op[3]), op[4],
                )
            elif kind == "remove":
                self.remove(self.resolve_path(op[1]), op[2])
            elif kind == "mount_bid":
                self.mount_bid(self.resolve_path(op[1]), op[2], op[3])
            elif kind == "unmount":
                self.unmount(self.resolve_path(op[1]), op[2])
            else:  # pragma: no cover - journal writer and reader agree
                raise E.CatalogError(f"unknown journal op {kind!r}")

    def _alloc_inode(self) -> int:
        """M9 (sequential instead of the reference's circular probe)."""
        if self._next_inode > MAX_INODES:
            raise E.TooManyInodesError(str(MAX_INODES))
        inode = self._next_inode
        self._next_inode += 1
        return inode

    @staticmethod
    def _validate_name(name: str) -> None:
        """P6 (reference: core/datastore.go:1315-1320)."""
        if not VALID_NAME.match(name):
            raise E.InvalidNameError(repr(name))

    def _mark_dirty_to_root(self, inode: int) -> None:
        """M8: ancestor invalidation (reference: core/nodedb.go:286-315).
        dirty ⇒ bid NULL; stops early because dirty is upward-closed."""
        while True:
            node = self.nodes[inode]
            if node.is_dirty and node.bid is None and inode != ROOT_INODE:
                break
            self.nodes[inode] = replace(node, is_dirty=True, bid=None)
            if inode == ROOT_INODE:
                break
            inode = node.parent

    def _insert(self, node: Node, mark_dirty: bool = True) -> Node:
        parent = self.get_node(node.parent)
        if not parent.is_dir:
            raise E.NotDirError(parent.name)
        self._validate_name(node.name)
        if node.name in self.children.setdefault(node.parent, {}):
            raise E.ExistsError(node.name)
        self.nodes[node.inode] = node
        self.children[node.parent][node.name] = node.inode
        if node.is_dir:
            self.children.setdefault(node.inode, {})
        if mark_dirty:
            self._mark_dirty_to_root(node.parent)
        return node

    def mkdir(self, parent: int, name: str) -> int:
        """M1."""
        self._ensure_children_loaded(parent)
        node = self._insert(
            Node(
                inode=self._alloc_inode(),
                parent=parent,
                name=name,
                is_dir=True,
                is_dirty=True,
                mtime=self.clock(),
            )
        )
        self._log_op("mkdir", self.path_of(parent), name)
        return node.inode

    def create_writable(self, parent: int, name: str) -> int:
        """M2: node backed by a staging temp file (S6)."""
        self._ensure_children_loaded(parent)
        path = os.path.join(self.staging_dir, secrets.token_hex(8))
        open(path, "wb").close()
        node = self._insert(
            Node(
                inode=self._alloc_inode(),
                parent=parent,
                name=name,
                is_dir=False,
                is_dirty=True,
                mtime=self.clock(),
                local_path=path,
            )
        )
        self._log_op("create", self.path_of(parent), name)
        return node.inode

    def write(self, inode: int, data: bytes, offset: int = 0) -> None:
        """M10: write into the staging file."""
        node = self.nodes[inode]
        if node.local_path is None:
            raise E.IsDirError("not a writable file")
        with open(node.local_path, "r+b") as f:
            f.seek(offset)
            f.write(data)
        self._mark_dirty_to_root(node.parent)
        self._log_op("write", self.path_of(inode), data, offset)

    def truncate(self, inode: int, size: int) -> None:
        node = self.nodes[inode]
        if node.local_path is None:
            raise E.IsDirError("not a writable file")
        os.truncate(node.local_path, size)
        self._mark_dirty_to_root(node.parent)
        self._log_op("truncate", self.path_of(inode), size)

    def add_immutable_bytes(self, parent: int, name: str, data: bytes) -> int:
        """M3: bytes → CAS → frozen node (reference:
        core/datastore.go:874-910)."""
        self._ensure_children_loaded(parent)
        bid = self.freezer.add_bytes(data)
        node = self._insert(
            Node(
                inode=self._alloc_inode(),
                parent=parent,
                name=name,
                is_dir=False,
                size=len(data),
                mtime=self.clock(),
                is_dirty=False,
                bid=bid,
            )
        )
        self._log_op("add_bytes", self.path_of(parent), name, data)
        return node.inode

    def link_remote(
        self, parent: int, name: str, source: RemoteSource, is_dir: bool = False
    ) -> int:
        """M4/M5: register a remote object or prefix; dirs get
        deferred child fetch (reference: core/nodedb.go:591-703).
        Synthetic BID = sha256 of the pinned identity string."""
        self._ensure_children_loaded(parent)
        if source.kind == "gcs":
            ident = f"{source.bucket}/{source.key}:{source.generation}"
        else:
            ident = f"{source.url}:{source.etag}"
        node = self._insert(
            Node(
                inode=self._alloc_inode(),
                parent=parent,
                name=name,
                is_dir=is_dir,
                size=source.size or 0,
                mtime=self.clock(),
                is_dirty=False,
                bid=None if is_dir else bid_of_bytes(ident.encode()),
                deferred=is_dir,
                remote_source=source,
            )
        )
        if not is_dir and node.bid is not None:
            # register the pinned source so reads validate it (S4/S9)
            self.block_sources[node.bid] = source
        self._log_op(
            "link_remote", self.path_of(parent), name, vars(source), is_dir
        )
        return node.inode

    def rename(self, src_parent: int, src_name: str, dst_parent: int, dst_name: str):
        """M6: destructive move (reference: core/datastore.go:798-839).
        Deviation, found by the property tests: a directory destination
        is REFUSED (POSIX-style) instead of recursively destroyed — the
        reference's blanket replace can delete the rename source itself
        when the destination dir contains it."""
        self._validate_name(dst_name)
        inode = self.get_node_id(src_parent, src_name)
        self._ensure_children_loaded(dst_parent)
        existing = self.children.get(dst_parent, {}).get(dst_name)
        if existing is not None and existing != inode:
            if self.get_node(existing).is_dir:
                raise E.IsDirError(dst_name)
            self._remove_subtree_entry(dst_parent, dst_name, existing)
        del self.children[src_parent][src_name]
        self.children[dst_parent][dst_name] = inode
        self.nodes[inode] = replace(
            self.nodes[inode], parent=dst_parent, name=dst_name
        )
        self._mark_dirty_to_root(src_parent)
        self._mark_dirty_to_root(dst_parent)
        self._log_op(
            "rename",
            self.path_of(src_parent), src_name,
            self.path_of(dst_parent), dst_name,
        )

    def _remove_subtree_entry(self, parent: int, name: str, inode: int) -> None:
        del self.children[parent][name]
        self.nodes.pop(inode, None)
        self.children.pop(inode, None)

    def _remove_recursive(self, parent: int, name: str, inode: int) -> None:
        for cname, child in list(self.children.get(inode, {}).items()):
            self._remove_recursive(inode, cname, child)
        self._remove_subtree_entry(parent, name, inode)

    def remove(self, parent: int, name: str) -> None:
        """M7: unlink/rmdir; refuses non-empty dirs (reference:
        core/nodedb.go:241-284)."""
        inode = self.get_node_id(parent, name)
        node = self.get_node(inode)
        if node.is_dir:
            self._ensure_children_loaded(inode)
            if self.children.get(inode):
                raise E.DirNotEmptyError(name)
        if node.local_path is not None and os.path.exists(node.local_path):
            os.unlink(node.local_path)
        self._remove_subtree_entry(parent, name, inode)
        self._mark_dirty_to_root(parent)
        self._log_op("remove", self.path_of(parent), name)

    # ------------------------------------------------------------------
    # Data plane: reads through the CAS (S7/S9 + full-block fetch; the
    # sparse chunked path lives in sources/sparse.py)
    # ------------------------------------------------------------------

    def _fetch_block(self, bid: str) -> bytes:
        if self.freezer.has_block(bid):
            return self.freezer.get_bytes(bid)
        src = self.block_sources.get(bid)
        if src is not None:
            # synthetic bid: pull from the attached remote, validating
            # the pinned generation/etag (reads must fail loudly on a
            # changed snapshot — remote/gcs.go:302-331, remote/http.go:24),
            # then cache under the synthetic name (S9 attach + lazy pull).
            if src.kind == "url" and src.url is not None:
                from pufs_spark.sources.http import read_url

                data = read_url(src.url, etag=src.etag)
            elif self.lister is not None:
                data = self.lister.read_key(
                    src.key, generation=src.generation, etag=src.etag
                )
            else:
                raise E.CatalogError(
                    f"block {bid} has a remote source but no lister configured"
                )
            self.freezer.put_named(bid, data)
            return data
        if self.remote is None:
            raise E.NotFoundError(f"block {bid}")
        data = self.remote.get_block(bid)
        got = self.freezer.add_bytes(data)
        if got != bid:
            raise E.BlockHashMismatchError(
                f"remote block hash mismatch: {got} != {bid}"
            )
        self.pushed.add(bid)
        return data

    def read(self, inode: int, offset: int = 0, length: int | None = None) -> bytes:
        node = self.get_node(inode)
        if node.is_dir:
            raise E.IsDirError(node.name)
        if node.local_path is not None:
            with open(node.local_path, "rb") as f:
                f.seek(offset)
                return f.read(length) if length is not None else f.read()
        if node.bid is None:
            raise E.NotFoundError(f"no content for inode {inode}")
        data = self._fetch_block(node.bid)
        end = None if length is None else offset + length
        return data[offset:end]

    def read_path(self, path: str) -> bytes:
        return self.read(self.resolve_path(path))

    # ------------------------------------------------------------------
    # F-series: freeze / push / mount (reference:
    # core/datastore.go:999-1217)
    # ------------------------------------------------------------------

    def freeze(self, inode: int = ROOT_INODE) -> str:
        """F1: bottom-up Merkle snapshot, memoized on bid IS NOT NULL
        (reference: core/datastore.go:1116-1199). Driver recursion is
        fine here (FS trees are shallow); the distributed level-wise
        variant for huge catalogs is plans/merkle.freeze_nodes_df."""
        node = self.get_node(inode)
        if node.bid is not None:
            return node.bid  # memoized: unchanged subtree
        if self.journaling:
            self._unjournaled_mutation = True
        if not node.is_dir:
            if node.local_path is None:
                raise E.CatalogError(f"inode {inode}: file with no bid nor content")
            bid = self.freezer.add_file(node.local_path)
            size = os.path.getsize(node.local_path)
            self.nodes[inode] = replace(
                self.nodes[inode],
                bid=bid,
                size=size,
                is_dirty=False,
                local_path=None,
            )
            os.unlink(node.local_path)
            return bid
        entries = []
        self._ensure_children_loaded(inode)
        for name, child in sorted(self.children.get(inode, {}).items()):
            cbid = self.freeze(child)
            cnode = self.get_node(child)
            entries.append((name, cnode.is_dir, cbid, cnode.size))
        manifest = encode_dir_manifest(entries)
        bid = self.freezer.add_bytes(manifest)
        self.nodes[inode] = replace(self.nodes[inode], bid=bid, is_dirty=False)
        return bid

    def collect_unpushed(self, inode: int = ROOT_INODE) -> list[str]:
        """F2: DFS collecting bids not yet pushed; skips remote-sourced
        file nodes (reference: core/datastore.go:1074-1114)."""
        out: list[str] = []
        seen: set[str] = set()

        def visit(i: int) -> None:
            node = self.get_node(i)
            if not node.is_dir and node.remote_source is not None:
                return  # already lives remotely
            if node.bid is None or node.bid in seen:
                return
            seen.add(node.bid)
            if node.is_dir and not node.deferred:
                for child in self.children.get(i, {}).values():
                    visit(child)
            if not self._is_pushed(node.bid):
                out.append(node.bid)

        visit(inode)
        return out

    def _is_pushed(self, bid: str) -> bool:
        if bid in self.pushed:
            return True
        if self.remote is not None and self.remote.has_block(bid):
            self.pushed.add(bid)
            return True
        return False

    def push(self, label: str, inode: int = ROOT_INODE) -> str:
        """F3: freeze → collect unpushed → upload → bind label
        (reference: core/datastore.go:999-1072). Uploads here are
        sequential driver-side; the distributed path
        (plans/merkle.push_blocks) does foreachPartition uploads.

        The GC pin is a DEFAULT_LEASE_SECONDS (48h) lease: uploads that
        outlast it would lose their pin mid-flight, so the lease is
        re-issued under the same name just before set_root — the label
        binding then always happens inside a fresh lease window."""
        if self.remote is None:
            raise E.CatalogError("no remote configured")
        root_bid = self.freeze(inode)
        # Lease BEFORE uploading: a concurrent GC that can see any of
        # our blocks in its inventory must also see their pin (GC reads
        # inventory first, then pins — plans/merkle.collect_garbage).
        # Leasing last would leave every uploaded block unpinned until
        # the final write.
        lease_name = secrets.token_hex(8)
        self.remote.set_lease(lease_name, new_lease_expiry(self.clock()), root_bid)
        for bid in self.collect_unpushed(inode):
            self.remote.put_block_if_absent(bid, self.freezer.get_bytes(bid))
            self.pushed.add(bid)
        self.remote.set_lease(lease_name, new_lease_expiry(self.clock()), root_bid)
        self.remote.set_root(label, root_bid)
        return root_bid

    def mount_by_label(self, parent: int, name: str, label: str) -> int:
        """F4: attach a published snapshot as a lazily-expanded subtree
        (reference: core/datastore.go:214-312)."""
        if self.remote is None:
            raise E.CatalogError("no remote configured")
        try:
            bid = self.remote.get_root(label)
        except KeyError:
            raise E.NotFoundError(f"label {label}") from None
        return self.mount_bid(parent, name, bid)

    def mount_bid(self, parent: int, name: str, bid: str) -> int:
        """F4/F7: target created as (or must be) an empty dir."""
        self._ensure_children_loaded(parent)
        existing = self.children.get(parent, {}).get(name)
        if existing is not None:
            node = self.get_node(existing)
            if not node.is_dir:
                raise E.NotMountPointError(name)
            self._ensure_children_loaded(existing)
            if self.children.get(existing):
                raise E.NotMountPointError(f"{name} not empty")
            self.nodes[existing] = replace(
                node, bid=bid, deferred=True, is_dirty=False
            )
            self._log_op("mount_bid", self.path_of(parent), name, bid)
            return existing
        node = self._insert(
            Node(
                inode=self._alloc_inode(),
                parent=parent,
                name=name,
                is_dir=True,
                mtime=self.clock(),
                is_dirty=False,
                bid=bid,
                deferred=True,
            ),
            mark_dirty=False,
        )
        self._log_op("mount_bid", self.path_of(parent), name, bid)
        return node.inode

    def unmount(self, parent: int, name: str) -> None:
        """F5: drop the mounted subtree (children may be unexpanded)."""
        inode = self.get_node_id(parent, name)
        self._remove_recursive(parent, name, inode)
        self._log_op("unmount", self.path_of(parent), name)

    def prefetch_subtree(self, inode: int = ROOT_INODE) -> int:
        """Materialize every file block under ``inode`` into the local
        CAS (the whole-tree warm-up the reference's walktree benchmark
        exercises). Returns blocks fetched."""
        n = 0
        stack = [inode]
        while stack:
            i = stack.pop()
            for _, child in self.get_dir_contents(i):
                node = self.get_node(child)
                if node.is_dir:
                    stack.append(child)
                elif node.bid is not None and not self.freezer.has_block(node.bid):
                    self._fetch_block(node.bid)
                    n += 1
        return n

    # ------------------------------------------------------------------
    # Catalog persistence (reference: nodes.db survives restart,
    # core/nodedb.go; here one parquet file via pyarrow)
    # ------------------------------------------------------------------

    _CATALOG_FILE = "catalog.parquet"

    def save(self, path: str | None = None) -> str:
        """Persist every node field to ``path`` (default
        <root_dir>/catalog.parquet) so a new DataStore over the same
        root resumes exactly (freezer blocks and region logs already
        live on disk)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ns = list(self.nodes.values())

        def src(n, field):
            return getattr(n.remote_source, field) if n.remote_source else None

        table = pa.table(
            {
                "inode": pa.array([n.inode for n in ns], pa.int64()),
                "parent": pa.array([n.parent for n in ns], pa.int64()),
                "name": [n.name for n in ns],
                "is_dir": [n.is_dir for n in ns],
                "size": pa.array([n.size for n in ns], pa.int64()),
                "mtime": pa.array([n.mtime for n in ns], pa.float64()),
                "is_dirty": [n.is_dirty for n in ns],
                "bid": [n.bid for n in ns],
                "deferred": [n.deferred for n in ns],
                "local_path": [n.local_path for n in ns],
                "src_kind": [src(n, "kind") for n in ns],
                "src_bucket": [src(n, "bucket") for n in ns],
                "src_key": [src(n, "key") for n in ns],
                "src_generation": pa.array(
                    [src(n, "generation") for n in ns], pa.int64()
                ),
                "src_url": [src(n, "url") for n in ns],
                "src_etag": [src(n, "etag") for n in ns],
                "src_size": pa.array([src(n, "size") for n in ns], pa.int64()),
            }
        )
        out = path or os.path.join(self.root_dir, self._CATALOG_FILE)
        pq.write_table(table, out)
        return out

    @classmethod
    def load(
        cls, root_dir: str, remote: RemoteStore | None = None,
        clock=time.time, lister=None, catalog_file: str | None = None,
    ) -> "DataStore":
        """Reopen a persisted catalog (save() must have run).
        ``catalog_file`` overrides the default snapshot location (used
        by commitlog to load a specific committed version)."""
        import pyarrow.parquet as pq

        ds = cls(root_dir, remote=remote, clock=clock, lister=lister)
        t = pq.read_table(
            catalog_file or os.path.join(root_dir, cls._CATALOG_FILE)
        )
        cols = {c: t[c].to_pylist() for c in t.column_names}
        ds.nodes = {}
        ds.children = {}
        for i in range(t.num_rows):
            source = None
            if cols["src_kind"][i] is not None:
                source = RemoteSource(
                    kind=cols["src_kind"][i],
                    bucket=cols["src_bucket"][i],
                    key=cols["src_key"][i],
                    generation=cols["src_generation"][i],
                    url=cols["src_url"][i],
                    etag=cols["src_etag"][i],
                    size=cols["src_size"][i],
                )
            node = Node(
                inode=cols["inode"][i],
                parent=cols["parent"][i],
                name=cols["name"][i],
                is_dir=cols["is_dir"][i],
                size=cols["size"][i],
                mtime=cols["mtime"][i],
                is_dirty=cols["is_dirty"][i],
                bid=cols["bid"][i],
                deferred=cols["deferred"][i],
                local_path=cols["local_path"][i],
                remote_source=source,
            )
            ds.nodes[node.inode] = node
            if node.is_dir:
                ds.children.setdefault(node.inode, {})
            if node.inode != ROOT_INODE:
                ds.children.setdefault(node.parent, {})[node.name] = node.inode
            if source is not None and not node.is_dir and node.bid:
                ds.block_sources[node.bid] = source
        ds._next_inode = max(ds.nodes) + 1
        return ds

    # ------------------------------------------------------------------
    # Export for the `pufs` Spark data source
    # ------------------------------------------------------------------

    def export_catalog(self, out_path: str, expand: bool = True) -> int:
        """Write the catalog as one parquet file with a precomputed full
        ``path`` per node (the per-component resolution loop paid once
        at export, not per query). ``expand`` forces lazy subtrees to
        materialize first so a mounted label exports completely. The
        file is what sources/datasource.PufsDataSource scans. Returns
        the number of rows written."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if expand:
            stack = [ROOT_INODE]
            while stack:
                inode = stack.pop()
                for _, child in self.get_dir_contents(inode):
                    if self.get_node(child).is_dir:
                        stack.append(child)

        paths: dict[int, str] = {ROOT_INODE: "/"}
        rows = []

        def visit(inode: int) -> None:
            for name, child in self.get_dir_contents(inode):
                base = paths[inode]
                p = (base if base != "/" else "") + "/" + name
                paths[child] = p
                n = self.get_node(child)
                rows.append((p, child, n.parent, n.name, n.is_dir, n.size, n.bid))
                if n.is_dir:
                    visit(child)

        visit(ROOT_INODE)
        rows.append(("/", ROOT_INODE, ROOT_INODE, "", True, 0,
                     self.nodes[ROOT_INODE].bid))
        table = pa.table(
            {
                "path": [r[0] for r in rows],
                "inode": pa.array([r[1] for r in rows], pa.int64()),
                "parent": pa.array([r[2] for r in rows], pa.int64()),
                "name": [r[3] for r in rows],
                "is_dir": [r[4] for r in rows],
                "size": pa.array([r[5] for r in rows], pa.int64()),
                "bid": [r[6] for r in rows],
            }
        )
        pq.write_table(table, out_path)
        return len(rows)
