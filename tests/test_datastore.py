"""Ports of the reference's DataStore behavior tests
(core/datastore_test.go) + the golden E2E round trip
(core/functional_test.go:12-52)."""

import pytest

from pufs_spark.catalog import errors as E
from pufs_spark.catalog.datastore import ROOT_INODE, DataStore, RemoteSource
from pufs_spark.sources.remote import MemRemote


@pytest.fixture
def ds(tmp_path):
    return DataStore(str(tmp_path / "store"), remote=MemRemote())


def write_file(ds, parent, name, data: bytes):
    inode = ds.create_writable(parent, name)
    ds.write(inode, data)
    return inode


def test_mkdir_list_and_dots(ds):
    a = ds.mkdir(ROOT_INODE, "a")
    ds.mkdir(ROOT_INODE, "b")
    ds.mkdir(a, "sub")
    assert ds.get_dir_contents(ROOT_INODE) == [("a", a), ("b", 3)]
    dots = ds.get_dir_contents(a, include_dots=True)
    assert dots[0] == (".", a) and dots[1] == ("..", ROOT_INODE)


def test_duplicate_mkdir_refused(ds):
    ds.mkdir(ROOT_INODE, "a")
    with pytest.raises(E.ExistsError):
        ds.mkdir(ROOT_INODE, "a")


def test_missing_parent(ds):
    with pytest.raises(E.NotFoundError):
        ds.mkdir(999, "a")


def test_invalid_name(ds):
    with pytest.raises(E.InvalidNameError):
        ds.mkdir(ROOT_INODE, "bad/name")
    with pytest.raises(E.InvalidNameError):
        ds.mkdir(ROOT_INODE, "")


def test_rmdir_non_empty_refused(ds):
    a = ds.mkdir(ROOT_INODE, "a")
    ds.mkdir(a, "sub")
    with pytest.raises(E.DirNotEmptyError):
        ds.remove(ROOT_INODE, "a")
    ds.remove(a, "sub")
    ds.remove(ROOT_INODE, "a")
    assert ds.get_dir_contents(ROOT_INODE) == []


def test_write_read_truncate(ds):
    inode = write_file(ds, ROOT_INODE, "f", b"hello world")
    assert ds.read(inode) == b"hello world"
    ds.write(inode, b"HELLO", offset=0)
    assert ds.read(inode) == b"HELLO world"
    ds.truncate(inode, 5)
    assert ds.read(inode) == b"HELLO"
    assert ds.get_node(inode).size == 5


def test_rename_moves_and_replaces(ds):
    a = ds.mkdir(ROOT_INODE, "a")
    f = write_file(ds, ROOT_INODE, "f", b"data")
    write_file(ds, a, "g", b"old")
    ds.rename(ROOT_INODE, "f", a, "g")  # destructive replace
    assert ds.read_path("/a/g") == b"data"
    assert ds.resolve_path("/a/g") == f
    with pytest.raises(E.NotFoundError):
        ds.resolve_path("/f")


def test_path_resolution_dots(ds):
    a = ds.mkdir(ROOT_INODE, "a")
    b = ds.mkdir(a, "b")
    assert ds.resolve_path("/a/b/../b/./") == b
    assert ds.resolve_path("/a/..") == ROOT_INODE


def test_freeze_identity_and_dedup(ds):
    f1 = write_file(ds, ROOT_INODE, "f1", b"same-bytes")
    f2 = write_file(ds, ROOT_INODE, "f2", b"same-bytes")
    ds.freeze()
    n1, n2 = ds.get_node(f1), ds.get_node(f2)
    assert n1.bid == n2.bid  # U1: content-hash dedup
    assert not n1.is_dirty and n1.local_path is None
    assert ds.read(f1) == b"same-bytes"


def test_freeze_idempotent_and_dirty_invalidation(ds):
    a = ds.mkdir(ROOT_INODE, "a")
    write_file(ds, a, "f", b"v1")
    bid1 = ds.freeze()
    assert ds.freeze() == bid1  # idempotent: memoized
    # mutation clears ancestors' bids
    write_file(ds, a, "g", b"v2")
    root = ds.get_node(ROOT_INODE)
    assert root.is_dirty and root.bid is None
    bid2 = ds.freeze()
    assert bid2 != bid1


def test_add_immutable_bytes(ds):
    inode = ds.add_immutable_bytes(ROOT_INODE, "imm", b"abc")
    n = ds.get_node(inode)
    assert not n.is_dirty and n.bid is not None and n.size == 3
    assert ds.read(inode) == b"abc"


def test_link_remote_file(ds):
    src = RemoteSource(kind="gcs", bucket="b", key="k", generation=7, size=10)
    inode = ds.link_remote(ROOT_INODE, "ext", src)
    n = ds.get_node(inode)
    assert n.bid is not None and n.remote_source.kind == "gcs"
    src2 = RemoteSource(kind="url", url="http://x/y", etag="e", size=5)
    d = ds.link_remote(ROOT_INODE, "extdir", src2, is_dir=True)
    assert ds.get_node(d).deferred


def test_push_mount_round_trip(tmp_path):
    """Golden E2E (core/functional_test.go:12-52): push on A, mount on
    fresh B, byte-identical read."""
    remote = MemRemote()
    a = DataStore(str(tmp_path / "A"), remote=remote)
    d = a.mkdir(ROOT_INODE, "dir")
    write_file(a, d, "x", b"the payload")
    write_file(a, ROOT_INODE, "top", b"top-level")
    root_bid = a.push("sample-label")
    assert remote.get_root("sample-label") == root_bid

    b = DataStore(str(tmp_path / "B"), remote=remote)
    b.mount_by_label(ROOT_INODE, "mount", "sample-label")
    assert b.read_path("/mount/dir/x") == b"the payload"
    assert b.read_path("/mount/top") == b"top-level"
    # listing of lazily-expanded dir matches what A pushed
    names = [n for n, _ in b.get_dir_contents(b.resolve_path("/mount"))]
    assert names == ["dir", "top"]


def test_tampered_remote_block_raises_typed_error(tmp_path):
    """A remote serving bytes that do not hash to the requested bid is
    refused with a typed error (an ``assert`` vanishes under ``-O`` and
    would return the tampered bytes), and the bid is not recorded as
    present on the remote."""
    remote = MemRemote()
    a = DataStore(str(tmp_path / "A"), remote=remote)
    f = write_file(a, ROOT_INODE, "f", b"genuine payload")
    a.push("lbl")
    bid = a.get_node(f).bid
    remote.blocks[bid] = b"tampered payload"

    b = DataStore(str(tmp_path / "B"), remote=remote)
    b.mount_by_label(ROOT_INODE, "m", "lbl")
    with pytest.raises(E.BlockHashMismatchError):
        b.read_path("/m/f")
    assert bid not in b.pushed


def test_mount_requires_empty_dir(tmp_path):
    remote = MemRemote()
    a = DataStore(str(tmp_path / "A"), remote=remote)
    write_file(a, ROOT_INODE, "f", b"x")
    a.push("lbl")
    b = DataStore(str(tmp_path / "B"), remote=remote)
    tgt = b.mkdir(ROOT_INODE, "m")
    b.mkdir(tgt, "占" if False else "child")
    with pytest.raises(E.NotMountPointError):
        b.mount_by_label(ROOT_INODE, "m", "lbl")


def test_cache_hit_no_remote_reread(tmp_path):
    """Cache persistence semantics (core/freezer_test.go:72-118): a
    second read must not touch the remote."""
    remote = MemRemote()
    a = DataStore(str(tmp_path / "A"), remote=remote)
    write_file(a, ROOT_INODE, "f", b"payload" * 100)
    a.push("lbl")
    b = DataStore(str(tmp_path / "B"), remote=remote)
    b.mount_by_label(ROOT_INODE, "m", "lbl")
    assert b.read_path("/m/f") == b"payload" * 100
    reads_after_first = remote.read_count
    assert b.read_path("/m/f") == b"payload" * 100
    assert remote.read_count == reads_after_first  # served from CAS


def test_unmount(tmp_path):
    remote = MemRemote()
    a = DataStore(str(tmp_path / "A"), remote=remote)
    write_file(a, ROOT_INODE, "f", b"x")
    a.push("lbl")
    b = DataStore(str(tmp_path / "B"), remote=remote)
    b.mount_by_label(ROOT_INODE, "m", "lbl")
    b.read_path("/m/f")
    b.unmount(ROOT_INODE, "m")
    with pytest.raises(E.NotFoundError):
        b.resolve_path("/m")
    assert len(b.nodes) == 1  # only root remains


def test_push_dedup_to_remote(tmp_path):
    """U2: pushing twice uploads nothing new; identical content across
    stores collapses in the remote CAS."""
    remote = MemRemote()
    a = DataStore(str(tmp_path / "A"), remote=remote)
    write_file(a, ROOT_INODE, "f", b"shared-bytes")
    a.push("l1")
    count1 = len(remote.blocks)
    a.push("l1")  # freeze memoized, nothing unpushed
    assert len(remote.blocks) == count1
    c = DataStore(str(tmp_path / "C"), remote=remote)
    write_file(c, ROOT_INODE, "f", b"shared-bytes")
    c.push("l2")
    # same file content + same manifest line ⇒ both blocks dedup'd
    assert len(remote.blocks) == count1


def test_catalog_save_load_roundtrip(tmp_path):
    """Reference: persistence across reopen (core/datastore_test.go:66-92)
    — a reloaded catalog answers identically and freezes to the same
    Merkle root."""
    remote = MemRemote()
    ds = DataStore(str(tmp_path / "s"), remote=remote)
    a = ds.mkdir(ROOT_INODE, "a")
    ds.add_immutable_bytes(a, "frozen.dat", b"frozen-bytes")
    w = ds.create_writable(a, "draft.txt")
    ds.write(w, b"work in progress")
    root_bid = ds.freeze()
    ds.save()

    ds2 = DataStore.load(str(tmp_path / "s"), remote=remote)
    assert [n for n, _ in ds2.get_dir_contents(ROOT_INODE)] == ["a"]
    assert ds2.read_path("/a/frozen.dat") == b"frozen-bytes"
    assert ds2.read_path("/a/draft.txt") == b"work in progress"
    assert ds2.freeze() == root_bid  # memoized bids survived
    # mutations keep working after reload (inode allocator resumed)
    b = ds2.mkdir(ROOT_INODE, "b")
    assert b > a
    ds2.add_immutable_bytes(b, "new.dat", b"new")
    assert ds2.freeze() != root_bid
