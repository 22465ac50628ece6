import os
import sys

import pytest

from tests.conftest import SF_DIR

from pufs_spark.tables import TPCH_TABLES, load_tables


def test_load_all_tables(spark):
    dfs = load_tables(spark, SF_DIR)
    assert set(dfs) == set(TPCH_TABLES)
    assert dfs["region"].count() == 5
    assert dfs["lineitem"].count() > 1000


def test_load_table_memo_is_per_session(spark, monkeypatch):
    """Two sessions of one app (newSession shares the SparkContext, not
    the SQL conf) get distinct handles; a repeat load in one session is
    a memo hit that returns the same DataFrame."""
    from pyspark.sql.session import _monkey_patch_RDD

    from pufs_spark.tables import load_table

    monkeypatch.setenv("PUFS_ENTRY_CACHE", "1")
    other = spark.newSession()
    try:
        a = load_table(spark, SF_DIR, "region")
        b = load_table(other, SF_DIR, "region")
        assert a.sparkSession is spark and b.sparkSession is other
        assert not a._jdf.equals(b._jdf)
        assert b._jdf.sparkSession().equals(other._jsparkSession)
        assert load_table(spark, SF_DIR, "region") is a
        assert load_table(other, SF_DIR, "region") is b
        assert b.count() == 5
    finally:
        _monkey_patch_RDD(spark)  # newSession re-points RDD.toDF


def test_load_table_memo_drops_collected_sessions(spark, monkeypatch):
    """A session's memo entries never keep it alive: once dropped, the
    session and the handles it memoized are collected together, so a
    later session can never be served a handle bound to a dead one (an
    id() key could be recycled)."""
    import gc
    import weakref

    from pyspark.sql.session import _monkey_patch_RDD

    from pufs_spark.tables import load_table

    monkeypatch.setenv("PUFS_ENTRY_CACHE", "1")
    other = spark.newSession()
    handle = weakref.ref(load_table(other, SF_DIR, "nation"))
    assert load_table(other, SF_DIR, "nation") is handle()
    gone = weakref.ref(other)
    del other
    # newSession points RDD.toDF at the newest session; point it back
    _monkey_patch_RDD(spark)
    gc.collect()
    assert gone() is None
    assert handle() is None


def test_ship_package_covers_streaming_planner(spark):
    """_ship_package must land the package zip BOTH at the userFiles
    root (task workers' includes) AND under streaming_job/ — Spark
    4.1's streaming Python planner resolves its includes under that
    job-artifact dir, so a pufs_commits stream planned from a driver
    that imported pufs_spark via sys.path (not cwd) dies with
    ModuleNotFoundError without the mirror copy. Pytest runs from the
    repo root (cwd masks the failure), so pin the mechanism: the zip
    exists at both paths."""
    from pyspark.core.files import SparkFiles

    root = SparkFiles.getRootDirectory()
    names = [n for n in os.listdir(root) if n.startswith("pufs_spark_pkg_")]
    assert names, f"package zip missing from userFiles root {root}"
    sj = os.path.join(root, "streaming_job")
    assert os.path.isdir(sj) and set(names) & set(os.listdir(sj)), (
        "package zip not mirrored into the streaming planner's "
        f"job-artifact dir {sj}"
    )


def test_ship_package_does_not_accrete_temp_zips(spark, tmp_path, monkeypatch):
    """Hermetic accretion/reaping check in a private temp dir (the real
    system temp dir may hold live zips from CONCURRENT drivers, which
    are not ours to count or delete — r9's flaky version globbed it).

    Pins four behaviors of the ship path:
    - the package is written inside ONE private 0700 dir per process,
      under a name carrying a hash of its contents, and an unchanged
      package re-ships as that same single file (no accretion across
      contexts);
    - a changed package re-ships under a new name, so Spark never sees
      one file name with two contents (it refuses the second, and
      every later task of the context fails);
    - a planted orphan from a dead pid (the SIGKILL leak atexit cannot
      cover) is reaped at ship time — both dir-style and legacy
      flat-zip-style names;
    - a live foreign driver's dir is left alone."""
    import shutil
    import stat
    import tempfile

    from pufs_spark import session as sess

    uid = os.getuid()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(sess, "_pkg_dir", None)

    # Plant: a dead-pid dir, a dead-pid legacy flat zip, a live-pid dir.
    # pid 2**22+5 exceeds the kernel pid_max ceiling -> guaranteed dead.
    dead = 2**22 + 5
    dead_dir = tmp_path / f"pufs_spark_pkg_{uid}_{dead}_x1"
    dead_dir.mkdir()
    (dead_dir / "stale.zip").write_bytes(b"junk")
    dead_zip = tmp_path / f"pufs_spark_pkg_{uid}_{dead}.zip"
    dead_zip.write_bytes(b"junk")
    live_dir = tmp_path / f"pufs_spark_pkg_{uid}_1_x2"  # pid 1 is alive
    live_dir.mkdir()

    spark.sparkContext._pufs_pkg_shipped = False
    sess._ship_package(spark)
    first = sess._pkg_dir
    assert first and first.startswith(str(tmp_path))
    assert stat.S_IMODE(os.stat(first).st_mode) == 0o700
    shipped = os.listdir(first)
    assert len(shipped) == 1
    assert shipped[0].startswith(f"pufs_spark_pkg_{uid}_{os.getpid()}_")
    assert shipped[0].endswith(".zip")
    assert not dead_dir.exists() and not dead_zip.exists(), "orphans not reaped"
    assert live_dir.exists(), "live foreign driver's dir was reaped"

    # Re-ship unchanged: same dir, same single file — nothing accretes.
    spark.sparkContext._pufs_pkg_shipped = False
    sess._ship_package(spark)
    assert sess._pkg_dir == first
    assert os.listdir(first) == shipped
    mine = [
        n
        for n in os.listdir(tmp_path)
        if n.startswith(f"pufs_spark_pkg_{uid}_{os.getpid()}")
    ]
    assert mine == [os.path.basename(first)], f"accreted: {mine}"

    # Re-ship a changed package from a new private dir (a new process
    # dir, or a source edit in a long-lived driver): it gets a new
    # name, so Spark does not find the first zip's name with other
    # contents. The changed zip stays registered as a Spark file, which
    # every later task's executor fetches; it is taken back off the
    # driver's sys.path and the workers' includes before any task runs,
    # so this and later tests import the package under test.
    src = tmp_path / "src" / "pufs_spark"
    shutil.copytree(
        sess._PKG_SRC, src, ignore=shutil.ignore_patterns("__pycache__")
    )
    (src / "_reship_probe.py").write_text("# changes the zip's contents\n")
    monkeypatch.setattr(sess, "_PKG_SRC", str(src))
    monkeypatch.setattr(sess, "_pkg_dir", None)
    monkeypatch.setattr(sys, "path", list(sys.path))  # addPyFile prepends
    sc = spark.sparkContext
    includes = list(sc._python_includes)
    sc._pufs_pkg_shipped = False
    try:
        sess._ship_package(spark)
    finally:
        sc._python_includes[:] = includes
    second = sess._pkg_dir
    assert second != first
    changed = os.listdir(second)
    assert len(changed) == 1 and changed != shipped
    got = (
        sc.parallelize(range(4), 4)
        .map(lambda _: __import__("pufs_spark.tables").__file__)
        .collect()
    )
    assert len(got) == 4 and not any(changed[0] in f for f in got), got


def test_initial_shuffle_partitions_scales_with_input():
    """r14: AQE's planned start count follows input bytes — floor at
    the core count for tiny SFs (the flat 32x-cores start cost
    ~25%/query at sf0.1; the A/B record,
    tools/out/bench_r14_ab_initial32.json, is in git history), cap
    at 32x cores for decade-scale tiles, 1 partition/MB between."""
    from pufs_spark.session import _initial_shuffle_partitions as f

    floor, cap = 32, 1024
    assert f(None, floor, cap) == cap           # unknown input: scale-safe
    assert f(17_500_000, floor, cap) == floor   # sf0.1-sized: floor
    assert f(512 << 20, floor, cap) == 512      # ramp: 1 per MiB
    assert f(2_505_240_175, floor, cap) == cap  # sf10 tile: cap
    assert f(0, floor, cap) == floor


def test_table_row_count_matches_footers(spark):
    """Footer walk equals a real count, and misses return None.

    Skips (not errors) where the driver testdata is absent (ADVICE
    r14: don't couple the suite to this box's layout)."""
    import pytest

    from pufs_spark.tables import load_table, table_row_count

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf):
        pytest.skip(f"driver testdata absent: {sf}")
    n = table_row_count(sf, "embeddings")
    assert n == load_table(spark, sf, "embeddings").count()
    assert table_row_count(sf, "no_such_table") is None


def test_feed_probe_handles_file_uri_and_remote_schemes(tmp_path):
    """ADVICE r13: a feed bound as file:/... must probe like a bare
    path; non-local schemes return None (observable no-op)."""
    from pufs_spark.operators.pipeline import _feed_data_files

    p = tmp_path / "feed"
    p.mkdir()
    (p / "a.json").write_text("x" * 100)
    bare = _feed_data_files(str(p))
    uri = _feed_data_files(f"file://{p}")
    assert bare == uri == [100]
    assert _feed_data_files("hdfs://nn/feed") is None
    assert _feed_data_files("s3a://bucket/feed") is None


def test_feed_probe_file_uri_with_glob_and_authority(tmp_path):
    """ADVICE r14: a file: URI containing glob metacharacters must not
    be truncated at '?' (urlparse treated it as a query string), and a
    non-local authority (file://host/path) must take no-spread rather
    than silently probing the local path."""
    from pufs_spark.operators.pipeline import _feed_data_files

    p = tmp_path / "feed"
    p.mkdir()
    (p / "a.json").write_text("x" * 100)
    (p / "ab.json").write_text("x" * 200)
    # '?' matches exactly one char: a.json only
    assert _feed_data_files(f"file:{p}/?.json") == [100]
    assert sorted(_feed_data_files(f"file:{p}/*.json") or []) == [100, 200]
    # bracket globs survive too
    assert _feed_data_files(f"file:{p}/[a].json") == [100]
    # non-local authority: refuse (was: silently statted /feed locally)
    assert _feed_data_files(f"file://otherhost{p}") is None
    # file:///path (empty authority) and file://localhost/path still work
    assert _feed_data_files(f"file://{p}") == [100, 200] or sorted(
        _feed_data_files(f"file://{p}") or []
    ) == [100, 200]
    assert sorted(_feed_data_files(f"file://localhost{p}") or []) == [
        100,
        200,
    ]


def test_footer_column_minmax(tmp_path, spark):
    """table_column_minmax reads row-group stats without a Spark job
    and returns None on missing tables/columns (advisory stance)."""
    from pufs_spark.tables import table_column_minmax

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"vec_id": pa.array([0, 3, 1, 2], type=pa.int64())})
    pq.write_table(t, str(tmp_path / "embeddings.parquet"), row_group_size=2)
    assert table_column_minmax(str(tmp_path), "embeddings", "vec_id") == (
        0,
        3,
    )
    assert table_column_minmax(str(tmp_path), "embeddings", "nope") is None
    assert table_column_minmax(str(tmp_path), "missing", "vec_id") is None


_LAZY_ZIPIMPORT = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from Python 3.13 on",
)


@_LAZY_ZIPIMPORT
def test_invalidate_caches_rereads_only_changed_zips(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` re-reads a zip on ``sys.path``
    only when its stat changed. The first call after the importer is
    made reads it once (no stamp yet); later calls read nothing until
    the zip is rewritten, and a module added by the rewrite imports."""
    import importlib
    import zipfile
    import zipimport

    import pufs_spark  # noqa: F401 — installs the check

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pufs_zip_probe_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pufs_zip_probe_a").A == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        importlib.invalidate_caches()  # stamps the archive

        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda a: reads.append(a) or read(a)
        )
        importlib.invalidate_caches()
        assert reads.count(archive) == 0, reads
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("pufs_zip_probe_a.py", "A = 1\n")
            zf.writestr("pufs_zip_probe_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1, reads
        assert importlib.import_module("pufs_zip_probe_b").B == 2
    finally:
        for name in ("pufs_zip_probe_a", "pufs_zip_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@_LAZY_ZIPIMPORT
def test_worker_tasks_skip_unchanged_zip_rereads(spark):
    """PySpark calls ``importlib.invalidate_caches()`` at the start of
    every Python task. Once a reused worker has imported ``pufs_spark``
    (here, by unpickling the first job's closure), a later task's call
    reads no archive directory."""
    import time

    from pufs_spark.session import install_zip_cache_check

    def first(_):
        install_zip_cache_check()
        time.sleep(0.3)  # hold the slot, so every idle worker runs one
        yield os.getpid()

    def second(_):
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield os.getpid(), importers, len(reads)

    sc = spark.sparkContext
    warmed = set(sc.parallelize(range(8), 8).mapPartitions(first).collect())
    got = sc.parallelize(range(4), 4).mapPartitions(second).collect()
    assert {pid for pid, _, _ in got} <= warmed, (got, warmed)
    assert all(importers > 0 for _, importers, _ in got), got
    assert [reads for _, _, reads in got] == [0] * 4, got


def test_zip_cache_check_is_a_no_op_from_python_3_13(monkeypatch):
    import zipimport

    from pufs_spark import session as sess

    def invalidate_caches(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", invalidate_caches)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    sess.install_zip_cache_check()
    assert zipimport.zipimporter.invalidate_caches is invalidate_caches


def test_codegen_cache_outlives_a_query_suite(spark):
    """A query run again after more than 100 other compiled classes (the
    default ``spark.sql.codegen.cache.maxEntries``) compiles nothing."""
    from pyspark.sql import functions as F

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def query():
        return (
            spark.range(100)
            .selectExpr("id * 7 + 3 AS x")
            .groupBy((F.col("x") % 5).alias("k"))
            .count()
            .collect()
        )

    expected = query()
    before = compiles()
    for i in range(60):
        spark.range(3).selectExpr(f"id * {i + 11} + {i} AS y").collect()
    assert compiles() - before > 100
    before = compiles()
    assert sorted(query()) == sorted(expected)
    assert compiles() == before
