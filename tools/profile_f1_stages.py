#!/usr/bin/env python
"""F1 floor decomposition (round 12, verdict task 2): the sf1.0 freeze
sits at ~6.3 s and is the suite's top cost. Times each stage of the
single-task plan SEPARATELY (each as its own forced materialization, so
stage walls overlap-free), then the end-to-end freeze, then the
memoized incremental case at three dirty ratios — the reference's core
contract is that a mostly-clean freeze is near-constant
(core/datastore.go:1123-1125).

Usage: SPARK_GRAFT_SF_DIR=/tmp/pufs_sf1.0 python tools/profile_f1_stages.py
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pufs_spark.plans import fstree, merkle
from pufs_spark.session import get_spark

from pyspark.sql import functions as F


def force(df):
    df.write.format("noop").mode("overwrite").save()


def t(fn):
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 3)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/pufs_sf1.0")
    spark = get_spark(app_name="profile_f1_stages")
    nodes = fstree.fs_nodes(spark, sf_dir).withColumn(
        "depth",
        F.when(F.col("inode") == 1, 0)
        .when(F.pmod(F.col("inode"), F.lit(10_000_000)) < 10, 1)
        .when(F.pmod(F.col("inode"), F.lit(10_000_000)) < 100, 2)
        .when(F.pmod(F.col("inode"), F.lit(10_000_000)) < 100000, 3)
        .otherwise(4)
        .cast("int"),
    )
    out = {"sf_dir": sf_dir}

    # -- stage walls (each from a fresh persist, forced separately) ----
    leveled = nodes.persist()
    out["prep_persist_count"] = t(lambda: leveled.count())
    out["rows"] = leveled.count()

    line = F.expr(merkle._MANIFEST_LINE_SQL)
    file_lines_all = (
        leveled.where(~F.col("is_dir"))
        .withColumn("_line", line)
        .groupBy(F.col("parent").alias("inode"))
        .agg(F.collect_list("_line").alias("_flines"))
    )
    out["s1_file_lines_groupby"] = t(lambda: force(file_lines_all))

    interior_ids = (
        leveled.where(F.col("is_dir"))
        .where(F.col("parent") != F.col("inode"))
        .select(F.col("parent").alias("inode"))
        .distinct()
    )
    out["s2_interior_ids"] = t(lambda: force(interior_ids))

    lines = F.coalesce(F.col("_flines"), F.array().cast("array<string>"))
    manifest = F.when(F.size(lines) == 0, F.lit("")).otherwise(
        F.concat(F.array_join(F.array_sort(lines), "\n"), F.lit("\n"))
    )
    d_all = leveled.where(F.col("is_dir"))
    leaf_tier = (
        d_all.join(interior_ids, "inode", "left_anti")
        .join(file_lines_all, "inode", "left")
        .select("inode", F.sha2(manifest, 256).alias("bid"))
    )
    out["s3_leaf_tier_sha2"] = t(lambda: force(leaf_tier))

    out["e2e_full_freeze"] = t(
        lambda: force(merkle.freeze_nodes_df(leveled))
    )
    out["e2e_full_freeze_2"] = t(
        lambda: force(merkle.freeze_nodes_df(leveled))
    )

    # -- memoized incremental: X% of leaf dirs dirty (+ their ancestor
    # chain, like real mutations null bids root-ward) -----------------
    frozen = merkle.freeze_nodes_df(leveled).persist()
    frozen.count()
    for pct in (0.0, 0.01, 0.10):
        if pct == 0.0:
            dirty = F.lit(False)
        else:
            dirty = (~F.col("is_dir")) & (
                F.abs(F.hash("inode")) % 1000 < int(pct * 1000)
            )
        # null the bid of every dirty file's parent and the ancestor
        # dirs (inode layout: parent chain is the <10/<100/<100000
        # bands), leaving everything else memoized
        marked = frozen.withColumn("_dirty_file", dirty)
        dirty_parents = marked.where(F.col("_dirty_file")).select(
            F.col("parent").alias("inode")
        ).distinct()
        redo = (
            marked.join(
                F.broadcast(dirty_parents.withColumn("_d", F.lit(True))),
                "inode", "left",
            )
            .withColumn(
                "bid",
                F.when(
                    F.col("is_dir")
                    & (F.coalesce(F.col("_d"), F.lit(False))
                       | (F.col("inode") < 100)),  # ancestor chain:
                    # root/region/nation — every dirty path nulls them
                    F.lit(None).cast("string"),
                ).otherwise(F.col("bid")),
            )
            .drop("_dirty_file", "_d")
            .withColumn(
                "depth",
                F.when(F.col("inode") == 1, 0)
                .when(F.col("inode") < 10, 1)
                .when(F.col("inode") < 100, 2)
                .when(F.col("inode") < 100000, 3)
                .otherwise(4)
                .cast("int"),
            )
            .persist()
        )
        redo.count()
        key = f"memoized_dirty_{int(pct * 100)}pct"
        out[key] = t(
            lambda r=redo: force(merkle.freeze_nodes_df(r, memoized=True))
        )
        out[key + "_2"] = t(
            lambda r=redo: force(merkle.freeze_nodes_df(r, memoized=True))
        )
        redo.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
