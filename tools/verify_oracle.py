#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares
against ``oracle_sql()`` via DuckDB: row count, column names, and an
order-insensitive value comparison (columns sorted by name, rows sorted
by all columns, numerics compared to 1e-9 relative tolerance).

Usage: python tools/verify_oracle.py [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from pufs_spark.session import _default_driver_mem, mem_total_gib  # noqa: E402
from pufs_spark.tables import TPCH_TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            # bytes (hashes) → hex for stable compare
            s = s.map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v
            )
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver's value-hash is type-sensitive (round-1 lesson: DuckDB
        # promotes integer sum() to HUGEINT while Spark emits bigint, and the
        # hashes diverge even when every value matches). Flag any dtype split
        # between the two collected frames as a failure.
        if str(av.dtype) != str(bv.dtype):
            an = pd.api.types.is_numeric_dtype(av)
            bn = pd.api.types.is_numeric_dtype(bv)
            ai = pd.api.types.is_integer_dtype(av)
            bi = pd.api.types.is_integer_dtype(bv)
            if (an != bn) or (an and bn and ai != bi):
                return f"col {c} dtype mismatch: spark {av.dtype} vs oracle {bv.dtype}"
        if pd.api.types.is_numeric_dtype(av) and pd.api.types.is_numeric_dtype(bv):
            af = av.astype(float).to_numpy()
            bf = bv.astype(float).to_numpy()
            ok = np.isclose(af, bf, rtol=1e-9, atol=1e-9, equal_nan=True)
            if not ok.all():
                i = int(np.argmin(ok))
                return f"col {c} value mismatch at sorted row {i}: {af[i]} vs {bf[i]}"
        else:
            eq = (av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                return f"col {c} mismatch at sorted row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def duckdb_config() -> dict[str, str]:
    """Cap the oracles' DuckDB at a fifth of the host's memory (1 GiB
    floor) and keep it from spilling. The Spark JVM in the same sweep
    takes up to 70% (``_default_driver_mem``), and DuckDB's own default
    is 80%: at sf0.1 D1's quadratic all-pairs oracle took this process
    to 11.6 GB on a 15 GB host and the OOM killer took the JVM, failing
    every later entry. Capped, an oracle that needs more raises
    DuckDB's out-of-memory error and fails alone, as its own entry."""
    total_gib = mem_total_gib() or 8.0
    return {
        "memory_limit": f"{max(1024, int(total_gib * 1024 / 5))}MiB",
        "temp_directory": "",
    }


def main() -> None:
    only = set(sys.argv[1:])
    con = duckdb.connect(config=duckdb_config())
    for t in TPCH_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    # Deliberately a PLAIN session — no pufs_spark.session confs — so this
    # replicates the driver's oracle harness (round-1 lesson: six queries
    # only worked in our own session because it set nanosAsLong at build
    # time; the driver's plain session exposed the gap).
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("verify_oracle")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # box-derived heap, same rule as pufs_spark.session (ADVICE
        # r12: a flat 32g assumes a large bench box); the import pulls
        # only the helper — the session stays conf-plain otherwise
        .config(
            "spark.driver.memory",
            os.environ.get("PUFS_DRIVER_MEM", _default_driver_mem()),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    # Oracles that are infeasible at larger SFs (e.g. D1's quadratic
    # all-pairs Jaccard verifier in DuckDB): skip via env, e.g.
    # PUFS_ORACLE_SKIP=D1_minhash_lsh_neardup for the sf0.1 sweep.
    skip = set(filter(None, os.environ.get("PUFS_ORACLE_SKIP", "").split(",")))
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"skip {name} (PUFS_ORACLE_SKIP)")
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL {name}: oracle error {e}")
            continue
        diff = compare(sdf, odf)
        if diff:
            failures.append((name, diff))
            print(f"FAIL {name}: {diff}")
        else:
            print(f"ok   {name}: {len(sdf)} rows")

    print(f"\n{len(failures)} failures")
    for name, msg in failures:
        print(f"  {name}: {msg}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
