#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...}

Each query is forced to full execution with a noop sink (no driver
collect — measures the distributed plan, not Arrow transfer).

Warm-up scope (see the inline note at the warm-up phase): one probe
query (JVM/codegen/footers) plus the _fs_memo nodes/regions
derivation + persist — one-time session costs a catalog service pays
once, kept out of per-operator medians. Everything that recurs per
operator (plan compile, Python worker spin-up) stays measured.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from pufs_spark.session import get_spark  # noqa: E402

# Headline set: catalog slice (L3), Merkle freeze (F1), interval mask
# (R2), dedup exact + near-dup (U1/D1), text quality (T1), similarity
# (S1), sessionization (E1), and the relational Q-series.
HEADLINE = [
    "L3_extended_listing",
    "F1_merkle_freeze",
    "R1_missing_regions",
    "R2_interval_union",
    "U1_exact_dedup",
    "D1_minhash_lsh_neardup",
    "T1_token_quality",
    "T2_lang_id",
    "S1_cosine_topk",
    "E1_sessionize",
    "E2_event_rate",
    "M2_media_features",
    "W1_rank_per_group",
    "Q1_pricing_summary",
    "Q3_shipping_priority",
    "Q5_local_supplier",
    "Q6_forecast_revenue",
    "Q14_promo_revenue",
    "Q18_large_orders",
    # Added round 5 (suite-total is therefore not directly comparable
    # to rounds <= 4; per-query timings are the cross-round signal):
    "T13_dedup_paragraphs",
    "T14_pack_sequences",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- bench protocol (round 11) -------------------------------------
# Round 10's suite number drifted +18% on byte-identical query code and
# no one could tell regression from box noise.  The protocol makes the
# instrument self-describing:
#   1. loadavg gate: a busy box (1-min loadavg over LOAD_GATE) taints
#      every number; we WARN loudly and stamp `"load_gate": "FAIL"` so
#      a cross-round reader discounts the run (refusing outright would
#      zero a driver round, which is worse than a flagged number).
#   2. n>=5 median per query (env SPARK_GRAFT_BENCH_N, floor 5): the
#      round-7/round-10 drifts sat inside 3-sample min/max spreads;
#      5 samples make the median resistant to two bad draws.
#   3. recorded box state: loadavg before/after, CPU count, and
#      whether the Derby metastore / spark-warehouse dirs pre-existed
#      (a warm metastore changes first-query wall).
#   4. taint verdict (r13): this box shows intermittent multi-second
#      host-steal spikes (idle-box vmstat confirmed, r12); a run is
#      stamped `"tainted": true` when the load gate fails OR any
#      query's max/min spread exceeds SPREAD_TAINT_RATIO with an
#      absolute gap over SPREAD_TAINT_ABS (tiny queries jitter 3x
#      harmlessly; a 1 s+ gap at 3x is a steal event). `value_min`
#      (sum of per-query mins) is the cross-round statistic to quote
#      on this box — mins are the spike-free draws.
LOAD_GATE = 4.0  # was 8.0: r12's 7.94 "pass" was visibly contended
SPREAD_TAINT_RATIO = 3.0
SPREAD_TAINT_ABS = 1.0  # seconds


def box_state() -> dict:
    repo = os.path.dirname(os.path.abspath(__file__))
    la1, la5, la15 = os.getloadavg()
    return {
        "loadavg": [round(la1, 2), round(la5, 2), round(la15, 2)],
        "cpus_online": os.cpu_count(),
        "derby_preexisting": os.path.isdir(os.path.join(repo, "metastore_db")),
        "warehouse_preexisting": os.path.isdir(
            os.path.join(repo, "spark-warehouse")
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # extract the trailing sf<number> from any dir name ("sf0.1",
    # "pufs_sf1.0", ...); fall back to the raw basename
    base = os.path.basename(sf_dir.rstrip("/"))
    m = __import__("re").search(r"sf([\d.]+)$", base)
    sf = m.group(1) if m else base
    pre_state = box_state()
    load_ok = pre_state["loadavg"][0] <= LOAD_GATE
    if not load_ok:
        print(
            f"bench: WARNING 1-min loadavg {pre_state['loadavg'][0]} exceeds "
            f"gate {LOAD_GATE}; numbers below are tainted by concurrent work",
            file=sys.stderr,
        )
    n_runs = max(5, int(os.environ.get("SPARK_GRAFT_BENCH_N", "5")))
    # Input-sized shuffle start (r14): pass the sf dir's on-disk bytes
    # so initialPartitionNum scales with the workload instead of
    # sitting at the 32x-cores cap (which cost ~25%/query at sf0.1;
    # the A/B record, tools/out/bench_r14_ab_initial32.json, is in git
    # history).
    input_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(sf_dir)
        for f in fs
    )
    spark = get_spark(app_name="pufs_spark_bench", input_bytes=input_bytes)
    qs = entrymod.queries()

    # Warm-up scope (VERDICT r14 #3): per-query numbers should measure
    # the OPERATOR, not one-time session setup. Warmed here, once:
    #   1. JVM + codegen + parquet footers (the Q6 probe);
    #   2. the _fs_memo derivation + persist (fs-tree nodes/regions) —
    #      a catalog service derives its node table once per session
    #      and serves every query from it, so the first catalog-family
    #      draw (L3/F1/R1...) paying the 5-16 s build+persist is
    #      session cost, not operator cost; on a loaded/cold box it
    #      landed inside medians and read as a 2x regression (r12-r14
    #      driver draws).
    # NOT warmed: per-query plan compile, Python worker spin-up, page
    # cache beyond what these two touch — those recur per operator
    # shape and stay inside the measured draws (run 1 keeps them;
    # spikiness is judged on runs 2..n).
    try:
        force(qs["Q6_forecast_revenue"](spark, sf_dir))
        for memo in ("_fs_nodes", "_fs_regions"):
            getattr(entrymod, memo)(spark, sf_dir).count()
    except Exception:  # noqa: BLE001 — warmup failure must not kill the run
        pass

    # One broken query must not zero the whole benchmark (round-3 lesson:
    # an analysis error in E1 crashed the harness and cost the round its
    # perf evidence). Failures report as null timings + an errors entry;
    # the JSON line always parses.
    # Median-of-n (n>=5, was 3): round-10 showed +18% suite drift on
    # UNCHANGED code — machine state, not plans. The median damps both
    # a slow outlier (GC pause) and a lucky cache hit; min/max spread
    # is recorded per query so cross-round readers can tell a real
    # regression (median moved beyond the spread) from noise.
    timings: dict[str, float | None] = {}
    spread: dict[str, list[float]] = {}
    steady_max: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        runs: list[float] = []
        try:
            for _ in range(n_runs):
                t0 = time.monotonic()
                force(qs[name](spark, sf_dir))
                runs.append(time.monotonic() - t0)
            # The chronologically FIRST run carries deterministic
            # one-time costs (plan compile, codegen, Python worker
            # spin-up for UDF queries) — S1's first draw ran 5x its
            # steady state on a provably quiet box (r14 anchor). Keep
            # it in median/spread (cold cost is real cost), but judge
            # SPIKINESS on runs 2..n only, so compile doesn't
            # masquerade as host steal.
            steady_max[name] = max(runs[1:]) if len(runs) > 1 else runs[0]
            runs.sort()
            timings[name] = round(runs[len(runs) // 2], 3)
            spread[name] = [round(runs[0], 3), round(runs[-1], 3)]
        except Exception as exc:  # noqa: BLE001
            timings[name] = None
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    # A suite with failures reports value=null rather than the sum of
    # the survivors — a partial sum would make a BROKEN round look
    # FASTER than a healthy one in cross-round comparisons.
    total = (
        round(sum(t for t in timings.values() if t is not None), 3)
        if not errors
        else None
    )
    # value_min: the sum of per-query MINS — on a box with steal
    # spikes this is the comparable cross-round statistic (the median
    # still absorbs a spike when 3 of 5 draws are hit).
    value_min = (
        round(sum(s[0] for s in spread.values()), 3) if not errors else None
    )
    spiky = sorted(
        n
        for n, s in spread.items()
        if s[0] > 0
        and steady_max.get(n, s[1]) / s[0] > SPREAD_TAINT_RATIO
        and steady_max.get(n, s[1]) - s[0] > SPREAD_TAINT_ABS
    )
    tainted = (not load_ok) or bool(spiky)
    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "value_min": value_min,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "sf": float(sf) if sf else None,
        "protocol": {
            "n_runs": n_runs,
            "load_gate": "ok" if load_ok else "FAIL",
            "tainted": tainted,
            "taint_spiky_queries": spiky,
            "box_before": pre_state,
            "box_after": box_state(),
        },
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    if errors:
        print(
            f"bench: {len(errors)} of {len(HEADLINE)} queries failed",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
