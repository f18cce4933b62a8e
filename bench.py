#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Output contract (r6 fix — VERDICT r05 #1): the FINAL stdout line is a
COMPACT JSON object the driver's bounded tail buffer can always hold:
    {"metric": "headline_total", "value": <sum sec>, "unit": "sec",
     "sf": <sf>, "n_queries": N, "normalized_total": X,
     "calibration": {...}, "drift": {...}, "norm_version": 2,
     "detail": "BENCH_DETAIL.json"}
The full per-query dicts (raw + drift-normalized seconds) are printed on an
EARLIER stdout line and also written to BENCH_DETAIL.json next to this
script. Round 5's single-line format (43 raw + 43 normalized entries)
overflowed the driver's tail capture mid-line, recording "parsed": null —
the compact final line guarantees the headline number is always machine-
readable regardless of how many queries the suite grows to.

Drift methodology (r7 redesign — VERDICT r06 #1). This sandbox is a
shared-host VM whose speed swings ±40% over minutes; r6's start-of-run
min-of-2 probes read flat while every query in the 46-second suite ran
~1.4× slower, so a real regression would have been indistinguishable from
host noise. Now:

- THREE fixed-work probes, independent of repo query code: ``scan`` (full
  lineitem parquet decode), ``shuffle`` (SF-independent exchange +
  hash-agg), ``cpu`` (in-memory codegen arithmetic, no I/O, no exchange).
- Probe STATIONS are interleaved through the suite (before the first
  query and after every ``PROBE_EVERY`` queries), so contention that
  arrives mid-suite is observed mid-suite.
- Each query reports the MEDIAN of adaptively many timed runs (after one
  untimed warm-up): at least 3 (5 when sub-0.4 s), extended up to 7
  while the observed relative spread exceeds 15% (r8 — reps respond to
  measured noise, not just runtime). Its drift factor is the mean of the
  two adjacent stations' factors — nearest-in-time, not start-of-run.
- The whole suite runs TWICE back-to-back (r8): published per-query
  numbers are the mean of the two passes' normalized medians, and the
  per-query double-run delta |p1-p2|/mean is published (median/p90/max
  in the final line) so round-over-round deltas can be gated on the
  measured repeatability of this very run.
- ``norm_version: 3`` (r10, VERDICT r9 #2) normalized seconds =
  raw / drift_q where drift_q is the SURFACE-MATCHED weighted factor:
  each query's {scan, shuffle, cpu} cost mix (static weight table
  ``bench_weights.json``, derived once from Spark stage byte metrics by
  ``scripts/bench_calibrate.py``) dotted with the per-probe factors of
  the adjacent stations. Rationale: host drift is ASYMMETRIC across
  surfaces (r9 measured scan 0.67x vs cpu 1.92x in one run) — dividing a
  cpu-bound query by the MEAN of the probes inflated it ~25% and
  manufactured phantom regressions two rounds running (r8
  dedup_minhash_signatures +39%, r9 total +18%). The v2 mean-of-probes
  series is still published (``normalized_total_v2``/
  ``normalized_v2_queries``) for round-over-round continuity. Units of
  both: "seconds on the reference machine"; when probes are flat at
  reference speed, normalized == raw. (v1, rounds ≤6, divided by the
  start-of-run probe total — a different scale; do not compare across
  versions.)
- The final line publishes per-probe median and lo/hi spread across
  stations, so the round log itself shows how turbulent the host was.

Methodology: one warm SparkSession on local[$SPARK_GRAFT_CPUS]; a warm-up
action first (JVM/codegen/parquet-footer costs land there, as they would in
any long-running deployment); each headline query then timed end-to-end
including its count() of the (small) result.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fixed reference machine speeds for the probes (seconds), measured on
# this sandbox in a quiet window (scan/shuffle/cpu at r7 start; sustain
# at r14 — min of repeated runs while the other probes read ~1.0x).
# These are CONSTANTS: the normalization target every future round is
# expressed against. Do not re-measure casually — changing them rescales
# normalized_* round history.
#
# "sustain" (r14, the bench-drift A/B): ~1 s of full-width parallel
# aggregate. The three short probes under-capture SUSTAINED multi-core
# contention on this shared host — the r13 A/B showed heavy shuffle/CPU
# queries 1.5-1.7x slower on UNCHANGED code while the short probes read
# only 1.1-1.25x. sustain is recorded at every station for attribution
# but EXCLUDED from the v2 drift mean (see _V2_DRIFT_PROBES) so the
# normalized_v2 series stays comparable across rounds.
REF_PROBES = {"scan": 0.22, "shuffle": 0.47, "cpu": 0.18, "sustain": 0.93}

#: probes whose mean defines the v2 drift factor — the original three,
#: frozen so the normalized_v2 round history keeps one definition
_V2_DRIFT_PROBES = ("scan", "shuffle", "cpu")

PROBE_EVERY = 10  # queries between calibration stations
#: byte cap on the FINAL stdout line; 69 queries serialize to under 3 KB
FINAL_LINE_MAX = 4096

# Headline set: one per operator family; each must be representative of the
# shuffle/join/window/text/vector cost envelope, not a microbenchmark.
HEADLINE = [
    "q1_pricing_summary",        # scan + filter + hash agg
    "q3_shipping_priority",      # fact-fact join + broadcast dim + top-k
    "q5_local_supplier_volume",  # 6-table join
    "agg_stats",                 # multi-aggregate groupBy
    "window_row_number_topn",    # partitioned window + rank pushdown
    "split_explode_wordcount",   # explode + agg (UNNEST analog)
    "dedup_exact",               # md5 fingerprint groupBy
    "dedup_minhash_lsh_pairs",   # shingle → minhash → band join
    "text_token_count",          # per-doc array ops
    "text_lang_id",              # stopword-hit lang classification
    "sim_brute_force_topk",      # broadcast cross-score + window top-k
    "events_session_window",     # session windows (stateful analog)
    "json_extract",              # JSON path extraction + agg
    "asof_last_purchase_before_click",  # union+window as-of join
    "range_join_errors_near_clicks",    # bucketed interval join
    "mm_decode_media",           # binary payloads through mapInPandas
    "text_bpe_tokens",           # regex pretokenizer projection
    "agg_percentiles",           # exact percentile sort-agg
    "window_range_90d_revenue",  # value-range window frame
    "q6_forecast_revenue",       # pure pushdown scan-agg (TPC-H Q6)
    "q10_returned_items",        # selective fact filters + dims + top-20
    "q18_large_volume_customers",  # HAVING-IN semi join + re-agg
    "q21_waiting_suppliers",     # multi-EXISTS semi/anti join stack
    "events_transition_matrix",  # per-user window lag + global agg
    # Round-2 breadth (VERDICT r01 #7): the heaviest LLM-pipeline families
    # so round-over-round perf tracking covers them, not just TPC-H.
    "dedup_minhash_clusters",    # LSH pairs → iterative connected components
    "text_tfidf_top_terms",      # explode + two-level agg + per-doc window
    "sim_ivf_ann_topk",          # centroid assign + nprobe prune + re-rank
    "text_chunk_windows",        # overlapping-window doc chunking
    "streaming_tumbling_counts", # REAL streaming pipeline (availableNow)
    # Round-3 breadth (VERDICT r02 #6): remaining heavy families.
    "dedup_minhash_signatures",  # shingle → 12-perm minhash projection
    "dedup_clusters_star",       # O(log n) star-contraction components
    "curation_pipeline_summary", # PII-scrub → dedup → chunk composition
    "text_decontaminate_ngram",  # eval 13-gram broadcast anti-join
    # Round-4 breadth: the new pipeline families.
    "vec_quantize_int8",         # int8 embedding quantization projection
    "text_pack_token_shards",    # per-lang running-sum shard packing
    "events_retention_cohorts",  # window-MIN cohort matrix
    # Round-5 breadth: the new operator families.
    "graph_triangle_count",      # support-pruned oriented wedge join
    "events_rolling_active_users",  # explode-based rolling distinct (WAU)
    "sim_pq_adc_topk",           # PQ codes + ADC lookup-table scoring
    "date_spine_gapfill",        # generated calendar + broadcast gap fill
    "dedup_semantic_clusters",   # SemDeDup codebook assign + cluster prune
    "text_boilerplate_segments", # corpus-frequency segment stripping
    "graph_pagerank_iter",       # 3 power iterations over co-purchase graph
    # Round-6 breadth (VERDICT r05 #6): remaining heavyweight families so
    # the perf surface tracks the catalog.
    "dedup_document_verdict",    # exact+fuzzy+semantic composed per-doc verdict
    "sim_silhouette_by_label",   # centroid silhouette (scale-safe variant)
    "grouped_price_regression",  # single-pass per-group OLS moments
    "graph_kcore_peel",          # iterative degree-peel round-trip
    "text_bm25_topk",            # shared-subtree BM25 ranking + broadcast prune
    "hybrid_rrf_retrieval",      # BM25 + dense cosine reciprocal-rank fusion
    # Round-8 breadth: the changelog family (CDC reads over a DML range;
    # fixture build happens once in the untimed warm-up, so the timing
    # tracks the pruned changelog READ).
    "cdc_doc_changelog",
    # Round-8 late breadth: the z-ordered read (2-D stats-pruned scan)
    # and the copy-on-write read (delete-file-free post-DML aggregate) —
    # fixture builds are warm-up-only here too.
    "iceberg_zorder_scan",
    "iceberg_cow_dml_scan",
    # Round-9 breadth: the incremental-matview read (target refreshed via
    # CDC deltas in the warm-up build; the timing tracks the target scan)
    # and the one-statement full-table MERGE sync replica read.
    "iceberg_matview_incremental",
    "merge_full_table_sync",
    # Round-10 breadth: the both-bases-moved join-matview read (algebraic
    # delta + netting in the warm-up build) and the v3 deletion-vector
    # read (Puffin → roaring bitmap → anti-join on every scan).
    "iceberg_matview_join_both_moved",
    "iceberg_v3_dv_scan",
    # Round-11 breadth: the v3 defaults read (per-group fill literals over
    # files that predate the column) and the row-lineage changelog read
    # across a whole-table compaction (rid-keyed net diff; fixture DML +
    # compaction happen in the untimed warm-up build).
    "iceberg_v3_defaults_scan",
    "iceberg_cdc_lineage_compaction",
    # Round-12 breadth: the unshredded variant read (Arrow decode to a
    # JSON surface + JVM-side typed extraction) and the ns-timestamp
    # read (raw-long scan + codegen'd µs truncation) — fixture builds
    # are warm-up-only, the timing tracks the reads.
    "iceberg_v3_variant_scan",
    "iceberg_v3_timestamp_ns_scan",
    # Round-13 breadth: variant DML (MOR delete + JSON re-encode update +
    # COW passthrough in the warm-up build; the timing tracks the
    # post-DML read), and the typed-path pushdown read (every
    # variant_get served by a native typed_value subcolumn — zero
    # Python in the plan).
    "iceberg_variant_dml_scan",
    "iceberg_variant_typed_pushdown",
    # the geometry envelope read (Arrow WKB decode before the only
    # exchange; blobs never shuffle)
    "iceberg_geometry_bbox_scan",
    # Round-14 breadth: the mixed-layout shredded DML read (MOR DELETE
    # committed coordinates only + re-encoded UPDATE rows in the
    # warm-up build; the timing tracks the post-DML mixed-layout read),
    # the branch-staged WAP read (publish is a metadata fast-forward),
    # and the geometry bbox-skipping scan (manifest-bounds file skip +
    # row-level envelope intersect on the one surviving band).
    "iceberg_shredded_dml_scan",
    "iceberg_v3_branch_dml_scan",
    "iceberg_geo_scan_pushdown",
    # Round-15 breadth: the renamed/defaulted SHREDDED read (the lifted
    # v3 refusal — per-file descriptor-leaf rename resolution), the
    # antimeridian-wrapped GEOGRAPHY scan (circular file skip + wrapped
    # row window), and the zero-shuffle haversine classify (JVM HOF
    # fold, no Python, no join).
    "iceberg_shredded_renamed_scan",
    "geo_geography_wrap_scan",
    "geo_haversine_nearest",
]


def _make_probes(spark, load_table):
    """Three fixed-work probes independent of repo query code. ``scan``
    exercises parquet I/O + decode, ``shuffle`` a fixed-size exchange +
    hash agg, ``cpu`` pure whole-stage-codegen arithmetic (no I/O, no
    exchange) — three distinct contention surfaces, because host drift
    hits them asymmetrically."""
    from pyspark.sql import functions as F

    def shuffle_probe() -> None:
        (
            spark.range(0, 20_000_000, 1, 32)
            .withColumn("k", F.col("id") % 100_000)
            .groupBy("k")
            .agg(F.count("*").alias("c"), F.sum("id").alias("s"))
            .count()
        )

    def cpu_probe() -> None:
        (
            spark.range(0, 30_000_000, 1, 32)
            .select(
                # pmod-bound before summing: raw xxhash64 spans int64 and
                # sum() overflows under ANSI mode
                F.sum(F.pmod(F.xxhash64(F.col("id")), F.lit(1000003))).alias("h"),
                F.sum(F.col("id") * 31 % 1000003).alias("m"),
            )
            .collect()
        )

    def sustain_probe() -> None:
        # ~1 s of all-32-core work: long enough that a loaded host's
        # scheduler cannot hide behind a sub-200ms burst (r14)
        (
            spark.range(0, 960_000_000, 1, 32)
            .select(
                F.sum(F.pmod(F.xxhash64(F.col("id")), F.lit(1000003))).alias("h"),
                F.sum(F.col("id") * 31 % 1000003).alias("m"),
            )
            .collect()
        )

    return {
        "scan": lambda: load_table(spark, SF_DIR, "lineitem").count(),
        "shuffle": shuffle_probe,
        "cpu": cpu_probe,
        "sustain": sustain_probe,
    }


def _probe_station(probes) -> dict[str, float]:
    """One timed run of each probe (call after the warm-up station)."""
    out = {}
    for name, fn in probes.items():
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def _drift_factor(station: dict[str, float]) -> float:
    """Unitless host-speed factor: mean over the ORIGINAL three probes
    of t/ref (sustain is recorded but excluded — one definition across
    the round history). 1.0 = the reference machine; 1.4 = everything
    40% slower."""
    return sum(
        station[n] / REF_PROBES[n] for n in _V2_DRIFT_PROBES
    ) / len(_V2_DRIFT_PROBES)


def _probe_factors(station: dict[str, float]) -> dict[str, float]:
    """Per-probe host-speed factors (v3): the drift of each surface
    separately, because the host moves them asymmetrically."""
    return {n: t / REF_PROBES[n] for n, t in station.items()}


def _load_weights() -> dict[str, dict[str, float]]:
    """The checked-in per-query cost-surface mix (scripts/
    bench_calibrate.py). Missing file or missing query → empty mapping →
    that query falls back to the v2 mean-of-probes factor."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_weights.json"
    )
    try:
        with open(path) as f:
            return json.load(f).get("weights", {})
    except (OSError, ValueError):
        return {}


#: adaptive-rep policy (r8, VERDICT r07 #1): keep sampling while the
#: relative spread of the collected runs exceeds this, up to MAX_REPS —
#: noise-triggered, not just runtime-triggered.
SPREAD_TARGET = 0.15
MAX_REPS = 7
#: per-query sampling time budget: a 4 s query at 30% spread should not
#: burn 7 reps (28 s) chasing a precision the host can't give.
REP_BUDGET_S = 20.0


def _run_pass(spark, catalog, probes, weights) -> dict:
    """One full timed pass over HEADLINE with interleaved probe stations.
    Per query: one untimed warm-up, then MEDIAN of adaptively many timed
    runs — at least 3 (5 for sub-0.4 s queries, where ±30 ms scheduler
    jitter is proportionally larger), extended up to MAX_REPS while the
    relative spread (max-min)/median still exceeds SPREAD_TARGET and the
    per-query budget lasts (r8: reps now respond to OBSERVED noise, not
    only to runtime)."""
    stations: list[dict[str, float]] = [_probe_station(probes)]
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    reps: dict[str, int] = {}
    for i, name in enumerate(HEADLINE):
        if i and i % PROBE_EVERY == 0:
            stations.append(_probe_station(probes))
        fn = catalog[name].fn
        fn(spark, SF_DIR).count()  # untimed warm-up (planning + codegen)
        runs: list[float] = []

        def one() -> None:
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            runs.append(time.perf_counter() - t0)

        one()
        floor = 5 if runs[0] < 0.4 else 3
        while len(runs) < MAX_REPS and sum(runs) < REP_BUDGET_S:
            med = statistics.median(runs)
            rel = (max(runs) - min(runs)) / med if med else 0.0
            if len(runs) >= floor and rel <= SPREAD_TARGET:
                break
            one()
        med = statistics.median(runs)
        timings[name] = round(med, 3)
        spreads[name] = round((max(runs) - min(runs)) / med, 3) if med else 0.0
        reps[name] = len(runs)
    stations.append(_probe_station(probes))

    factors = [_drift_factor(s) for s in stations]
    pfactors = [_probe_factors(s) for s in stations]

    def query_drift_v2(i: int) -> float:
        s = min(i // PROBE_EVERY, len(factors) - 2)
        return (factors[s] + factors[s + 1]) / 2

    def query_drift_v3(i: int, name: str) -> float:
        """Surface-matched drift (r10): the query's cost-mix weights
        dotted with the adjacent stations' PER-PROBE factors. No weight
        entry → v2 mean-of-probes (new queries calibrate next run)."""
        w = weights.get(name)
        if not w:
            return query_drift_v2(i)
        s = min(i // PROBE_EVERY, len(pfactors) - 2)
        near = {
            p: (pfactors[s][p] + pfactors[s + 1][p]) / 2
            for p in REF_PROBES
        }
        return sum(w.get(p, 0.0) * near[p] for p in REF_PROBES) or (
            query_drift_v2(i)
        )

    normalized = {
        name: round(t / query_drift_v3(i, name), 3)
        for i, (name, t) in enumerate(timings.items())
    }
    normalized_v2 = {
        name: round(t / query_drift_v2(i), 3)
        for i, (name, t) in enumerate(timings.items())
    }
    return {
        "timings": timings,
        "spreads": spreads,
        "reps": reps,
        "stations": stations,
        "factors": [round(f, 3) for f in factors],
        "normalized": normalized,
        "normalized_v2": normalized_v2,
    }


def main() -> None:
    from cloudfloe_spark.queries import all_queries
    from cloudfloe_spark.session import get_spark
    from cloudfloe_spark.sources.tables import load_table

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="cloudfloe-bench")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = all_queries()

    # Warm-up: touch every table once (footer reads, codegen, executor spin-up).
    for t in ("lineitem", "orders", "customer", "documents", "embeddings", "events"):
        load_table(spark, SF_DIR, t).count()

    probes = _make_probes(spark, load_table)
    for fn in probes.values():  # probe warm-up (codegen/planning)
        fn()

    # TWO back-to-back passes (r8, VERDICT r07 #1 "done" bar): the
    # published per-query number is the elementwise MEAN of the two
    # passes' drift-normalized medians (same norm_version-2 units, lower
    # variance), and the per-query DOUBLE-RUN DELTA |p1-p2|/mean is
    # published so round-over-round comparisons can be gated on measured
    # repeatability instead of assumed stability.
    weights = _load_weights()
    p1 = _run_pass(spark, catalog, probes, weights)
    p2 = _run_pass(spark, catalog, probes, weights)

    normalized = {
        n: round((p1["normalized"][n] + p2["normalized"][n]) / 2, 3)
        for n in HEADLINE
    }
    normalized_v2 = {
        n: round((p1["normalized_v2"][n] + p2["normalized_v2"][n]) / 2, 3)
        for n in HEADLINE
    }
    run_delta = {}
    for n in HEADLINE:
        a, b = p1["normalized"][n], p2["normalized"][n]
        m = (a + b) / 2
        run_delta[n] = round(abs(a - b) / m, 3) if m else 0.0
    deltas = sorted(run_delta.values())
    delta_summary = {
        "med": round(statistics.median(deltas), 3),
        "p90": round(deltas[int(0.9 * (len(deltas) - 1))], 3),
        "hi": round(max(deltas), 3),
    }

    timings = {
        n: round((p1["timings"][n] + p2["timings"][n]) / 2, 3)
        for n in HEADLINE
    }
    stations = p1["stations"] + p2["stations"]
    factors = p1["factors"] + p2["factors"]
    total = round(sum(timings.values()), 3)
    norm_total = round(sum(normalized.values()), 3)
    norm_total_v2 = round(sum(normalized_v2.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Per-probe median + spread across ALL stations: if these are wide,
    # the host was turbulent and raw seconds are untrustworthy this run.
    calibration = {}
    for pname in REF_PROBES:
        vals = [s[pname] for s in stations]
        calibration[pname] = {
            "med": round(statistics.median(vals), 3),
            "lo": round(min(vals), 3),
            "hi": round(max(vals), 3),
        }
    drift_summary = {
        "med": round(statistics.median(factors), 3),
        "lo": round(min(factors), 3),
        "hi": round(max(factors), 3),
    }

    # Full per-query detail: an EARLIER stdout line + a sidecar file.
    detail = {
        "metric": "headline_detail",
        "queries": timings,
        "query_spread": {
            n: max(p1["spreads"][n], p2["spreads"][n]) for n in HEADLINE
        },
        "query_reps": {n: [p1["reps"][n], p2["reps"][n]] for n in HEADLINE},
        "stations": stations,
        "station_factors": factors,
        "ref_probes": REF_PROBES,
        "normalized_queries": normalized,
        "normalized_v2_queries": normalized_v2,
        "normalized_pass1": p1["normalized"],
        "normalized_pass2": p2["normalized"],
        "double_run_delta": run_delta,
        "norm_version": 3,
        "weights_used": sorted(n for n in HEADLINE if n in weights),
        "sf": sf_val,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }
    print(json.dumps(detail))
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
        # Per-core-count sidecar (r16, VERDICT r15 #5): the driver runs
        # the bench at two core counts back-to-back; the single detail
        # file used to be overwritten by whichever ran last, losing the
        # other run's per-query numbers (PERF_r15 scaling.per_query came
        # up empty). Purely additive — the stdout contract and
        # BENCH_DETAIL.json are unchanged.
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            with open(
                os.path.join(here, f"BENCH_DETAIL_c{cpus}.json"), "w"
            ) as f:
                json.dump(detail, f, indent=1)
    except OSError:
        pass  # detail file is best-effort; the stdout lines are the contract
    # FINAL line: compact, bounded size — always fits the driver tail buffer.
    final = json.dumps(
        {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            # The driver contract's one-line JSON carries the
            # per-query map INLINE: PERF_r15's per_query came up
            # empty because the driver tails only this final line
            # and the map used to ride the earlier detail line
            # alone. 69 queries ≈ 2.5 KB — still a bounded line.
            "queries": timings,
            "sf": sf_val,
            "n_queries": len(timings),
            "normalized_total": norm_total,
            "normalized_total_v2": norm_total_v2,
            "norm_version": 3,
            "weighted_queries": len(
                [n for n in HEADLINE if n in weights]
            ),
            "double_run_delta": delta_summary,
            "calibration": calibration,
            "drift": drift_summary,
            "detail": "BENCH_DETAIL.json",
        }
    )
    # Fail loudly when suite growth outgrows the bound, instead of
    # printing a line that a bounded tail capture would cut mid-object.
    if len(final) > FINAL_LINE_MAX:
        raise SystemExit(
            f"FINAL line is {len(final)} bytes, over {FINAL_LINE_MAX}: "
            "move per-query fields to the detail line"
        )
    print(final)
    spark.stop()


if __name__ == "__main__":
    main()
