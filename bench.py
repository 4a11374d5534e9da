#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from relational_query_engine_sql_spark import plans
from relational_query_engine_sql_spark.session import get_spark

# Headline set: one per operator family, weighted toward the
# analytically interesting plans (stats, as-of, dedup, ANN).
HEADLINE = [
    "a1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "j1_join_dims",
    "j7_asof_latest",
    "j7_a7_market_value",
    "w2_returns_panel",
    "stats_bundle_cov_beta",
    "a5_correlation_matrix",
    "u1_linreg_fit",
    "e10_forecast_horizon",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "text_quality_metrics",
    "corpus_clean_pipeline",
    "stream_tumbling_hourly",
    "tpch_q6_forecast_revenue",
    "ext_pivot",
    "w4_gap_fill",
    # round 2 additions
    "dedup_embedding_cosine",
    "ann_ivf_topk",
    "j6_bucketed_fact_join",
    "u2_apply_trades",
    "mm_decode_real",
    "s7_cascade_delete",
    # round 2 continued: graph/retrieval/time-series additions
    "dedup_cluster_components",
    "search_bm25_topk",
    "j9_asof_join_purchase_view",
    "j10_range_join_busy_windows",
    "w6_ohlc_daily",
    "text_chunk_windows",
    # round 3 additions
    "dedup_semantic_clusters",
    "search_tfidf_terms",
    "sample_temperature_mix",
    "dq_skew_profile",
    "sketch_cms_heavy_hitters",
    "maintenance_zorder_layout",
    "split_leakage_safe",
    "w7_ewma_value",
    "s10_time_travel",
    # round 3 continued: recursion/graph/anomaly/packing/merge/cdc
    "sql_recursive_hierarchy",
    "graph_triangle_count",
    "ts_anomaly_zscore",
    "pack_context_windows",
    "text_ngram_topk",
    "text_word_entropy",
    "w8_running_distinct_types",
    "s11_merge_mixed",
    "cdc_snapshot_diff",
    "dedup_ngram_containment",
    "j13_asof_tolerance",
    "dq_freshness_lag",
    "feat_winsorize",
    "w9_time_weighted_avg",
    "a9_contribution_share",
    "ev_retention_cohorts",
    "graph_pagerank_fixed",
    "search_phrase_match",
    "sql_api_report",
    "ev_funnel_steps",
    "batch_by_length",
    # round 3 continued: shuffle-hygiene techniques + new pipeline ops
    "ext_salted_join",
    "join_bloom_prefilter",
    "scd2_user_state",
    "sample_weighted_priority",
    "text_lm_score",
    "ts_cusum_changepoints",
    "stream_static_enrich",
    "dq_id_gaps",
    "w10_rolling_corr",
    "ts_interpolate_linear",
    "mm_audio_features",
    "feat_hash_bucketize",
    "j15_scd2_point_in_time",
    "stats_chi_square",
    "mm_image_ahash_dedup",
    "ext_reused_exchange",
    "dedup_ahash_hamming",
    "sql_api_bind_params",
    "j16_asof_nearest",
    "split_temporal_embargo",
    "mm_video_scene_cuts",
    "src_nested_struct_pruning",
    "forecast_backtest_metrics",
    "eval_langid_confusion",
    "mv_rollup_retractions",
    "dq_header_detail_reconcile",
    # round 3 continued: retrieval/ER/privacy/streaming-CDC batch
    "search_hybrid_rrf",
    "ann_pq_adc_topk",
    "rag_chunk_retrieval",
    "eval_dedup_recall",
    "er_resolve_entities",
    "er_survivorship",
    "j17_interval_overlap",
    "stream_cdc_apply",
    "dq_k_anonymity",
    "dp_noisy_counts",
    "reco_copurchase_lift",
    "ev_attribution_models",
    "ts_seasonal_decompose",
    "s12_optimistic_retry",
    "pipeline_training_manifest",
    "sec_cleanroom_join",
    "w11_rolling_median",
    "ts_downsample_m4",
    "dq_psi_drift",
    "stats_bootstrap_ci",
    "ev_cohort_ltv",
    "stats_ab_welch",
    "eval_ann_recall",
    "dedup_incremental_ingest",
    "ann_ivf_multiprobe",
    # round 4 additions: transaction-log backend + S8 chart sink
    "s13_txnlog_merge_mixed",
    "s15_txnlog_time_travel",
    "maintenance_txnlog_history",
    "s8_chart_daily_close",
    # round 4 continued: txnlog depth + pipeline ops
    "s16_txnlog_schema_evolution",
    "maintenance_txnlog_cluster",
    "dedup_index_persisted",
    "corpus_domain_gate",
    "text_bpe_pair_freq",
    "text_hot_span_scrub",
    "text_nfc_normalize",
    "ann_ivf_filtered",
    "stream_tumbling_live",
    "s8_chart_forecast",
    # round 5 additions: sketch set algebra + bloom file index
    "sketch_quantile_per_group",
    "sketch_theta_intersect",
    "s19_txnlog_bloom_lookup",
    "s17_txnlog_merge_on_read",
]


REGRESSION_FACTOR = 1.5
REGRESSION_FLOOR_SEC = 0.5  # ignore sub-noise-floor deltas

# Queries that EXECUTE live Structured Streaming (micro-batch +
# checkpoint machinery, often twice for a restart proof): their wall
# time is trigger/checkpoint LATENCY, not data-volume compute, so it
# (a) doesn't scale with SF and (b) is the noisiest slice of the
# sweep. They are timed LAST in the tail sweep — a budget squeeze
# skips latency rows before it can cost a compute query its
# regression check — and labeled in the payload/regression output so
# a latency wobble is never read as a compute regression.
LATENCY_BOUND = frozenset(
    {
        "stream_mv_hourly_rollup",
        "stream_tumbling_live",
        "stream_join_live",
        "stream_ingest_exactly_once",
        "stream_txnlog_source",
        "s29_txnlog_partition_stream",
        "stream_txnlog_windowed",
        "stream_txnlog_sink",
        "stream_txnlog_rowid_sink",
        "stream_txnlog_join",
        "stream_session_live",
        "stream_cdc_apply",
        "stream_txnlog_rate_limit",
    }
)


def _bench_round_files(here: str) -> list[tuple[int, str]]:
    """(round, path) for BENCH_r{N}.json files that are PRIOR rounds.

    Round 2 bug: taking the latest file on disk can match the *current*
    round's own artifact (the driver may write BENCH_r{N}.json in an
    earlier attempt of the same round), so a real regression compares
    against itself and never fires. Prior rounds are exactly the bench
    files committed at HEAD — the driver only commits a round's bench
    in its end-of-round snapshot — so consult git first; the working
    tree is only a fallback when git itself is unavailable, with the
    highest round dropped when SPARK_GRAFT_ROUND says it is ours.
    """
    try:
        tracked = subprocess.run(
            ["git", "-C", here, "ls-tree", "-r", "--name-only", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.split()
        names = [n for n in tracked if re.fullmatch(r"BENCH_r\d+\.json", n)]
        cur = os.environ.get("SPARK_GRAFT_ROUND")
        out = []
        for n in names:
            rnd = int(re.search(r"(\d+)", n).group(1))
            if cur and rnd >= int(cur):
                continue  # committed same/future round — not a prior
            out.append((rnd, os.path.join(here, n)))
        return out
    except (subprocess.SubprocessError, OSError, ValueError):
        pass
    out = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            out.append((int(m.group(1)), p))
    cur = os.environ.get("SPARK_GRAFT_ROUND")
    if cur and cur.isdigit():
        out = [(r, p) for r, p in out if r < int(cur)]
    elif out:
        # no round hint: drop the highest round present — it may be the
        # current round's own earlier attempt. Comparing against an
        # older round is safe; comparing against ourselves is the bug.
        top = max(r for r, _ in out)
        out = [(r, p) for r, p in out if r < top]
    return out


def _prior_bench(here: str, sf: str) -> tuple[dict | None, int | None]:
    """Highest prior-round BENCH_r{N}.json at the same sf.

    The driver's artifact WRAPS bench.py's JSON line under a "parsed"
    key ({n, rc, cpus, sf, tail, parsed}) — round 2's detector read
    prior["queries"] off the wrapper, found nothing, and silently
    never fired. Unwrap before use.
    """
    for rnd, path in sorted(_bench_round_files(here), reverse=True):
        try:
            with open(path) as f:
                prior = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(prior.get("parsed"), dict):
            prior = {**prior, **prior["parsed"]}
        elif prior.get("parsed") is None and isinstance(prior.get("tail"), str):
            # Truncated artifact (round 3): the driver captured only
            # the tail of the JSON line. The per-query pairs that DID
            # survive are still usable priors — regex them out and keep
            # only names that are real registered queries (the tail
            # also contains "sf"/"value" pairs that would otherwise
            # masquerade as queries).
            known = set(plans.all_queries())
            recovered = {
                m.group(1): float(m.group(2))
                for m in re.finditer(
                    r'"([A-Za-z0-9_]+)":\s*(\d+(?:\.\d+)?)', prior["tail"]
                )
                if m.group(1) in known
            }
            if recovered:
                prior = {**prior, "queries": recovered}
        if str(prior.get("sf")) == sf and isinstance(prior.get("queries"), dict):
            return prior, rnd
    return None, None


def _regressions(
    timings: dict[str, float], prior: dict, vm_factor: float = 1.0
) -> dict[str, str]:
    """Per-query deltas vs the prior round that exceed both the ratio
    and the absolute noise floor — fail-loud on stderr, recorded in the
    JSON line so round-over-round drift is visible in BENCH_r{N}.
    ``vm_factor`` (this run's canary / the prior run's canary, >1 when
    this VM is slower) normalizes the comparison so a uniformly slower
    host — round 7 ran ~1.22x slower driver-side than the same code on
    the builder's close run — doesn't read as N per-query regressions."""
    out: dict[str, str] = {}
    for name, now in timings.items():
        before = (prior.get("queries") or {}).get(name)
        if before is None or before <= 0:
            continue
        adj = now / vm_factor
        if (
            adj > before * REGRESSION_FACTOR
            and adj - before > REGRESSION_FLOOR_SEC
        ):
            note = (
                f" [vm-normalized /{vm_factor:.2f}]"
                if vm_factor != 1.0
                else ""
            )
            out[name] = (
                f"{before}s -> {now}s ({adj / before:.2f}x{note})"
            )
    return out


# Fixed pure-SQL reference plan timed FIRST and LAST in every run
# (after warmup): the pair makes host slowness measurable INSIDE the
# artifact — round 7's 138.6 s driver headline vs 113.6 s same-code
# close run had to be attributed by cross-file forensics. The ratio
# of this run's canary to the prior artifact's normalizes the
# regression check.
CANARY = "a1_pricing_summary"


def _time_canary(spark, sf_dir: str, k: int = 2) -> float:
    q = plans.get(CANARY)
    best = float("inf")
    for _ in range(k):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _prior_full_registry(here: str, sf: str) -> dict | None:
    """Prior full-registry artifact = the bench_full_registry.json
    committed at HEAD (the working-tree copy is overwritten by the
    current run, so disk is never a valid prior)."""
    try:
        blob = subprocess.run(
            ["git", "-C", here, "show", "HEAD:bench_full_registry.json"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout
        prior = json.loads(blob)
        if str(prior.get("sf")) == sf and isinstance(
            prior.get("queries"), dict
        ):
            return prior
    except (subprocess.SubprocessError, OSError, json.JSONDecodeError):
        pass
    return None


def _prior_full_headline(here: str, sf: str) -> dict | None:
    """Committed bench_full.json (HEAD) as a RETIME-ONLY fallback
    prior. The driver's BENCH_r{N}.json tail capture truncates, so a
    steal-window spike in a headline query ABSENT from that capture
    was never eligible for a suspect retime and went straight into
    the artifact (round 10: a ~2.5 s scenario recorded at 8.4 s while
    a manual min-of-3 minutes later measured 3.1 s). Regression
    REPORTING still uses the driver artifact alone — the fallback
    only widens which names earn a retime, never what gets flagged."""
    try:
        blob = subprocess.run(
            ["git", "-C", here, "show", "HEAD:bench_full.json"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout
        prior = json.loads(blob)
        if str(prior.get("sf")) == sf and isinstance(
            prior.get("queries"), dict
        ):
            return prior
    except (subprocess.SubprocessError, OSError, json.JSONDecodeError):
        pass
    return None


def _retime_suspects(
    timings: dict[str, float],
    prior: dict | None,
    vm_factor: float,
    fallback: dict | None,
    canary_first: float,
) -> set[str]:
    """Names whose current timing regresses vs the driver prior OR the
    committed-fallback prior (each under its own canary-derived VM
    factor) — the union is what gets re-timed before anything is
    recorded or flagged."""
    suspects: set[str] = set()
    if prior:
        suspects |= set(_regressions(timings, prior, vm_factor))
    if fallback:
        fbc = (fallback.get("canary") or {}).get("best")
        fb_factor = (
            max(canary_first / float(fbc), 1.0) if fbc else 1.0
        )
        suspects |= set(_regressions(timings, fallback, fb_factor))
    return suspects


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # --full (or SPARK_GRAFT_BENCH_FULL=1): time EVERY registry query,
    # not just the headline set, and write bench_full_registry.json —
    # the headline artifact the driver parses is untouched. This is
    # the regression trail for the ~150 registry queries (ext_*, tpch
    # beyond the headline, ...) that otherwise have no timing history.
    full = "--full" in sys.argv or (
        os.environ.get("SPARK_GRAFT_BENCH_FULL") == "1"
    )
    names = list(plans.all_queries()) if full else HEADLINE
    # Tail coverage (round-5 advice): the ~160 registry queries outside
    # the headline had no per-round regression trail — a tail query
    # could silently triple between the round-close --full runs. The
    # DEFAULT run now also times every non-headline query once (warm),
    # checks it against the committed bench_full_registry.json, and
    # re-times any flagged name before reporting (single timings on
    # this VM are bimodal up to 8x — min-of-k or it didn't happen), so
    # parsed.n_regressions covers the whole registry every round.
    tail_names = (
        []
        if full
        else [n for n in plans.all_queries() if n not in set(HEADLINE)]
    )
    here = os.path.dirname(os.path.abspath(__file__))
    if full:
        prior, prior_round = _prior_full_registry(here, sf), None
    else:
        prior, prior_round = _prior_bench(here, sf)
    tail_prior = _prior_full_registry(here, sf) if tail_names else None
    # Tail ordering (round-7 advice: 37 skipped rows incl. 27 compute
    # queries when a slower VM ate the budget). Priority when the
    # budget runs out:
    #   1. NEVER-TIMED rows (no committed timing anywhere) — a first
    #      timing beats any re-check;
    #   2. rows the PRIOR round skipped — the same name can never be
    #      skipped two rounds running;
    #   3. remaining compute rows, ROTATED by round so repeated budget
    #      squeezes spread across the registry instead of always
    #      hitting the alphabetical tail;
    #   4. latency-bound streaming scenarios LAST — their wall time is
    #      trigger/checkpoint latency, the least valuable to re-check.
    if tail_names:
        ever_timed: set[str] = set()
        for src in (tail_prior, prior):
            if src:
                ever_timed |= set(src.get("queries") or {})
                ever_timed |= set(src.get("tail_queries") or {})
        prev_skipped = set((prior or {}).get("tail_skipped") or [])
        env_round = os.environ.get("SPARK_GRAFT_ROUND", "")
        rnd = (
            int(env_round)
            if env_round.isdigit()
            else (prior_round or 0) + 1
        )

        def _bucket(n: str) -> int:
            if n not in ever_timed:
                return 0
            if n in prev_skipped and n not in LATENCY_BOUND:
                return 1
            if n not in LATENCY_BOUND:
                return 2
            return 3 if n in prev_skipped else 4

        tail_names.sort(key=_bucket)
        compute_rest = [n for n in tail_names if _bucket(n) == 2]
        if compute_rest:
            rot = rnd % len(compute_rest)
            rotated = compute_rest[rot:] + compute_rest[:rot]
            it = iter(rotated)
            tail_names = [
                next(it) if _bucket(n) == 2 else n for n in tail_names
            ]
    spark = get_spark(app_name="bench")

    # warm the JVM + parquet footers once so per-query numbers measure
    # the plan, not first-touch JIT.
    plans.get("a1_pricing_summary").fn(spark, sf_dir).count()
    # warm the Python worker pool too: the first Arrow-batched stage
    # otherwise pays ~10 s of 32-way worker fork/import that belongs
    # to the session, not to whichever Pandas-UDF query runs first.
    spark.range(64).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # Per-query warmup at the smallest SF: measured-cold runs are 2-8x
    # slower than warm for the codegen-heavy queries (minhash measured
    # 10.2s cold vs 2.4s warm at sf0.1 with zero plan change). One
    # tiny-SF pass warms the JVM's JIT for pennies. The tail warms
    # first and the headline last: the codegen cache keeps the 2048
    # most recent classes (session.py) and the 130 headline queries
    # make ~1,650, so timed pass 1 finds the headline's classes still
    # compiled; warmed the other way round, the tail's evicted them.
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001"
    )
    if os.path.isdir(warm_dir):
        for name in tail_names + names:
            try:
                plans.get(name).fn(spark, warm_dir).count()
            except Exception:
                pass  # the timed loop will surface real failures
        spark.catalog.clearCache()

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    # Timed passes keep the per-query MINIMUM. The host is a VM:
    # hypervisor CPU steal makes single measurements bimodal (the same
    # 0.4 s plan has measured 4 s with zero code change and zero local
    # load). min-of-k is the standard robust estimator for plan cost —
    # noise only ever ADDS time, so the minimum is the best available
    # proxy for what the plan actually costs.
    deadline = time.perf_counter() + float(
        # 420 s covered pass-1 + tail + 2 refinement passes up to the
        # ~300-query registry; at 325 queries the tail sweep alone
        # squeezed refinement out (single-pass headline = burst-noisy
        # artifact), so the default grew with the registry
        os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "900" if full else "600")
    )
    canary_first = _time_canary(spark, sf_dir)

    def _time_one(name: str, into: dict[str, float], label: str) -> None:
        # Leftover cache blocks from OTHER queries are cross-talk,
        # not plan cost: a query that persists a panel pollutes heap
        # for every query after it. Caches a query builds for itself
        # inside fn() still count — this only clears between queries.
        spark.catalog.clearCache()
        print(f"BENCH start {name} ({label})", file=sys.stderr, flush=True)
        t0 = time.perf_counter()
        try:
            # count() materializes every row through the full plan
            # without collecting results to the driver.
            plans.get(name).fn(spark, sf_dir).count()
            took = round(time.perf_counter() - t0, 3)
            if name not in into or took < into[name]:
                into[name] = took
            print(f"BENCH done  {name} {took}s", file=sys.stderr, flush=True)
        except Exception as ex:  # one bad query must not lose the run
            failures[name] = f"{type(ex).__name__}: {ex}"[:200]
            print(f"BENCH FAIL {name}: {failures[name]}",
                  file=sys.stderr, flush=True)

    # PASS 1 (ungated): every headline query gets a number.
    for name in names:
        _time_one(name, timings, "pass 0")

    # -- tail sweep BEFORE headline refinement (round-7 advice): one
    # warm timing per non-headline registry query. First-ever coverage
    # of a tail query outranks a third decimal on a headline number,
    # so when the VM is slow the squeeze lands on refinement passes —
    # and the skip order (never-timed first, latency-bound last) makes
    # any residual skip cost the least informative rows.
    tail_timings: dict[str, float] = {}
    tail_skipped: list[str] = []
    retime_reserve = 40.0
    if tail_names:
        for name in tail_names:
            if time.perf_counter() > deadline - retime_reserve:
                tail_skipped.append(name)
                continue
            _time_one(name, tail_timings, "tail")
        if tail_skipped:
            # no silent caps: dropped coverage must be visible
            print(f"BENCH tail budget exhausted: {len(tail_skipped)} "
                  f"queries not timed", file=sys.stderr, flush=True)

    # PASSES 2-3 (gated): refine headline minimums with what's left.
    for pass_i in (1, 2):
        exhausted = False
        for name in names:
            if time.perf_counter() > deadline - retime_reserve:
                print(f"BENCH pass-{pass_i + 1} budget exhausted",
                      file=sys.stderr, flush=True)
                exhausted = True
                break
            _time_one(name, timings, f"pass {pass_i}")
        if exhausted:
            break

    # VM-speed normalization for the regression check: only when the
    # prior artifact recorded a canary (first round with one: 8).
    prior_canary = ((prior or {}).get("canary") or {}).get("best")
    vm_factor = (
        max(canary_first / float(prior_canary), 1.0)
        if prior_canary
        else 1.0
    )
    # SUSPECT RETIME: when the budget squeezes out the refinement
    # passes, pass-1 singles carry the host's CPU-steal bursts
    # straight into the artifact — one close run recorded a 0.5 s
    # query at 14 s with zero code change while the --full run 20
    # minutes later measured it normal. Phantom spikes poison BOTH
    # the headline total and the regression list, so names whose
    # current timing exceeds the vm-adjusted prior get up to two
    # re-times under a grace window that survives budget exhaustion
    # (the budget protects total wall; this protects artifact truth).
    retime_grace = deadline + float(
        os.environ.get("SPARK_GRAFT_BENCH_RETIME_GRACE", "150")
    )
    fallback = None if full else _prior_full_headline(here, sf)
    for name in sorted(
        _retime_suspects(timings, prior, vm_factor, fallback, canary_first)
    ):
        for _ in range(2):
            if time.perf_counter() > retime_grace or name in failures:
                break
            _time_one(name, timings, "suspect-retime")
    total = round(sum(timings.values()), 3)
    regressions: dict[str, str] = {}
    if prior:
        regressions = _regressions(timings, prior, vm_factor)
        for name in list(regressions):
            if name in LATENCY_BOUND:
                regressions[name] = f"[latency-bound] {regressions[name]}"
        for name, delta in regressions.items():
            print(f"REGRESSION {name}: {delta}", file=sys.stderr)
    else:
        # fail loud: a silent missing-prior is how round 2's 2.2×
        # drift went unflagged.
        print(f"REGRESSION-CHECK SKIPPED: no prior-round bench at sf={sf}",
              file=sys.stderr)

    if tail_names:
        if tail_prior:
            flagged = _regressions(tail_timings, tail_prior, vm_factor)
            for name in list(flagged):
                # single timings are VM-noise-bimodal: re-time up to
                # twice, keep the min, and only report if it sticks
                # (under the same retime grace as the headline — a
                # spent budget must not let phantom spikes through)
                for _ in range(2):
                    if time.perf_counter() > retime_grace:
                        break
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    try:
                        plans.get(name).fn(spark, sf_dir).count()
                        took = round(time.perf_counter() - t0, 3)
                        if took < tail_timings[name]:
                            tail_timings[name] = took
                    except Exception:
                        break
                still = _regressions(
                    {name: tail_timings[name]}, tail_prior, vm_factor
                )
                if not still:
                    flagged.pop(name)
                else:
                    flagged[name] = still[name]
            for name in list(flagged):
                if name in LATENCY_BOUND:
                    flagged[name] = f"[latency-bound] {flagged[name]}"
            for name, delta in flagged.items():
                print(f"REGRESSION (tail) {name}: {delta}", file=sys.stderr)
            regressions.update(flagged)
        else:
            print("TAIL REGRESSION-CHECK SKIPPED: no committed "
                  f"bench_full_registry.json at sf={sf}", file=sys.stderr)
    # same fixed plan, re-timed at the END of the run: first/last pair
    # shows within-run host drift; best feeds next round's vm_factor
    canary_last = _time_canary(spark, sf_dir, k=1)
    canary = {
        "query": CANARY,
        "first": canary_first,
        "last": canary_last,
        "best": min(canary_first, canary_last),
        "vm_factor_vs_prior": round(vm_factor, 3),
    }
    payload = {
        "metric": "full_registry_total" if full else "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **({"failures": failures} if failures else {}),
        # always present so every BENCH_r{N}.json shows whether
        # the round-over-round check ran and what it saw.
        "regressions": regressions,
        "regression_baseline_round": prior_round,
        "canary": canary,
        # which timed names are live-streaming latency, not compute
        "latency_bound": sorted(
            LATENCY_BOUND & (set(timings) | set(tail_timings))
        ),
        **(
            {
                "tail_queries": tail_timings,
                "tail_skipped": tail_skipped,
            }
            if tail_names
            else {}
        ),
    }
    # The driver captures only the LAST ~1.6 KB of stdout; round 3's
    # artifact lost the headline because the single full-payload line
    # (~4 KB and growing with the query list) overflowed that tail
    # buffer. Emit the full line FIRST (humans, logs, local runs),
    # persist the full payload to bench_full.json, and finish with a
    # compact summary line sized to always fit the tail capture —
    # headline total, failure/regression status, and the slowest
    # queries — so truncation can never eat the round's number again.
    print(json.dumps(payload))
    full_path = os.path.join(
        here,
        "bench_full_registry.json" if full else "bench_full.json",
    )
    try:
        with open(full_path, "w", encoding="utf-8") as f:
            json.dump(payload, f, indent=1)
            f.write("\n")
    except OSError as ex:
        print(f"BENCH could not write {full_path}: {ex}", file=sys.stderr)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:12]
    )
    print(
        json.dumps(
            {
                "metric": payload["metric"],
                "value": total,
                "unit": "sec",
                "sf": payload["sf"],
                "n_queries": len(timings),
                # registry-wide coverage: headline + tail timed this
                # run (regressions{} spans both)
                "n_tail": len(tail_timings),
                "n_tail_skipped": len(tail_skipped),
                "n_failures": len(failures),
                # cap the name list so a catastrophic run can't bloat
                # the summary line past the driver's tail capture
                **({"failures": sorted(failures)[:10]} if failures else {}),
                "n_regressions": len(regressions),
                "regressions": dict(sorted(regressions.items())[:10]),
                "regression_baseline_round": prior_round,
                "canary": canary,
                "slowest": slowest,
                "queries_full": os.path.basename(full_path),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
