"""Semantics tests for the scale-technique operators
(plans/queries_scale.py + operators/skew.salted_join): each technique
must be provably result-identical to the naive plan it replaces, and
its scale-critical invariants (bounded broadcast payloads, no
lost/duplicated rows) are pinned here independently of the oracle
parity suite.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from relational_query_engine_sql_spark import plans
from relational_query_engine_sql_spark.operators.skew import salted_join
from relational_query_engine_sql_spark.sources import load_table


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


class TestSaltedJoin:
    def test_identical_to_plain_join(self, spark, sf_small):
        ev = load_table(spark, sf_small, "events")
        dim = ev.groupBy("event_type").agg(
            F.avg("value").alias("type_w")
        )
        plain = ev.join(dim, "event_type")
        salted = salted_join(ev, dim, "event_type", salt_col="event_id")
        cols = ["event_id", "event_type", "type_w"]
        assert _rows(salted, *cols) == _rows(plain, *cols)

    def test_no_salt_column_leaks(self, spark, sf_small):
        ev = load_table(spark, sf_small, "events")
        dim = ev.select("event_type").distinct()
        out = salted_join(ev, dim, "event_type", salt_col="event_id")
        assert "_salt" not in out.columns

    def test_key_space_multiplied(self, spark, sf_small):
        """The join's effective key cardinality is |keys| × buckets —
        the whole point. Verified from the salted intermediate: every
        (key, salt) combination that has fact rows appears."""
        ev = load_table(spark, sf_small, "events")
        salted = ev.withColumn(
            "_salt", F.pmod(F.hash(F.col("event_id")), F.lit(8))
        )
        combos = salted.select("event_type", "_salt").distinct().count()
        keys = ev.select("event_type").distinct().count()
        # 1000+ rows over 5 keys × 8 salts: every combo is hit
        assert combos == keys * 8


class TestBloomPrefilter:
    def test_equals_exact_semijoin(self, spark, sf_small):
        got = plans.get("join_bloom_prefilter").fn(spark, sf_small)
        orders = load_table(spark, sf_small, "orders")
        li = load_table(spark, sf_small, "lineitem")
        hot = orders.filter(F.col("o_totalprice") > 490_000.0).select(
            "o_orderkey"
        )
        exact = (
            li.join(hot, li.l_orderkey == hot.o_orderkey, "left_semi")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_items"))
        )
        assert _rows(got, "l_returnflag", "n_items") == _rows(
            exact, "l_returnflag", "n_items"
        )

    def test_bit_set_is_bounded(self, spark, sf_small):
        """The broadcast payload is ≤ m bit positions no matter how
        many build-side keys there are — the invariant that makes the
        pattern 100 TB-safe."""
        from relational_query_engine_sql_spark.plans.queries_scale import (
            _BLOOM_BITS,
            _bloom_positions,
        )

        orders = load_table(spark, sf_small, "orders")
        bits = (
            orders.select(
                F.explode(_bloom_positions(F.col("o_orderkey"))).alias("p")
            )
            .distinct()
            .count()
        )
        assert bits <= _BLOOM_BITS

    def test_no_false_negatives(self, spark, sf_small):
        """Bloom filters may pass non-members but must never drop a
        member: every true match survives the prefilter stage."""
        from relational_query_engine_sql_spark.plans.queries_scale import (
            _bloom_positions,
        )

        orders = load_table(spark, sf_small, "orders")
        li = load_table(spark, sf_small, "lineitem")
        hot = orders.filter(F.col("o_totalprice") > 490_000.0).select(
            "o_orderkey"
        )
        bits = (
            hot.select(
                F.explode(_bloom_positions(F.col("o_orderkey"))).alias("pos")
            )
            .distinct()
            .agg(F.collect_set("pos").alias("bloom_bits"))
        )
        true_matches = li.join(
            hot, li.l_orderkey == hot.o_orderkey, "left_semi"
        )
        survived = true_matches.crossJoin(F.broadcast(bits)).filter(
            F.forall(
                _bloom_positions(F.col("l_orderkey")),
                lambda p: F.array_contains(F.col("bloom_bits"), p),
            )
        )
        assert survived.count() == true_matches.count()


class TestScd2:
    def test_no_consecutive_duplicates(self, spark, sf_small):
        """Compression invariant: within a user's history, adjacent
        intervals never carry the same attribute value."""
        hist = plans.get("scd2_user_state").fn(spark, sf_small)
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("valid_from")
        dups = hist.withColumn(
            "nxt", F.lead("event_type").over(w)
        ).filter(F.col("nxt") == F.col("event_type"))
        assert dups.count() == 0

    def test_intervals_tile_the_timeline(self, spark, sf_small):
        """Each interval's valid_to equals the next interval's
        valid_from (no gaps, no overlaps), and exactly one open
        interval per user."""
        hist = plans.get("scd2_user_state").fn(spark, sf_small).cache()
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("valid_from")
        bad = hist.withColumn(
            "next_from", F.lead("valid_from").over(w)
        ).filter(
            F.col("next_from").isNotNull()
            & (F.col("valid_to") != F.col("next_from"))
        )
        assert bad.count() == 0
        open_per_user = (
            hist.filter(F.col("is_current") == 1)
            .groupBy("user_id")
            .count()
            .filter(F.col("count") != 1)
        )
        assert open_per_user.count() == 0
        hist.unpersist()


class TestTargetEncode:
    def test_loo_excludes_own_row(self, spark, sf_small):
        """Closed-form check on one category: loo_mean of a row equals
        the pandas-computed mean of the other rows."""
        ev = load_table(spark, sf_small, "events")
        pdf = ev.select("event_id", "event_type", "value").toPandas()
        got = (
            plans.get("feat_target_encode")
            .fn(spark, sf_small)
            .filter(F.col("event_type") == "click")
            .toPandas()
            .set_index("event_id")["loo_mean"]
        )
        grp = pdf[pdf.event_type == "click"]
        s, n = grp.value.sum(), len(grp)
        for event_id, own in grp.set_index("event_id")["value"].items():
            expect = (s - own) / (n - 1)
            assert abs(got[event_id] - expect) < 1e-4


class TestWeightedSample:
    def test_matches_bruteforce(self, spark, sf_small):
        """The distributed top-k equals a driver-side brute-force
        recomputation of the same deterministic priorities."""
        docs = (
            load_table(spark, sf_small, "documents")
            .select("doc_id", "n_chars")
            .toPandas()
        )

        def pri(doc_id, w):
            h = hashlib.md5(str(doc_id).encode()).hexdigest()[:12]
            return int(h, 16) / float(16**12) / w

        docs["priority"] = [
            pri(d, w) for d, w in zip(docs.doc_id, docs.n_chars)
        ]
        expect = set(
            docs.sort_values(["priority", "doc_id"]).head(25).doc_id
        )
        got = {
            r.doc_id
            for r in plans.get("sample_weighted_priority")
            .fn(spark, sf_small)
            .collect()
        }
        assert got == expect

    def test_weight_bias(self, spark, sf_small):
        """Sampled docs skew long: the mean weight of the sample
        exceeds the corpus mean (weight-proportional selection)."""
        docs = load_table(spark, sf_small, "documents")
        corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
        sample_mean = (
            plans.get("sample_weighted_priority")
            .fn(spark, sf_small)
            .agg(F.avg("n_chars"))
            .first()[0]
        )
        assert sample_mean > corpus_mean


class TestBenford:
    def test_shares_sum_to_one(self, spark, sf_small):
        out = plans.get("dq_benford_digits").fn(spark, sf_small).toPandas()
        assert set(out.digit) <= set(range(1, 10))
        assert abs(out.obs_share.sum() - 1.0) < 1e-3


class TestCusum:
    def test_segmented_equals_global_window(self, spark, sf_small):
        """The day-segmented prefix-sum + offset plan must equal the
        naive single global window per key — decimal addition is
        associative, so segment+offset is exact, not approximate."""
        from pyspark.sql import Window as W

        ev = load_table(spark, sf_small, "events")
        dec = "decimal(27,6)"
        stats = ev.groupBy("event_type").agg(
            (
                F.sum(F.col("value").cast(dec)).cast("double")
                / F.count(F.lit(1))
            ).alias("mu")
        )
        evs = ev.join(F.broadcast(stats), "event_type").withColumn(
            "dev", (F.col("value") - F.col("mu")).cast(dec)
        )
        w_global = (
            W.partitionBy("event_type")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        naive = {
            r.event_id: r.c
            for r in evs.select(
                "event_id", F.sum("dev").over(w_global).alias("c")
            ).collect()
        }
        got_rows = plans.get("ts_cusum_changepoints").fn(
            spark, sf_small
        ).collect()
        assert len(got_rows) > 0
        for r in got_rows:
            assert abs(float(naive[r.event_id]) - r.cusum) < 1e-3

    def test_planted_shift_is_flagged(self, spark, sf_small, tmp_path):
        """A manufactured level shift (second half of one series +5)
        must produce flags; the clean driver data's flag count for
        that series is far lower."""
        import shutil
        ev = load_table(spark, sf_small, "events")
        shifted = ev.withColumn(
            "value",
            F.when(
                (F.col("event_type") == "click")
                & (F.col("event_id") > 500),
                F.col("value") + 50.0,
            ).otherwise(F.col("value")),
        )
        d = str(tmp_path / "shifted")
        shifted.write.parquet(d + "/events.parquet")
        got = plans.get("ts_cusum_changepoints").fn(
            spark, str(tmp_path / "shifted")
        )
        n_shift = got.filter(F.col("event_type") == "click").count()
        base = plans.get("ts_cusum_changepoints").fn(spark, sf_small)
        n_base = base.filter(F.col("event_type") == "click").count()
        assert n_shift > max(10, 2 * n_base)


class TestIdGaps:
    def test_gaps_account_for_all_missing_keys(self, spark, sf_small):
        ev = load_table(spark, sf_small, "lineitem")
        present = ev.select("l_orderkey").distinct()
        lo, hi, n = present.agg(
            F.min("l_orderkey"), F.max("l_orderkey"), F.count(F.lit(1))
        ).first()
        gaps = plans.get("dq_id_gaps").fn(spark, sf_small)
        total_missing = gaps.agg(F.sum("missing")).first()[0] or 0
        assert (hi - lo + 1) - n == total_missing
        bad = gaps.filter(
            F.col("missing") != F.col("gap_end") - F.col("gap_start") + 1
        )
        assert bad.count() == 0


class TestLmScore:
    def test_english_scores_lower(self, spark, sf_small):
        """The filter signal: in-domain (en) docs must have lower mean
        cross-entropy than out-of-domain docs under the en reference
        model."""
        out = plans.get("text_lm_score").fn(spark, sf_small).cache()
        en = out.filter(F.col("lang") == "en").agg(
            F.avg("lm_bits")
        ).first()[0]
        other = out.filter(F.col("lang") != "en").agg(
            F.avg("lm_bits")
        ).first()[0]
        out.unpersist()
        assert en < other


class TestRollingCorr:
    def test_matches_pandas_rolling_corr(self, spark, sf_small):
        """Component-sum correlation must equal pandas' rolling corr
        (float tolerance) for one series pair."""
        out = (
            plans.get("w10_rolling_corr")
            .fn(spark, sf_small)
            .filter(F.col("event_type") == "click")
            .toPandas()
            .sort_values("h")
        )
        ev = load_table(spark, sf_small, "events")
        hourly = (
            ev.groupBy(
                "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
            )
            .agg(F.sum("value").alias("tot"))
            .toPandas()
        )
        x = (
            hourly[hourly.event_type == "click"]
            .set_index("h")["tot"]
            .sort_index()
        )
        y = (
            hourly[hourly.event_type == "view"]
            .set_index("h")["tot"]
            .sort_index()
        )
        idx = x.index.intersection(y.index)
        want = x[idx].rolling(24, min_periods=8).corr(y[idx])
        got = out.set_index("h")["rolling_corr"]
        joined = want.dropna().to_frame("w").join(got.to_frame("g"))
        assert len(joined) > 20
        assert (joined.w - joined.g).abs().max() < 1e-4


class TestInterpolate:
    def test_interpolated_points_lie_on_segment(self, spark, sf_small):
        """Every interpolated value sits between its anchors and
        observed rows pass through unchanged."""
        out = plans.get("ts_interpolate_linear").fn(spark, sf_small)
        pdf = out.toPandas().sort_values(["user_id", "d"])
        for uid, grp in pdf.groupby("user_id"):
            grp = grp.reset_index(drop=True)
            # grid is contiguous daily
            days = (grp.d.iloc[-1] - grp.d.iloc[0]).days + 1
            assert len(grp) == days
            obs = grp[grp.is_interpolated == 0]
            assert len(obs) >= 2
            interp = grp[grp.is_interpolated == 1]
            for _, r in interp.iterrows():
                prev = obs[obs.d < r.d].iloc[-1]
                nxt = obs[obs.d > r.d].iloc[0]
                lo, hi = sorted((prev.val, nxt.val))
                assert lo - 1e-6 <= r.val <= hi + 1e-6


class TestAudioFeatures:
    def test_closed_form_on_known_signal(self, spark, sf_small):
        """A ramp that wraps 256 exactly once per 256 samples has a
        known sample multiset — spot-check one doc against numpy."""
        import numpy as np

        out = (
            plans.get("mm_audio_features")
            .fn(spark, sf_small)
            .toPandas()
            .set_index("doc_id")
        )
        assert len(out) == 500
        for doc_id in (0, 7, 123):
            n = doc_id % 300 + 20
            base = doc_id % 256
            dev = (base + np.arange(n)) % 256 - 128
            row = out.loc[doc_id]
            assert row.n_samples == n
            assert abs(row.rms - np.sqrt((dev**2).sum() / n)) < 1e-9
            assert row.peak == np.abs(dev).max()
            assert (
                abs(row.silence_ratio - (np.abs(dev) < 8).mean()) < 1e-9
            )


class TestFeatureHashing:
    def test_bucket_bounds_and_mass(self, spark, sf_small):
        out = plans.get("feat_hash_bucketize").fn(spark, sf_small).cache()
        bad = out.filter(
            (F.col("bucket") < 0) | (F.col("bucket") >= 64)
        )
        assert bad.count() == 0
        # total absolute mass per user ≤ 2 features per event
        ev = load_table(spark, sf_small, "events")
        per_user = dict(
            ev.groupBy("user_id").count().collect()
        )
        mass = out.groupBy("user_id").agg(
            F.sum(F.abs(F.col("feat_val"))).alias("m")
        )
        for r in mass.collect():
            assert r.m <= 2 * per_user[r.user_id]
        out.unpersist()

    def test_same_feature_same_bucket(self, spark, sf_small):
        """Determinism: re-running produces identical bucket/value
        pairs (hash has no per-run salt)."""
        a = plans.get("feat_hash_bucketize").fn(spark, sf_small)
        b = plans.get("feat_hash_bucketize").fn(spark, sf_small)
        assert _rows(a, "user_id", "bucket", "feat_val") == _rows(
            b, "user_id", "bucket", "feat_val"
        )


class TestPointInTime:
    def test_prior_state_is_last_change_before_ts(self, spark, sf_small):
        """Pandas recompute: for each purchase, the joined state must
        be the user's most recent event_type change strictly before
        the purchase timestamp."""
        ev = (
            load_table(spark, sf_small, "events")
            .select("event_id", "user_id", "ts", "event_type")
            .toPandas()
            .sort_values(["user_id", "ts", "event_id"])
        )
        got = (
            plans.get("j15_scd2_point_in_time")
            .fn(spark, sf_small)
            .toPandas()
            .set_index("purchase_id")
        )
        purchases = ev[ev.event_type == "purchase"]
        assert len(got) == len(purchases)
        checked = 0
        for _, p in purchases.head(40).iterrows():
            hist = ev[(ev.user_id == p.user_id) & (ev.ts < p.ts)]
            row = got.loc[p.event_id]
            if len(hist) == 0:
                assert row.prior_state is None or row.prior_state != row.prior_state or row.prior_state is pd_NA_safe(row.prior_state)
            else:
                # compress consecutive duplicates, take the last state
                types = hist.event_type.tolist()
                assert row.prior_state == types[-1]
                checked += 1
        assert checked > 10


def pd_NA_safe(v):
    import pandas as pd

    return v if pd.isna(v) else None


class TestChiSquare:
    def test_matches_pandas_contingency(self, spark, sf_small):
        import numpy as np
        import pandas as pd

        ev = load_table(spark, sf_small, "events").toPandas()
        dow = ((ev.ts.astype("int64") // 10**9 // 86400) + 4) % 7
        tab = pd.crosstab(ev.event_type, dow)
        e = np.outer(tab.sum(1), tab.sum(0)) / tab.values.sum()
        want = ((tab.values - e) ** 2 / e).sum()
        row = plans.get("stats_chi_square").fn(spark, sf_small).first()
        assert abs(row.chi2 - want) < 1e-2
        assert row.df == (tab.shape[0] - 1) * (tab.shape[1] - 1)


class TestImageAhash:
    def test_identical_patterns_group_together(self, spark, sf_small):
        """Docs sharing doc_id % 32 carry byte-identical images, so
        they MUST land in one hash group; group sizes must cover all
        500 docs."""
        out = plans.get("mm_image_ahash_dedup").fn(spark, sf_small)
        rows = out.collect()
        assert sum(r.n_docs for r in rows) == 500
        # 32 pattern classes → at most 32 groups (ahash may collide
        # across classes, never split within one)
        assert len(rows) <= 32
        # canonical doc must be the minimum of its class: every
        # canonical id < 32 (the first occurrence of each base)
        assert all(r.canonical_doc < 32 for r in rows)

    def test_decoder_roundtrips_encoder(self, spark):
        from relational_query_engine_sql_spark.datapipe.multimodal import (
            decode_bmp_gray,
            encode_bmp_pattern,
        )

        for base in (0, 5, 31):
            px = decode_bmp_gray(encode_bmp_pattern(8, 8, base))
            assert px == [(base * (i + 7)) % 256 for i in range(64)]
        # non-multiple-of-4 stride exercises padding
        px = decode_bmp_gray(encode_bmp_pattern(5, 3, 7))
        assert px == [(7 * (i + 7)) % 256 for i in range(15)]


class TestAhashHamming:
    def test_reported_pairs_are_within_distance(self, spark, sf_small):
        """Every reported pair's popcount must match and respect the
        threshold (the losslessness of 4-band candidates for d <= 3 is
        the pigeonhole argument; the exact-equality-to-all-pairs proof
        is the DuckDB oracle, which IS brute force)."""
        out = plans.get("dedup_ahash_hamming").fn(spark, sf_small)
        rows = {(r.h1, r.h2): r.hamming_d for r in out.collect()}
        assert len(rows) > 0
        for (h1, h2), d in rows.items():
            assert bin(h1 ^ h2).count("1") == d <= 3


class TestNearestJoin:
    def test_picks_true_nearest(self, spark, sf_small):
        """Pandas recompute: the joined click must minimize |Δt| over
        all of the user's clicks within the window, with the
        earlier-then-lower-id tiebreak."""
        ev = (
            load_table(spark, sf_small, "events")
            .select("event_id", "user_id", "ts", "event_type")
            .toPandas()
        )
        got = (
            plans.get("j16_asof_nearest")
            .fn(spark, sf_small)
            .toPandas()
            .set_index("purchase_id")
        )
        assert len(got) > 0
        assert got.index.is_unique
        clicks = ev[ev.event_type == "click"]
        for pid, row in got.iterrows():
            p_ts = row.purchase_ts
            cand = clicks[clicks.user_id == row.user_id].copy()
            cand["absd"] = (cand.ts - p_ts).abs()
            cand = cand[cand.absd <= pd.Timedelta(seconds=1800)]
            cand = cand.sort_values(["absd", "ts", "event_id"])
            assert len(cand) > 0
            assert cand.iloc[0].event_id == row.click_id


import pandas as pd  # noqa: E402


class TestTemporalSplit:
    def test_splits_are_time_ordered_with_gap(self, spark, sf_small):
        out = {
            r.split: r
            for r in plans.get("split_temporal_embargo")
            .fn(spark, sf_small)
            .collect()
        }
        total = sum(r.n for r in out.values())
        ev_n = load_table(spark, sf_small, "events").count()
        assert total == ev_n
        assert out["train"].n > out["test"].n > 0
        # strict temporal ordering between phases
        assert out["train"].last_ts < out["test"].first_ts
        if "embargo" in out:
            assert out["train"].last_ts < out["embargo"].first_ts
            assert out["embargo"].last_ts < out["test"].first_ts


class TestVideoSceneCuts:
    def test_cut_at_pattern_shift_when_means_differ(self, spark, sf_small):
        """The halfway pattern shift must register as a cut exactly
        when the two patterns' true means differ by > 8 — recomputed
        in pure Python from the closed-form pixels."""
        got = {
            r.doc_id: r
            for r in plans.get("mm_video_scene_cuts")
            .fn(spark, sf_small)
            .collect()
        }
        assert len(got) == 500

        def mean(base):
            return sum((base * (i + 7)) % 256 for i in range(64)) / 64

        flagged = 0
        for d in range(120):
            n = d % 6 + 4
            b0, b1 = d % 32, (d % 32 + 16) % 32
            expect_cut = abs(mean(b1) - mean(b0)) > 8.0
            r = got[d]
            assert r.n_frames == n
            assert (r.n_cuts == 1) == expect_cut
            if expect_cut:
                assert r.first_cut_frame == n // 2
                flagged += 1
            else:
                assert r.first_cut_frame == -1
        assert 0 < flagged < 120  # outcomes genuinely vary

    def test_frame_walker_respects_declared_sizes(self, spark):
        from relational_query_engine_sql_spark.datapipe.multimodal import (
            encode_video_bmp_frames,
            split_video_frames,
        )

        payload = encode_video_bmp_frames([3, 7, 3])
        frames = split_video_frames(payload)
        assert len(frames) == 3
        assert frames[0] == frames[2]  # same base → identical container
        assert frames[0] != frames[1]


class TestEvalAndBacktest:
    def test_confusion_matrix_measures_the_classifier(self, spark, sf_small):
        """The matrix must partition all docs and agree row-by-row
        with a direct join of predictions to labels. (Interesting
        finding it surfaces: the stopword heuristic misreads the
        synthetic 'es' corpus as 'en' — the eval op exists precisely
        to expose that; we assert the MEASUREMENT, not the
        classifier.)"""
        rows = (
            plans.get("eval_langid_confusion").fn(spark, sf_small).collect()
        )
        total = sum(r.n for r in rows)
        assert total == 500
        docs = load_table(spark, sf_small, "documents")
        from relational_query_engine_sql_spark.datapipe.textstats import (
            language_id,
        )

        direct = (
            language_id(docs)
            .join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang", "lang_pred")
            .count()
            .collect()
        )
        want = {(r.lang, r.lang_pred): r["count"] for r in direct}
        got = {(r.lang_actual, r.lang_pred): r.n for r in rows}
        assert got == want
        # the dominant class is still measured as mostly-correct
        assert got.get(("en", "en"), 0) > 0

    def test_backtest_scores_heldout_tail(self, spark, sf_small):
        rows = (
            plans.get("forecast_backtest_metrics")
            .fn(spark, sf_small)
            .collect()
        )
        assert len(rows) == 5
        ev = load_table(spark, sf_small, "events")
        days = (
            ev.select(
                "event_type", F.to_date("ts").alias("d")
            )
            .distinct()
            .groupBy("event_type")
            .count()
            .collect()
        )
        n_days = {r.event_type: r["count"] for r in days}
        for r in rows:
            n = n_days[r.event_type]
            assert r.n_test == n - int(n * 0.8 // 1)
            assert r.mape >= 0 and r.rmse >= 0


class TestRetractionMv:
    def test_emptied_bucket_is_deleted(self, spark, sf_small, tmp_path):
        """Plant a bucket whose ONLY event gets retracted (id % 97 ==
        0 in an otherwise-empty hour): after maintenance the bucket
        must be gone from the MV, and no nonpositive counts survive
        anywhere."""
        ev = load_table(spark, sf_small, "events")
        lone = spark.createDataFrame(
            [(970, "click", 5.0)], "event_id long, event_type string, value double"
        ).select(
            "event_id",
            F.lit("2030-06-01 03:30:00").cast("timestamp").alias("ts"),
            F.lit(1).alias("user_id"),
            "event_type",
            "value",
            F.lit(None).cast("string").alias("props"),
        )
        planted = ev.unionByName(lone.select(*ev.columns))
        d = str(tmp_path / "planted")
        planted.write.parquet(d + "/events.parquet")
        out = plans.get("mv_rollup_retractions").fn(spark, d).cache()
        doomed = out.filter(
            F.col("bucket") == F.lit("2030-06-01 03:00:00").cast("timestamp")
        )
        assert doomed.count() == 0
        assert out.filter(F.col("n_events") <= 0).count() == 0
        out.unpersist()

    def test_matches_full_recompute(self, spark, sf_small):
        out = plans.get("mv_rollup_retractions").fn(spark, sf_small)
        ev = load_table(spark, sf_small, "events")
        post = ev.filter(F.col("event_id") % 97 != 0).select(
            "event_type", "ts", "value"
        ).unionByName(
            ev.filter(F.col("event_id") % 89 == 0).select(
                "event_type", "ts", (F.col("value") + 10.0).alias("value")
            )
        )
        want = post.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        ).agg(F.count(F.lit(1)).alias("n_events"))
        got = {
            (r.event_type, r.bucket): r.n_events for r in out.collect()
        }
        for r in want.collect():
            assert got[(r.event_type, r.bucket)] == r.n_events
        assert len(got) == want.count()
