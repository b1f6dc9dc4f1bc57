"""Behavior contracts for the round-8 operators (site-level domain gating,
binned two-sample KS drift, skip-gram co-occurrence, hashed NB classifier,
quality-signal ensemble, Kneser-Ney LM). The cross-engine value checks live
in test_oracle_parity; these pin the SEMANTICS against hand-rolled pure
Python on the small fixture, where brute force is cheap and unambiguous."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from cassandra_data_migrator_spark import queries as q
from cassandra_data_migrator_spark.queries._shared import SPLIT_TRAIN_LT, _t
from cassandra_data_migrator_spark.queries.late_keys import CHURN_EDIT_MOD, KSAMPLE_K
from cassandra_data_migrator_spark.queries.lm_quality import (
    CLF_LABEL_MOD,
    CLF_MARKER_MOD,
    DOMAIN_MAX_DUP_R,
    DOMAIN_MIN_DOCS,
    DOMAIN_SITES,
    DOMAIN_TLDS,
    ENSEMBLE_KEEP_DEN,
    ENSEMBLE_KEEP_NUM,
    KN_DISCOUNT,
    SKIP_TOPK,
    SKIP_WINDOW,
)


def _docs(spark, sf_dir):
    return {
        r.doc_id: (r.text, r.lang, r.n_chars)
        for r in _t(spark, sf_dir, "documents").collect()
    }


def _toks(text):
    return [t for t in re.split(r"\s+", text.lower()) if t]


def test_skipgram_cooc_matches_brute_force(spark, sf_dir):
    got = {
        (r.w1, r.w2): (r.n_cooc, r.rnk)
        for r in q.queries()["skipgram_cooc"](spark, sf_dir).collect()
    }
    cnt = Counter()
    for text, _, _ in _docs(spark, sf_dir).values():
        ts = _toks(text)
        for i, x in enumerate(ts):
            for y in ts[i + 1 : i + 1 + SKIP_WINDOW]:
                cnt[(x, y)] += 1
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:SKIP_TOPK]
    assert got == {
        pair: (n, rnk + 1) for rnk, (pair, n) in enumerate(want)
    }


def test_kn_perplexity_matches_reference_model(spark, sf_dir):
    """Interpolated-KN bigram probabilities recomputed independently in
    pure Python (continuation counts, discount, backoff weight) must
    reproduce the operator's per-doc nll after the same 6dp/4dp rounds."""
    docs = _docs(spark, sf_dir)
    c12, dc = Counter(), defaultdict(Counter)
    for doc_id, (text, _, _) in docs.items():
        ts = _toks(text)
        for a, b in zip(ts, ts[1:]):
            c12[(a, b)] += 1
            dc[doc_id][(a, b)] += 1
    c1, n1f, n1b = Counter(), Counter(), Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        n1f[a] += 1
        n1b[b] += 1
    t_types = len(c12)
    logp6 = {}
    for (a, b), c in c12.items():
        p = (
            max(c - KN_DISCOUNT, 0.0)
            + KN_DISCOUNT * n1f[a] * (n1b[b] / t_types)
        ) / c1[a]
        logp6[(a, b)] = round(math.log(p), 6)
    want = {}
    for doc_id, pairs in dc.items():
        n = sum(pairs.values())
        s = sum(cnt * logp6[pair] for pair, cnt in pairs.items())
        want[doc_id] = (n, round(-(s / n), 4))
    got = {
        r.doc_id: (r.n_bigrams, r.kn_nll)
        for r in q.queries()["kn_perplexity"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id][0] == want[doc_id][0]
        assert abs(got[doc_id][1] - want[doc_id][1]) < 2e-4, doc_id


def test_kn_probabilities_sum_to_at_most_one(spark, sf_dir):
    """Smoothing sanity: for every context w1, the model's probability
    mass over OBSERVED continuations must be < 1 (KN reserves mass for
    unseen continuations) and every probability must be positive."""
    docs = _docs(spark, sf_dir)
    c12 = Counter()
    for text, _, _ in docs.values():
        ts = _toks(text)
        for a, b in zip(ts, ts[1:]):
            c12[(a, b)] += 1
    c1, n1f, n1b = Counter(), Counter(), Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        n1f[a] += 1
        n1b[b] += 1
    t = len(c12)
    mass = Counter()
    for (a, b), c in c12.items():
        p = (max(c - KN_DISCOUNT, 0.0) + KN_DISCOUNT * n1f[a] * (n1b[b] / t)) / c1[a]
        assert p > 0
        mass[a] += p
    assert all(m <= 1.0 + 1e-9 for m in mass.values())


def test_nb_classifier_beats_majority_baseline(spark, sf_dir):
    """The hashed-NB classifier must actually LEARN the planted marker
    signal: held-out accuracy has to beat the majority class and sit near
    1.0 (shared-vocabulary buckets train to ~0 log-odds; the five marker
    buckets dominate). A broken split/prior/scoring join collapses to
    ~the baseline."""
    rows = q.queries()["nb_classifier_eval"](spark, sf_dir).collect()
    n = sum(r.n_docs for r in rows)
    correct = sum(r.n_docs for r in rows if r.label == r.predicted)
    majority = max(
        sum(r.n_docs for r in rows if r.label),
        sum(r.n_docs for r in rows if not r.label),
    )
    assert correct / n > majority / n
    assert correct / n >= 0.95


def test_nb_classifier_trains_only_on_train_split(spark, sf_dir):
    """Leakage guard: confusion-matrix totals must cover exactly the
    held-out docs (md5 prefix >= the train cut) that have tokens."""
    rows = q.queries()["nb_classifier_eval"](spark, sf_dir).collect()
    n_eval = sum(r.n_docs for r in rows)
    want = sum(
        1
        for doc_id, (text, _, _) in _docs(spark, sf_dir).items()
        if hashlib.md5(str(doc_id).encode()).hexdigest()[:2] >= SPLIT_TRAIN_LT
        and _toks(text + (f" mq{doc_id % CLF_MARKER_MOD}" * 3 if doc_id % CLF_LABEL_MOD == 0 else ""))
    )
    assert n_eval == want


def test_quality_ensemble_selects_exact_top_quarter(spark, sf_dir):
    rows = q.queries()["quality_ensemble"](spark, sf_dir).collect()
    n = len(rows)
    picked = [r for r in rows if r.selected]
    want_k = (n * ENSEMBLE_KEEP_NUM + ENSEMBLE_KEEP_DEN - 1) // ENSEMBLE_KEEP_DEN
    assert len(picked) == want_k
    # every selected score >= every unselected score (ties broken by id)
    lo = min(r.ensemble_z for r in picked)
    hi = max((r.ensemble_z for r in rows if not r.selected), default=float("-inf"))
    assert lo >= hi
    # positions are a permutation of 0..n-1
    assert sorted(r.pos for r in rows) == list(range(n))


def test_ks_drift_flags_planted_shift(spark, sf_dir, tmp_path):
    """End-to-end drift contract on a planted distribution shift: writing
    events whose odd-id half is shifted by +5σ must flag drifted=True,
    while the fixture's even/odd halves of ONE distribution must not."""
    base = q.queries()["ks_drift"](spark, sf_dir).collect()[0]
    assert 0.0 <= base.ks_stat <= 1.0
    assert base.ks_threshold > 0
    assert not base.drifted  # even/odd ids sample the same distribution
    e = _t(spark, sf_dir, "events")
    shifted = e.withColumn(
        "value",
        F.when(F.col("event_id") % 2 == 1, F.col("value") + 500.0).otherwise(
            F.col("value")
        ),
    )
    # q_ks_drift reads <sf_dir>/events.parquet; stage the shifted table
    # under the layout it expects
    staged = tmp_path / "staged"
    staged.mkdir()
    shifted.write.parquet(str(staged / "events.parquet"))
    drift = q.queries()["ks_drift"](spark, str(staged)).collect()[0]
    assert drift.drifted
    assert drift.ks_stat > base.ks_stat


def test_domain_stats_matches_brute_force(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    agg = defaultdict(lambda: [0, set(), 0])
    for doc_id, (text, _, _) in docs.items():
        dom = f"site{doc_id % DOMAIN_SITES}.example-{doc_id % DOMAIN_TLDS}.com"
        a = agg[dom]
        a[0] += 1
        a[1].add(hashlib.md5(text.encode()).hexdigest())
        a[2] += len(_toks(text))
    got = {r.domain: r for r in q.queries()["domain_stats"](spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for dom, (n, hs, tok) in agg.items():
        r = got[dom]
        assert (r.n_docs, r.n_distinct_texts, r.sum_tokens) == (n, len(hs), tok)
        dup_r = round(1 - len(hs) / n, 4)
        assert abs(r.dup_r - dup_r) < 1e-9
        assert r.keep == (n >= DOMAIN_MIN_DOCS and dup_r <= DOMAIN_MAX_DUP_R)


def test_ppm_dhash_kernel_hand_example_and_brightness_invariance(spark):
    """Pin the difference-hash kernel on a hand-computed image, and pin
    the perceptual property the fixture exploits: a +1 brightness shift
    changes every payload byte but not one hash bit."""
    from cassandra_data_migrator_spark.operators.multimodal import ppm_dhash

    # 4x1 image, pixels gray-equivalent to [10, 9, 9, 20]:
    # bits: g0>g1 -> 1, g1>g2 -> 0, g2>g3 -> 0  => dhash = 0b001 = 1
    px = bytes([10, 10, 10, 9, 9, 9, 9, 9, 9, 20, 20, 20])
    shifted = bytes(b + 1 for b in px)
    rows = [
        (1, b"P6\n4 1\n255\n" + px),
        (2, b"P6\n4 1\n255\n" + shifted),
    ]
    df = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    got = {r.media_id: (r.dhash, r.n_bits, r.width, r.height)
           for r in ppm_dhash(df).collect()}
    assert got[1] == (1, 3, 4, 1)
    assert got[2] == (1, 3, 4, 1)  # brightness-invariant


def test_ppm_dhash_rejects_oversized_hash(spark):
    """h*(w-1) > 62 bits cannot pack into the BIGINT — must refuse, not
    silently truncate."""
    import pytest as _pytest

    from cassandra_data_migrator_spark.operators.multimodal import ppm_dhash

    w, h = 8, 9  # 8*9 rows -> h*(w-1) = 63 bits
    px = bytes(range(w * h * 3 % 256)) * ((w * h * 3) // 256 + 1)
    payload = f"P6\n{w} {h}\n255\n".encode() + px[: w * h * 3]
    df = spark.createDataFrame([(1, payload)], "media_id LONG, payload BINARY")
    with _pytest.raises(Exception, match="62 bits"):
        ppm_dhash(df).collect()


def test_bloom_corpus_dedup_audit_tiny(spark):
    from cassandra_data_migrator_spark.operators.bloom import (
        bloom_corpus_dedup_audit,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta"), (11, "brand new"), (12, "also new")],
        "doc_id LONG, text STRING",
    )
    row = bloom_corpus_dedup_audit(corpus, batch).collect()[0]
    assert row.n_batch == 3
    assert row.n_dup_exact == 1
    assert row.prefilter_subset_ok
    assert row.verify_exact_ok


def test_group_ksample_exact_k_and_small_groups(spark, sf_dir):
    rows = q.queries()["group_ksample"](spark, sf_dir).collect()
    per_lang = defaultdict(list)
    for r in rows:
        per_lang[r.lang].append(r.rnk)
    docs = _docs(spark, sf_dir)
    sizes = Counter(lang for _, lang, _ in docs.values())
    for lang, rnks in per_lang.items():
        want = min(KSAMPLE_K, sizes[lang])
        assert sorted(rnks) == list(range(1, want + 1)), lang
    # deterministic: same seed, same sample
    again = {(r.doc_id, r.rnk) for r in q.queries()["group_ksample"](spark, sf_dir).collect()}
    assert again == {(r.doc_id, r.rnk) for r in rows}


def test_doc_edit_churn_planted_semantics(spark, sf_dir):
    """Dropping the first whole line keeps later boundaries aligned:
    edited docs lose exactly the lines unique to their head segment and
    ADD nothing; unedited docs read jaccard 1.0."""
    rows = q.queries()["doc_edit_churn"](spark, sf_dir).collect()
    for r in rows:
        if r.doc_id % CHURN_EDIT_MOD != 0:
            assert r.line_jaccard == 1.0 and not r.churned, r
            assert r.n_added == 0 and r.n_removed == 0
        else:
            assert r.n_added == 0, r  # boundary alignment: nothing new
            # the first line disappears unless it repeats later in the doc
            assert r.n_lines_b <= r.n_lines_a


def test_bloom_corpus_dedup_audit_empty_batch(spark):
    """An empty ingest day must report (0, 0, true, true) — SUM over zero
    rows is NULL without the coalesce guards (review r08)."""
    from cassandra_data_migrator_spark.operators.bloom import (
        bloom_corpus_dedup_audit,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id LONG, text STRING"
    )
    batch = corpus.filter("doc_id < 0")
    row = bloom_corpus_dedup_audit(corpus, batch).collect()[0]
    assert (row.n_batch, row.n_dup_exact) == (0, 0)
    assert row.prefilter_subset_ok is True
    assert row.verify_exact_ok is True


def test_bloom_corpus_dedup_audit_known_corpus_size(spark):
    """Passing n_corpus must skip the sizing count and produce identical
    results (the two-scan path a real pipeline with a tracked corpus size
    uses)."""
    from cassandra_data_migrator_spark.operators.bloom import (
        bloom_corpus_dedup_audit,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta"), (11, "brand new")], "doc_id LONG, text STRING"
    )
    a = bloom_corpus_dedup_audit(corpus, batch).collect()[0]
    b = bloom_corpus_dedup_audit(corpus, batch, n_corpus=3).collect()[0]
    assert a == b
    assert a.n_dup_exact == 1 and a.prefilter_subset_ok and a.verify_exact_ok


def test_kn_holdout_backoff_paths_fire(spark, sf_dir):
    """The held-out eval must actually exercise the unseen-bigram backoff
    (the whole point vs kn_perplexity): some eval bigram must miss the
    train model, every nll must be positive and finite, and backoff
    counts are bounded by bigram counts."""
    rows = q.queries()["kn_holdout_perplexity"](spark, sf_dir).collect()
    assert rows
    assert sum(r.n_backoff for r in rows) > 0
    for r in rows:
        assert 0 < r.holdout_nll < 100, r
        assert 0 <= r.n_backoff <= r.n_bigrams


def test_kn_holdout_nll_exceeds_train_fit(spark, sf_dir):
    """Sanity: held-out perplexity under the train-split model should on
    average be at least the full-corpus self-fit nll (a model scoring its
    own training data is optimistic)."""
    hold = q.queries()["kn_holdout_perplexity"](spark, sf_dir).collect()
    fit = {r.doc_id: r.kn_nll for r in q.queries()["kn_perplexity"](spark, sf_dir).collect()}
    mean_hold = sum(r.holdout_nll for r in hold) / len(hold)
    mean_fit = sum(fit.values()) / len(fit)
    assert mean_hold > mean_fit
