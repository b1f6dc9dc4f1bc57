"""BPE trainer/applier (functions/bpe.py): hand-checked merges, exact
agreement between the distributed pipeline and a pure-Python reference,
and determinism."""

from __future__ import annotations

from collections import Counter

from cassandra_data_migrator_spark.functions import bpe
from cassandra_data_migrator_spark.sources.parquet import load_table


def test_train_bpe_hand_checked(spark):
    """'low low low lower' — classic toy corpus. Most frequent pair is
    ('l','o') (count 4), then ('lo','w') (4), then the rest tie-break
    lexicographically."""
    df = spark.createDataFrame([("low low low lower",)], "text STRING")
    merges = bpe.train_bpe(df, num_merges=3)
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")
    # after 'low' forms: 'low</w>' (x3) vs 'low'+'e'+'r'+'</w>' (x1):
    # pair counts: (low,</w>)=3, (low,e)=1, (e,r)=1, (r,</w>)=1
    assert merges[2] == ("low", bpe.END_OF_WORD)


def test_apply_reproduces_training_segmentation(spark):
    df = spark.createDataFrame(
        [("low low low lower lowest newer",)], "text STRING"
    )
    merges = bpe.train_bpe(df, num_merges=6)
    ranks = {p: i for i, p in enumerate(merges)}
    # the trained word 'low' must segment to exactly ['low</w>'] once its
    # merges exist
    segs = bpe.apply_bpe_word("low", ranks)
    assert "".join(segs) == "low" + bpe.END_OF_WORD
    # unseen word degrades to partial merges, never crashes, and the
    # segmentation is lossless (concatenation reproduces the word)
    segs_unseen = bpe.apply_bpe_word("xyz", ranks)
    assert "".join(segs_unseen) == "xyz" + bpe.END_OF_WORD


def test_pipeline_matches_pure_python_reference(spark, sf_dir):
    """The distributed count (explode → distinct-word Arrow segmentation →
    broadcast join → per-doc sum) must equal the per-doc pure-Python
    recomputation exactly."""
    d = load_table(spark, sf_dir, "documents").limit(60)
    merges = bpe.train_bpe(d, num_merges=80, max_word_types=5_000)
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe.bpe_token_counts(d, merges).collect()
    }
    ranks = {p: i for i, p in enumerate(merges)}
    for r in d.select("doc_id", "text").collect():
        words = [w for w in r.text.lower().split() if w]
        want = sum(len(bpe.apply_bpe_word(w, ranks)) for w in words)
        assert got.get(r.doc_id, 0) == want, r.doc_id


def test_train_excludes_pathological_long_words(spark):
    """The word-table collect is bounded in BOTH dimensions: a base64-blob
    'word' longer than max_word_len never reaches the driver, so collected
    bytes stay ≤ max_word_types × O(max_word_len) on any corpus. The
    legitimate words still train normally."""
    blob = "x" * 500
    df = spark.createDataFrame(
        [(f"low low low lower {blob} {blob}",)], "text STRING"
    )
    merges = bpe.train_bpe(df, num_merges=2, max_word_len=64)
    assert merges[0] == ("l", "o") and merges[1] == ("lo", "w")
    # the blob-word's char pairs must contribute nothing: with the blob
    # included, ('x','x') would dominate every count
    assert ("x", "x") not in merges
    # and an explicit tiny cap drops even 5-char words
    short_only = bpe.train_bpe(df, num_merges=1, max_word_len=3)
    assert short_only[0] == ("l", "o")  # trained on 'low' alone


def test_train_deterministic(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(40)
    m1 = bpe.train_bpe(d, num_merges=30, max_word_types=2_000)
    m2 = bpe.train_bpe(d, num_merges=30, max_word_types=2_000)
    assert m1 == m2 and len(m1) == 30


def test_zero_merges_counts_chars(spark):
    df = spark.createDataFrame([(1, "ab c")], "doc_id BIGINT, text STRING")
    got = bpe.bpe_token_counts(df, []).collect()
    # 'ab' -> a,b,</w> (3) ; 'c' -> c,</w> (2)
    assert got[0].n_bpe_tokens == 5


def test_merge_word_non_overlapping():
    assert bpe._merge_word(("a", "a", "a"), ("a", "a")) == ("aa", "a")
    assert bpe._merge_word(("x",), ("a", "b")) == ("x",)


def test_pair_counts_weighted():
    pc = bpe._pair_counts({("a", "b"): 3, ("a", "b", "c"): 2})
    assert pc[("a", "b")] == 5 and pc[("b", "c")] == 2
    assert isinstance(pc, Counter)


def test_fixture_merges_match_replace_formula():
    """The bpe_apply_audit oracle's claim (round-5 verdict #8): for the
    character-disjoint, non-chaining fixture pairs, greedy BPE apply length
    equals len(word) + 1 − Σ leftmost-non-overlapping occurrences per pair.
    Exercised on adversarial words (self-overlap candidates, adjacent
    merges, chained-looking sequences, unseen chars)."""
    from cassandra_data_migrator_spark.queries.lm_quality import BPE_AUDIT_MERGES

    # the oracle's structural preconditions: 12 distinct chars, no merge
    # output is a member of another pair
    chars = [c for p in BPE_AUDIT_MERGES for c in p]
    assert len(set(chars)) == len(chars)

    ranks = {p: i for i, p in enumerate(BPE_AUDIT_MERGES)}
    words = [
        "the", "ther", "her", "tth", "anan", "thth", "thquan", "banana",
        "erer", "x", "thisisatest", "ouldlder", "ttthhh", "island", "an",
        "", "zzz", "understand", "toolder", "eerriiss",
    ]
    for w in words:
        if not w:
            continue
        got = len(bpe.apply_bpe_word(w, ranks))
        occ = 0
        for a, b in BPE_AUDIT_MERGES:
            pat = a + b
            occ += (len(w) - len(w.replace(pat, ""))) // 2
        assert got == len(w) + 1 - occ, (w, got, len(w) + 1 - occ)
