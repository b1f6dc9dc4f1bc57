"""Byte-pair-encoding tokenizer training and application — the tokenizer
half of a training-data pipeline (token budgets, packing, OOV audits all
assume a trained subword vocab).

Scale shape (the one every production BPE trainer uses, cf. the
HuggingFace/SentencePiece design): BPE is NOT trained by iterating over
the corpus — it is trained over the aggregated WORD-FREQUENCY table,
because the merge objective only depends on word-type counts. So the
100 TB part of the job is exactly one Spark explode + groupBy (bounded,
vocab-sized output, map-side partial agg), and the merge loop runs over
that bounded table driver-side — the same bounded-driver-state class as
the k-means centroid sync (operators/cluster.py). Application is also
per word TYPE, never per occurrence: distinct words are segmented once
(Arrow-batched, vocab-sized work), and the corpus gets its token counts
by broadcast-joining the word→n_tokens table back onto the token stream.

Determinism: merges tie-break on (-pair_count, pair) and the word table
is capped by (-count, word), so the trained merge list is a pure function
of the corpus. No randomness, no order dependence.
"""

from __future__ import annotations

import functools
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.functions.text import tokens
from cassandra_data_migrator_spark.session import arrow_map

END_OF_WORD = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the whitespace token stream — the ONLY corpus-wide
    pass BPE training needs."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (END_OF_WORD,)


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    pc: Counter = Counter()
    for syms, cnt in vocab.items():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += cnt
    return pc


def _merge_word(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i, n = 0, len(syms)
    merged = pair[0] + pair[1]
    while i < n:
        if i < n - 1 and syms[i] == pair[0] and syms[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_word_types: int = 50_000,
    max_word_len: int = 64,
) -> list[tuple[str, str]]:
    """Train ``num_merges`` BPE merges over the corpus word-frequency table
    (top ``max_word_types`` types by (count desc, word) — the driver-state
    cap). Returns the ordered merge list.

    Driver-state bound: the collect is capped in BOTH dimensions —
    ``max_word_types`` rows AND ``max_word_len`` chars per word (longer
    "words" are unsegmentable junk — base64 blobs, URLs — that every
    production subword trainer drops, cf. SentencePiece's
    max_sentencepiece_length), so the collected bytes are
    ≤ max_word_types × (4·max_word_len + 8) ≈ 13 MB at the defaults
    regardless of corpus pathology — the same documented-bound discipline
    as bloom.py (≤ m/64 rows) and cluster.py (k×dim centroids)."""
    rows = (
        word_counts(df, text_col)
        .filter(F.length("word") <= max_word_len)
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(max_word_types)
        .collect()
    )
    vocab = {_symbols(r.word): int(r.cnt) for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pc = _pair_counts(vocab)
        if not pc:
            break
        pair = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(pair)
        vocab = {_merge_word(s, pair): c for s, c in vocab.items()}
    return merges


def apply_bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Segment one word with a trained merge table: repeatedly apply the
    LOWEST-RANK (earliest-trained) pair present — the standard BPE apply,
    which reproduces training segmentations exactly for trained words and
    degrades gracefully for unseen ones."""
    syms = list(_symbols(word))
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _segment_row(word, *, ranks):
    return [(word, len(apply_bpe_word(word, ranks)))]


def segment_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(word, n_bpe) for each DISTINCT word — ``apply_bpe_word`` run
    Arrow-batched over the vocab-sized word table (never the corpus). The
    merge-rank table rides to the executors with the kernel (a few
    thousand entries)."""
    ranks = {p: i for i, p in enumerate(merges)}
    return arrow_map(
        words.select("word"),
        functools.partial(_segment_row, ranks=ranks),
        "word string, n_bpe bigint",
    )


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc BPE token counts: explode the token stream, broadcast-join
    the per-TYPE segmentation lengths, sum per doc. The Python kernel only
    ever sees distinct words."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
    seg = segment_words(toks.select("word").distinct(), merges)
    return (
        toks.join(F.broadcast(seg), "word")
        .groupBy(id_col)
        .agg(F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"))
    )
