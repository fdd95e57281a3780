"""Distributed BPE (byte-pair-encoding) vocabulary training.

Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
Subword Units", ACL) learn a subword vocabulary by repeatedly merging the
most frequent adjacent symbol pair. The classic efficiency trick —
iterate over the WORD-FREQUENCY table, not the token stream — is also
the distributed one: after a single corpus-wide word count (one
shuffle), every merge round touches only the vocab-sized ``(word
symbols, count)`` table.

Per round, entirely JVM-side:
  1. explode adjacent symbol pairs per word, weighted by word count;
  2. one ``groupBy(pair)`` aggregate + a 1-row ``TakeOrdered`` to the
     driver picks the argmax pair (count desc, pair asc — deterministic);
  3. apply the merge with a greedy-leftmost ``F.aggregate`` fold over
     each word's symbol array (no Python in the loop), and cut the
     lineage (``session.cut``).

Scale: word-frequency tables are Zipf-bounded (~10⁷ distinct words for a
trillion-token corpus) — small relative to the corpus, naturally
partitioned by word hash. Each round is one vocab-sized shuffle; the
driver holds exactly one (pair, count) row per round. Applying a learned
merge table to new text is a per-row operation (``bpe_segment_udf``,
Arrow-batched) — embarrassingly parallel at any scale.

Not SQL-expressible (iterative argmax) → rows-only at the driver +
exact-golden tests against a pure-Python reference implementation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import has_content
from week5_datingnlp_big_data_spark.session import cut, release

# End-of-word sentinel (classic </w>): lets the vocabulary distinguish
# "est" in "newest" from the word-final "est</w>" in "smallest".
EOW = "</w>"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency table ``(word, cnt)`` over whitespace-lowered
    tokens — the one pass over the full corpus BPE training needs."""
    words = F.split(F.trim(F.lower(F.col(text_col))), "\\s+")
    nonempty = docs.filter(has_content(text_col))
    return (
        nonempty.select(F.explode(words).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_symbols(word: Column) -> Column:
    """Split a word into single-character symbols + the EOW sentinel."""
    return F.concat(
        F.split(word, ""),  # Spark: split on empty pattern → chars
        F.array(F.lit(EOW)),
    )


def _merge_pair(symbols: Column, left: str, right: str) -> Column:
    """Greedy-leftmost merge of every adjacent (left, right) occurrence —
    the sequential fold BPE specifies (("a","a") on "a a a" → ["aa","a"]),
    as a pure-JVM ``aggregate``: the accumulator carries the rebuilt
    array plus one pending symbol; each step either completes a merge or
    flushes the pending symbol."""
    merged = F.lit(left + right)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc: Column, s: Column) -> Column:
        is_merge = acc["pend"].isNotNull() & (acc["pend"] == left) & (s == F.lit(right))
        return F.when(
            is_merge,
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
                )
                .otherwise(acc["out"])
                .alias("out"),
                s.alias("pend"),
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])

    return F.aggregate(symbols, init, step, finish)


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the symbolized vocabulary."""
    pairs = F.when(
        F.size("symbols") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("symbols") - 2),
            lambda i: F.struct(
                F.col("symbols")[i].alias("left"),
                F.col("symbols")[i + 1].alias("right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
    return (
        vocab.select(F.explode(pairs).alias("p"), F.col("cnt"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("pair_cnt"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge list ``[(left, right, weighted_count), ...]`` — the driver-side
    footprint is exactly one row per merge (the argmax), never the
    vocabulary. Stops early when no pair reaches ``min_pair_count``.
    Every round cuts the vocabulary's lineage (one more nested
    ``aggregate`` per merge otherwise), and nothing is left cached."""
    vocab = cut(
        word_frequencies(docs, text_col).select(
            _initial_symbols(F.col("word")).alias("symbols"), F.col("cnt")
        )
    )
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            top = (
                _pair_counts(vocab)
                .orderBy(F.desc("pair_cnt"), F.asc("left"), F.asc("right"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["pair_cnt"] < min_pair_count:
                break
            left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_cnt"])
            merges.append((left, right, cnt))
            vocab = cut(
                vocab.select(
                    _merge_pair(F.col("symbols"), left, right).alias("symbols"),
                    F.col("cnt"),
                ),
                vocab,
            )
    finally:
        release(vocab)
    return merges


def bpe_vocab(docs: DataFrame, merges: list[tuple[str, str, int]], text_col: str = "text") -> DataFrame:
    """The learned subword vocabulary: apply the merge sequence to the
    word table and count surviving symbols — ``(symbol, cnt)``."""
    vocab = word_frequencies(docs, text_col).select(
        _initial_symbols(F.col("word")).alias("symbols"), F.col("cnt")
    )
    sym = F.col("symbols")
    for left, right, _ in merges:
        sym = _merge_pair(sym, left, right)
    return (
        vocab.select(F.explode(sym).alias("symbol"), F.col("cnt"))
        .groupBy("symbol")
        .agg(F.sum("cnt").alias("cnt"))
    )


def bpe_segment_udf(merges: list[tuple[str, str, int]]):
    """Arrow-batched tokenizer applying a learned merge table to raw text
    (the production path for encoding new documents: the merge list is a
    broadcast-sized constant; each row segments independently)."""
    from pyspark.sql import types as T

    ranked = {(l, r): i for i, (l, r, _) in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word) + [EOW]
        while len(syms) >= 2:
            best, best_rank = None, None
            for a, b in zip(syms, syms[1:]):
                rank = ranked.get((a, b))
                if rank is not None and (best_rank is None or rank < best_rank):
                    best, best_rank = (a, b), rank
            if best is None:
                break
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _segment(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            return [s for w in t.lower().split() for s in encode_word(w)]

        return texts.map(one)

    return _segment


def bpe_fertility_stats(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Tokenizer fertility report per source: apply a trained BPE to the
    corpus and roll up tokens-per-word (fertility) and chars-per-token
    (compression). The numbers a pretraining team actually budgets with —
    a source whose fertility is 2x the rest costs 2x the training tokens
    per word of content, and fertility drift across ingest batches is a
    standard tokenizer-mismatch alarm (Rust et al. 2021 use exactly this
    per-language fertility comparison).

    Scale shape: the segmenter is the Arrow-batched pandas UDF
    (bpe_segment_udf — merges ride the closure as constants, ~vocab-sized),
    one scan, one small groupBy(source). Counts are integers; the two
    ratios are single divisions — deterministic, though the BPE apply
    itself has no SQL twin (rows-only at the driver, golden-tested in
    tests/test_bpe.py).

    Output: ``(source, n_docs, n_words, n_bpe_tokens, n_chars,
    fertility, chars_per_token)``.
    """
    from week5_datingnlp_big_data_spark.operators.textstats import token_count_ws

    seg = bpe_segment_udf(merges)
    toks = docs.select(
        F.col(group_col).alias("source"),
        token_count_ws(text_col).alias("_w"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_c"),
        F.size(seg(F.col(text_col))).alias("_b"),
    )
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_w").cast("bigint").alias("n_words"),
            F.sum(F.when(F.col("_b") >= 0, F.col("_b")).otherwise(0))
            .cast("bigint")
            .alias("n_bpe_tokens"),
            F.sum("_c").cast("bigint").alias("n_chars"),
        )
        .withColumn(
            "fertility",
            F.when(
                F.col("n_words") > 0,
                F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6),
            ),
        )
        .withColumn(
            "chars_per_token",
            F.when(
                F.col("n_bpe_tokens") > 0,
                F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6),
            ),
        )
    )
