"""Word-frequency analytics: counts, rankings, top-k, distinctive-word sets.

Reference EP-3 (Week5_datingNLP.R:258–286): per-sex word frequency tables
(A5), sort-desc (T1), top-k slice (T2), setdiff of top-500 lists (T3), and
the *intended* semantics of the banned-word column drop (W4 — the
reference's version is a silent no-op bug; see SURVEY.md section 2.2 P6).

Scale notes: ``explode → groupBy(word)`` is the canonical distributed word
count — partial (map-side) aggregation absorbs the Zipf head before the
shuffle, and the final ``orderBy+limit`` plans as TakeOrderedAndProject
(no global sort materialization). At 100 TB the only heavy exchange is the
single hash shuffle on ``word``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import split_raw


def explode_words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """A5 step 1 — one row per word occurrence, split as the reference's
    ``str_split(" ")`` does (keeps "" tokens, R:259)."""
    from week5_datingnlp_big_data_spark.operators.corpus import explode_tokens

    return explode_tokens(docs, split_raw(text_col), "word")


def _ranked(counts: DataFrame) -> DataFrame:
    """T1 — ``(word, cnt)`` ranked descending, word ascending as the
    deterministic tiebreak (the reference's ``sort`` is stable; an explicit
    tiebreak keeps top-k reproducible under parallel execution)."""
    return counts.orderBy(F.desc("cnt"), F.asc("word"))


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """A5+T1 — ``(word, cnt)`` ranked (see ``_ranked``)."""
    return _ranked(
        explode_words(docs, text_col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def top_k_words(docs: DataFrame, k: int, text_col: str = "text") -> DataFrame:
    """T2 — top-k slice; Catalyst plans TakeOrderedAndProject."""
    return word_counts(docs, text_col).limit(k)


def grouped_word_counts(docs: DataFrame, group_col: str) -> DataFrame:
    """A5 per group, raw-split words of ``text`` (R:259) — ``(group_col,
    word, cnt)``: every group's word counts from one aggregation, for
    callers that rank several groups (persist it when more than one
    ranking reads it)."""
    from week5_datingnlp_big_data_spark.operators.corpus import explode_tokens

    return (
        explode_tokens(docs, split_raw("text"), "word", group_col)
        .groupBy(group_col, "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def group_top_k(counts: DataFrame, group_col: str, group: str, k: int) -> DataFrame:
    """T2 for one group of ``grouped_word_counts``: ``(word, cnt)``,
    TakeOrderedAndProject over that group's rows."""
    return _ranked(
        counts.filter(F.col(group_col) == group).select("word", "cnt")
    ).limit(k)


def distinctive_words(
    counts: DataFrame, group_col: str, group_a: str, group_b: str, k: int = 500
) -> DataFrame:
    """T3 — words in group A's top-k absent from group B's top-k
    (reference ``setdiff(male.words[1:500], female.words[1:500])``,
    R:278–280), from ``grouped_word_counts`` output. Anti-join of two
    TakeOrderedAndProject results — both sides are ≤k rows, so the join
    broadcasts."""
    top_a = group_top_k(counts, group_col, group_a, k)
    top_b = group_top_k(counts, group_col, group_b, k)
    return _ranked(top_a.join(F.broadcast(top_b.select("word")), "word", "left_anti"))


def remove_banned_terms(counts: DataFrame, banned: DataFrame, term_col: str = "term") -> DataFrame:
    """W4 intended semantics — drop rows whose term is in the banned set
    via broadcast anti-join (the reference's data.frame ``%in%`` matched
    nothing, R:284–286; we implement what was meant)."""
    return counts.join(F.broadcast(banned.select(term_col)), term_col, "left_anti")
