"""TF-IDF with the reference's exact semantics (NOT MLlib's).

Reference EP-2 (Week5_datingNLP.R:215–247):
  TF(d,t)  = count(d,t) / Σ_t count(d,t)              (R:215–217)
  IDF(t)   = log10(N / df(t))                         (R:220–225)
  TFIDF    = TF × IDF                                 (R:228–230)

MLlib's ``IDF`` computes ``ln((N+1)/(df+1))`` — deliberately NOT used
(SURVEY.md section 2.4 A8). Golden head values from the trace: think 0.35,
kind 0.589, intellectu 1.362, either 0.9.

Scale: TF is a doc-partitioned window (no cross-doc data motion beyond the
one hash shuffle on doc_id); IDF is a small per-term aggregate that
joins back onto the counts table (hash key, AQE-planned). No
transposition — the reference's
apply(MARGIN=1/2) gymnastics disappear in long form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def term_frequency(counts: DataFrame) -> DataFrame:
    """A7 — row-normalized counts: ``(doc_id, term, count, tf)``."""
    w = Window.partitionBy("doc_id")
    return counts.withColumn("tf", F.col("count") / F.sum("count").over(w))


def inverse_doc_frequency(counts: DataFrame, n_docs: int | None = None) -> DataFrame:
    """A8 — ``(term, df, idf)`` with idf = log10(N/df).

    ``n_docs`` defaults to the number of distinct docs in ``counts``
    (matches the reference, where N = corpus size and every doc has ≥1
    term) — a scalar subquery the action runs, rather than an eager
    ``count()`` that executed the whole upstream tokenize pipeline once
    at CONSTRUCTION time just to inline N as a literal. Not a cross join
    with the 1-row count either: AQE chose that nested-loop join's
    broadcast side from whichever side's stage finished first, so
    identical calls got different plans (and could broadcast the
    vocabulary-sized side). ``log10(N/df)`` is the same IEEE division of
    the same exact integers either way."""
    if n_docs is None:
        n = counts.agg(F.countDistinct("doc_id").cast("double")).scalar()
    else:
        n = F.lit(float(n_docs))
    return (
        counts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .withColumn("idf", F.log10(n / F.col("df")))
    )


def tf_idf(counts: DataFrame, n_docs: int | None = None) -> DataFrame:
    """A9 — ``(doc_id, term, tf, idf, tfidf)``. The per-term IDF side is
    |vocab|-sized and grows with the corpus → hash-keyed join onto the
    doc×term table with no forced broadcast (AQE broadcasts it whenever
    the measured size permits, which is every sub-crawl-scale run).

    The counts DAG feeds three consumers (TF window, IDF aggregate, and
    the N-docs count when ``n_docs`` is None), so ``counts`` is always
    persisted first; otherwise the whole upstream tokenize+explode+groupBy
    pipeline would run three times. The cache entry outlives the call.
    ``counts`` may already be cached (EP-1 leaves its trimmed DFM
    persisted): the ``persist()`` is then a no-op and all three consumers
    read the caller's entry."""
    counts = counts.persist()
    tf = term_frequency(counts)
    idf = inverse_doc_frequency(counts, n_docs)
    return (
        tf.join(idf.select("term", "idf"), "term")
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .select("doc_id", "term", "count", "tf", "idf", "tfidf")
    )
