"""Composed end-to-end pipelines mirroring the reference's three entry
points (SURVEY.md section 3), as one lazy DataFrame DAG each.

EP-1 supervised classification (Week5_datingNLP.R:45–188)
EP-2 TF-IDF weighting          (R:234–247): ``tfidf.tf_idf(EP1Result.counts)``
EP-3 frequency analysis       (R:258–280); its k-means sweep (R:301–326)
     is ``ml.kmeans_restarts``

The reference materializes eagerly at every step (33 GB peak); here each
pipeline is declared lazily and only the terminal artifacts materialize.
Every intermediate that two actions read is built once and cached — the
analog of the reference keeping `all.tokens` and its trimmed DFM alive
across its three sections (R:105 → R:234).

Caches left for the caller (release them, e.g. ``spark.catalog
.clearCache()``, once the results are consumed):

- EP-1: the unstemmed tokenized corpus, the distinct-term stem map, the
  trimmed DFM (``EP1Result.counts`` — the feature vectors are built from
  it, and EP-2's ``tf_idf(counts)`` reads it), the labeled feature
  vectors, ``train``, ``test`` and ``confusion``;
- EP-3: the per-sex ``(sex, word, cnt)`` aggregate behind all four of
  its frames.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions import stemmer
from week5_datingnlp_big_data_spark.operators import corpus, dfm, freq, ml


@dataclass
class EP1Result:
    counts: DataFrame            # trimmed long-form DFM
    train: DataFrame
    test: DataFrame
    model: object
    predictions: DataFrame
    confusion: DataFrame
    accuracy: float
    vocabulary: list[str] = field(default_factory=list)


def ep1_classification(
    profiles: DataFrame,
    *,
    min_docfreq: int = 2,
    min_termfreq: int = 3,
    train_fraction: float = 0.7,
    max_depth: int = 5,
    seed: int = 32984,
    stage_timings: dict[str, float] | None = None,
) -> EP1Result:
    """EP-1: corpus prep → tokens → trimmed DFM → vectorize → stratified
    split → decision tree → confusion matrix. Thresholds default lower
    than the reference's 25/35 (R:105) because test fixtures are ~500 docs
    vs 60k; pass 25/35 at full scale.

    Pass ``stage_timings={}`` to get a featurize / fit / evaluate
    wall-clock breakdown written into the dict (used by
    scripts/scale_stress.py). The breakdown forces the train/test caches
    at the stage boundary — an action the tree fit would trigger anyway,
    so the total is unchanged; with the default ``None`` no extra action
    runs."""
    import time as _time

    _t0 = _time.perf_counter()
    docs = corpus.profiles_to_docs(profiles)
    # Tokenize WITHOUT stemming: the whole clean/tokenize/stopword chain is
    # JVM regex work. Stemming happens below on DISTINCT terms only — the
    # Zipf-aware formulation (dfm.stem_counts' trick, applied to the full
    # pipeline): the Python stemmer touches |vocab| rows (~10^5), never
    # every token occurrence (~10^7+). The length filter comes after
    # stemming, as in the reference (R:86-87).
    raw = corpus.tokenize_corpus(docs).cache()
    # Materialization barrier: several downstream shuffle-map stages read
    # this cache concurrently — cold, each would re-run the tokenizer
    # (measured ~3x the corpus scan at 60k docs).
    raw.count()

    exploded = raw.select("doc_id", F.explode("tokens").alias("_raw"))
    stem_map = (
        exploded.select("_raw").distinct()
        .withColumn("_term", stemmer.stem_one_udf()("_raw"))
        # |vocab| rows. The trim below reads the grouped counts twice
        # (term stats + semi-join); without the persist each read re-runs
        # the stem UDF (measured ~2x featurize at 300 profiles).
        .persist()
    )
    # Stemmed token stream, post-stem length filter as in the reference
    # chain. The stem map joins by hash key with NO forced broadcast: the
    # distinct vocabulary grows with the corpus (Heaps' law, unbounded at
    # 100 TB), so AQE decides — it broadcasts when the measured size is
    # small (every local run) and shuffles otherwise. The trimmed DFM is
    # persisted: the vocabulary collect below fills it, the feature
    # vectors are built from it, and EP-2's tf_idf(counts) reads it
    # instead of re-running the stem-map join and the trim.
    counts = dfm.trim_vocabulary(
        exploded.join(stem_map, "_raw")
        .filter(F.length("_term") >= 2)
        .groupBy("doc_id", F.col("_term").alias("term"))
        .agg(F.count(F.lit(1)).alias("count")),
        min_docfreq,
        min_termfreq,
    ).persist()
    # The vocabulary is the trimmed term set, ordered by corpus frequency
    # desc, as a fitted CountVectorizer orders it. The trim bounds it
    # (Heaps' law + df/tf floors), so it stays small enough for the
    # model's broadcast dictionary at any corpus size. Sorted in Python,
    # since the list is collected anyway: no range-partition sample job,
    # no sort stage. Python compares str by codepoint, which is Spark's
    # UTF-8 binary string order, so the ties break as
    # orderBy(desc(tf), term).
    term_tf = counts.groupBy("term").agg(F.sum("count").alias("_tf")).collect()
    vocab = [r["term"] for r in sorted(term_tf, key=lambda r: (-r["_tf"], r["term"]))]
    # The model's input is the trimmed DFM (dfm_trim → data frame,
    # R:105–137): each doc's surviving terms, each repeated `count` times
    # (CountVectorizerModel ignores token order). The left join keeps
    # every doc; one with no surviving term gets an empty array, hence an
    # all-zero vector.
    bags = counts.groupBy("doc_id").agg(
        F.flatten(F.collect_list(F.array_repeat("term", F.col("count").cast("int"))))
        .alias("_toks")
    )
    tokenized = (
        raw.select("doc_id", F.col("sex").alias("label"))
        .join(bags, "doc_id", "left")
        .withColumn("tokens", F.coalesce("_toks", F.expr("cast(array() as array<string>)")))
    )
    # Narrow to the modeling columns and persist BEFORE the split: the
    # split's two sides would otherwise each re-run the vectorize
    # transform over the full corpus (the sample filter is narrow but the
    # anti-join side re-reads the whole chain). One materialization, both
    # sides read the cache; the token arrays stay out of executor memory.
    labeled = (
        ml.vectorize_with_vocabulary(tokenized, vocab)
        .select("doc_id", "label", "features")
        .persist()
    )
    train, test = ml.stratified_split(labeled, "doc_id", train_fraction, seed)
    # Persist both splits: fit, predict and the evaluation are separate
    # actions — without this each one re-runs the tokenize → vectorize
    # chain (measured ~2x the whole pipeline at 60k docs).
    train = train.persist()
    test = test.persist()
    if stage_timings is not None:
        # materialize the featurize chain (tokenize → stem-map → vectorize
        # → split) so the fit stage below times ONLY the tree
        train.count(), test.count()
        stage_timings["featurize"] = round(_time.perf_counter() - _t0, 1)
        _t0 = _time.perf_counter()
    model = ml.train_decision_tree(train, max_depth=max_depth, seed=seed)
    if stage_timings is not None:
        stage_timings["tree_fit"] = round(_time.perf_counter() - _t0, 1)
        _t0 = _time.perf_counter()
    pred = ml.predict(model, test)
    # One evaluation job: the confusion counts are collected once (and
    # cached for the caller), and accuracy is their diagonal share — the
    # same integer division ml.accuracy makes, without a pass of its own.
    confusion = ml.confusion_matrix(pred).persist()
    cells = confusion.collect()
    n = sum(c["n"] for c in cells)
    hit = sum(c["n"] for c in cells if c["predicted"] == c["actual"])
    if stage_timings is not None:
        stage_timings["predict_eval"] = round(_time.perf_counter() - _t0, 1)
    return EP1Result(
        counts=counts,
        train=train,
        test=test,
        model=model,
        predictions=pred,
        confusion=confusion,
        accuracy=hit / n if n else 0.0,
        vocabulary=vocab,
    )


@dataclass
class EP3Result:
    male_top: DataFrame
    female_top: DataFrame
    distinctive_male: DataFrame
    distinctive_female: DataFrame


def ep3_word_analysis(
    profiles: DataFrame, *, top_k: int = 25, distinct_k: int = 500
) -> EP3Result:
    """EP-3: per-sex frequency rankings (raw-split semantics, R:258–270)
    and distinctive-word setdiffs (R:278–280). All four rankings read
    one persisted per-sex word count. The reference's k-means sweep
    (R:301–313) is ``ml.kmeans_restarts`` over EP-1's feature vectors."""
    docs = corpus.profiles_to_docs(profiles)
    counts = freq.grouped_word_counts(docs, "sex").persist()
    return EP3Result(
        male_top=freq.group_top_k(counts, "sex", "m", top_k),
        female_top=freq.group_top_k(counts, "sex", "f", top_k),
        distinctive_male=freq.distinctive_words(counts, "sex", "m", "f", distinct_k),
        distinctive_female=freq.distinctive_words(counts, "sex", "f", "m", distinct_k),
    )
