"""Golden end-to-end pipeline tests on the profiles fixture (SURVEY.md
section 5 item 3): EP-1/EP-2/EP-3 invariants — stratification, accuracy
above majority baseline, trim bounds, IDF identities, distinctive words
recover the planted gendered vocabulary, k-means cost decreases with k."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.operators import dfm, ml, tfidf
from week5_datingnlp_big_data_spark.plans import pipelines

from tests.fixtures import make_profiles


# One planted profile whose only word the trim drops: its doc has no
# trimmed-DFM row.
NO_TERM_DOC = 10_000


@pytest.fixture(scope="module")
def profiles(spark):
    base = make_profiles(spark)
    essays = {f"essay{i}": "" for i in range(10)} | {"essay0": "quixotry"}
    lone = base.first().asDict() | {"doc_id": NO_TERM_DOC} | essays
    return base.unionByName(spark.createDataFrame([lone], base.schema)).cache()


@pytest.fixture(scope="module")
def ep1(profiles):
    return pipelines.ep1_classification(profiles)


def test_ep1_split_is_stratified_and_disjoint(ep1):
    train_n, test_n = ep1.train.count(), ep1.test.count()
    assert train_n + test_n == 501
    # Disjoint on doc_id
    assert ep1.train.join(ep1.test, "doc_id", "inner").count() == 0
    # Class proportions within ±6 % of the full corpus on both sides
    full = {r["label"]: r["prop"] for r in
            ml.label_proportions(ep1.train.unionByName(ep1.test), "label").collect()}
    for side in (ep1.train, ep1.test):
        props = {r["label"]: r["prop"] for r in ml.label_proportions(side, "label").collect()}
        for lab, p in props.items():
            assert abs(p - full[lab]) < 0.06, (lab, p, full[lab])


def test_stratified_split_ignores_partition_layout(spark):
    # The train side is a function of (seed, doc_id) only: the same rows
    # in 1, 7 or 32 partitions give the same train ids.
    df = spark.createDataFrame(
        [(i, ("m", "f", "x")[i % 3]) for i in range(400)],
        "doc_id long, label string",
    ).cache()
    ids = lambda d: sorted(r[0] for r in d.select("doc_id").collect())  # noqa: E731
    splits = [ml.stratified_split(df.repartition(n), "doc_id", 0.7, 32984) for n in (1, 7, 32)]
    trains = [ids(train) for train, _ in splits]
    assert trains[0] == trains[1] == trains[2]
    assert 0.6 < len(trains[0]) / 400 < 0.8
    for train, test in splits:
        assert sorted(ids(train) + ids(test)) == list(range(400))
    df.unpersist()


def test_stratified_split_samples_null_labels(spark):
    # sampleBy rejects a NULL key in its fractions; the split does not,
    # and it stays disjoint and exhaustive with a NULL-label row present.
    df = spark.createDataFrame(
        [(i, None if i == 0 else ("m", "f")[i % 2]) for i in range(50)],
        "doc_id long, label string",
    ).cache()
    train, test = ml.stratified_split(df, "doc_id", 0.7, 7)
    tr = {r[0] for r in train.select("doc_id").collect()}
    te = {r[0] for r in test.select("doc_id").collect()}
    assert not tr & te and tr | te == set(range(50))
    df.unpersist()


def test_ep1_features_equal_trimmed_dfm(ep1):
    # Each doc's nonzero (term, count) pairs are exactly its trimmed-DFM
    # rows; a doc with no row keeps an all-zero vector and its split slot.
    dfm_rows: dict[int, dict[str, int]] = {}
    for r in ep1.counts.collect():
        dfm_rows.setdefault(r["doc_id"], {})[r["term"]] = r["count"]
    docs = ep1.train.unionByName(ep1.test).collect()
    assert len(docs) == 501
    for r in docs:
        v = r["features"]
        assert v.size == len(ep1.vocabulary)
        got = {ep1.vocabulary[i]: c for i, c in zip(v.indices, v.values)}
        assert got == dfm_rows.get(r["doc_id"], {}), r["doc_id"]
    assert NO_TERM_DOC not in dfm_rows
    assert NO_TERM_DOC in {r["doc_id"] for r in docs}


def test_ep1_vocabulary_matches_spark_ordering(spark):
    # Python-side sort by (-tf, term) == orderBy(desc(tf), term); four
    # extra profiles plant three terms with equal totals, so the term
    # tiebreak is exercised
    base = make_profiles(spark, n_rows=120)
    ties = [
        r.asDict() | {"doc_id": 1000 + i, "essay0": "zephyr quokka marimba"}
        for i, r in enumerate(base.limit(4).collect())
    ]
    r = pipelines.ep1_classification(
        base.unionByName(spark.createDataFrame(ties, base.schema))
    )
    ordered = (
        r.counts.groupBy("term").agg(F.sum("count").alias("tf"))
        .orderBy(F.desc("tf"), "term").collect()
    )
    tfs = [row["tf"] for row in ordered]
    assert len(set(tfs)) < len(tfs)
    assert r.vocabulary == [row["term"] for row in ordered]


def test_ep1_accuracy_is_confusion_diagonal_share(ep1):
    cells = ep1.confusion.collect()
    n = sum(c["n"] for c in cells)
    hit = sum(c["n"] for c in cells if c["predicted"] == c["actual"])
    assert ep1.accuracy == hit / n == ml.accuracy(ep1.predictions)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ep2_reads_ep1_counts_cache(ep1):
    # EP-1 leaves its trimmed DFM persisted; EP-2's TF-IDF scans that
    # cache instead of re-running the stem-map join and the trim.
    assert ep1.counts.storageLevel.useMemory
    assert "InMemoryTableScan" in _executed_plan(tfidf.tf_idf(ep1.counts))


def test_ep3_frames_read_one_shared_aggregate(profiles):
    res = pipelines.ep3_word_analysis(profiles, top_k=25, distinct_k=40)
    shared = re.compile(r"InMemoryRelation \[sex#\d+, word#\d+, cnt#\d+L\]")
    for df in (res.male_top, res.female_top,
               res.distinctive_male, res.distinctive_female):
        plan = _executed_plan(df)
        # every top-k ranking scans the cached (sex, word, cnt) aggregate
        assert "InMemoryTableScan" in plan, plan
        assert len(shared.findall(plan)) == plan.count("TakeOrderedAndProject") > 0, plan


def test_ep1_tree_beats_majority_baseline(ep1):
    maj = (
        ep1.test.groupBy("label").count().orderBy(F.desc("count")).first()["count"]
        / ep1.test.count()
    )
    # Planted vocabulary is highly predictive; the tree should crush the
    # majority baseline, mirroring the reference's 64.2 % > 60 %.
    assert ep1.accuracy > maj + 0.1, (ep1.accuracy, maj)


def test_ep1_confusion_matrix_totals(ep1):
    total = ep1.confusion.agg(F.sum("n")).first()[0]
    assert total == ep1.test.count()


def test_ep1_top_split_is_planted_stem(ep1):
    # The reference's tree splits on guy/girl/danc stems (Rplot.png). Our
    # tree's root feature should be one of the planted gender stems.
    dt = ep1.model.stages[1]
    root_feature = int(dt.toDebugString.split("feature ")[1].split(" ")[0])
    stem_vocab = {"guy", "girl", "danc", "sport", "engin", "beard", "yoga", "sparkl"}
    assert ep1.vocabulary[root_feature] in stem_vocab, ep1.vocabulary[root_feature]


def test_ep2_tfidf_identities(ep1):
    out = tfidf.tf_idf(ep1.counts).cache()
    n_docs = ep1.counts.select("doc_id").distinct().count()
    # tf sums to 1 per doc
    sums = out.groupBy("doc_id").agg(F.sum("tf").alias("s")).collect()
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in sums)
    # idf = log10(N/df) for a term present in every doc → 0
    ubiq = (
        out.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") == n_docs).collect()
    )
    if ubiq:
        zero = out.filter(F.col("term") == ubiq[0]["term"]).select("idf").first()["idf"]
        assert abs(zero) < 1e-12
    # spot-check one idf value exactly
    row = out.select("term", "idf").first()
    df_val = (
        ep1.counts.filter(F.col("term") == row["term"])
        .select("doc_id").distinct().count()
    )
    assert abs(row["idf"] - math.log10(n_docs / df_val)) < 1e-9


def test_stem_counts_equivalent_to_array_stemming(spark, sf_dir):
    # The distinct-term stemming path must agree exactly with stemming
    # every token occurrence (bag-of-words equivalence).
    from week5_datingnlp_big_data_spark.functions.stemmer import stem_tokens
    from week5_datingnlp_big_data_spark.functions.text import remove_stopwords, tokenize
    from week5_datingnlp_big_data_spark.operators.corpus import clean_text
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100)
    toks = docs.select("doc_id", remove_stopwords(tokenize(clean_text("text"))).alias("tokens"))

    via_arrays = dfm.doc_term_counts(toks.withColumn("tokens", stem_tokens("tokens")))
    via_distinct = dfm.stem_counts(dfm.doc_term_counts(toks))
    a = {(r["doc_id"], r["term"]): r["count"] for r in via_arrays.collect()}
    b = {(r["doc_id"], r["term"]): r["count"] for r in via_distinct.collect()}
    assert a == b


def test_trim_boundary(spark):
    # doc-freq boundary: term in exactly min_docfreq-1 docs is dropped
    rows = [(d, ["boundary"]) for d in range(4)] + [(d, ["kept"]) for d in range(5)]
    toks = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    counts = dfm.doc_term_counts(toks)
    kept = dfm.trim_vocabulary(counts, min_docfreq=5, min_termfreq=5)
    terms = {r["term"] for r in kept.select("term").distinct().collect()}
    assert terms == {"kept"}


def test_ep3_distinctive_words_recover_planted_vocab(profiles):
    res = pipelines.ep3_word_analysis(profiles, top_k=25, distinct_k=40)
    male_d = {r["word"] for r in res.distinctive_male.collect()}
    female_d = {r["word"] for r in res.distinctive_female.collect()}
    assert male_d & {"guy", "guys", "sports", "engineering", "beard"}, male_d
    assert female_d & {"girl", "girls", "dancing", "yoga", "sparkle"}, female_d
    assert not (male_d & female_d)


def test_ep3_kmeans_cost_decreases(ep1):
    feats = ep1.train.select("doc_id", "features")
    costs = {}
    for k in (2, 4):
        _, costs[k] = ml.kmeans_restarts(feats, k, nstart=2, seed=7)
    assert costs[4] < costs[2]


def test_top_features_recover_planted_stems(ep1):
    feats = ml.top_features(ep1.model, ep1.vocabulary, k=5)
    names = {t for t, _ in feats}
    assert names & {"guy", "girl", "danc", "sport", "engin", "beard", "yoga", "sparkl"}, feats
    imps = [v for _, v in feats]
    assert imps == sorted(imps, reverse=True)


def test_tsne_gate(ep1):
    import pytest as _pytest

    feats = ep1.train.select("doc_id", "features")
    with _pytest.raises(ValueError, match="capped"):
        ml.tsne_driver(feats, max_rows=10)


def test_tsne_separates_planted_blobs(spark):
    # M7 actually runs here (exact NumPy fallback when sklearn is absent):
    # two well-separated 10-D blobs must stay separated in the embedding,
    # and a fixed seed must reproduce the exact projection.
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((30, 10)) * 0.1
    b = rng.standard_normal((30, 10)) * 0.1 + 5.0
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(list(a) + list(b))
    ]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    Y = ml.tsne_driver(df, perplexity=10.0)
    assert Y.shape == (60, 2) and np.isfinite(Y).all()
    ya, yb = Y[:30], Y[30:]
    intra = (
        np.linalg.norm(ya - ya.mean(0), axis=1).mean()
        + np.linalg.norm(yb - yb.mean(0), axis=1).mean()
    )
    inter = np.linalg.norm(ya.mean(0) - yb.mean(0))
    assert inter > intra, (inter, intra)
    Y2 = ml.tsne_driver(df, perplexity=10.0)
    assert np.allclose(Y, Y2)


def test_pca_explained_variance(ep1):
    _, ratios = ml.pca_project(ep1.train.select("doc_id", "features"), k=2)
    assert len(ratios) == 2
    assert ratios[0] >= ratios[1] >= 0
    assert sum(ratios) <= 1.0 + 1e-9


def test_quality_classifier_separates_planted_classes(spark):
    from pyspark.sql import functions as F

    from week5_datingnlp_big_data_spark.operators import ml as mlops

    good_vocab = "informative well written prose with careful structure and clarity"
    bad_vocab = "zzz spam spam buy now click here zzz winner prize xxx"
    pos = spark.createDataFrame(
        [(i, f"{good_vocab} item {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(100 + i, f"{bad_vocab} offer {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    model = mlops.train_quality_classifier(pos, neg)
    # held-out docs from each vocabulary, plus an empty doc (skipped)
    test = spark.createDataFrame(
        [
            (1000, "careful informative prose written with clarity"),
            (1001, "click here now winner spam zzz prize"),
            (1002, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["p_quality"] for r in
           mlops.quality_classifier_scores(model, test).collect()}
    assert set(out) == {1000, 1001}
    assert out[1000] > 0.8 > 0.2 > out[1001]
