"""ML pipeline stages: vectorization, stratified split, decision tree,
confusion matrix, k-means with restarts, PCA, t-SNE escape hatch.

Reference section 2.8 (Week5_datingNLP.R:137–188, 301–326):
  M1 stratified 70/30 split (caret createDataPartition, seed 32984)
  M3 rpart decision tree (cp=.02) → splits on stems guy/girl/danc
  M5 class prediction, A6 confusion matrix (golden acc ≈ 64.2 %)
  M6 kmeans(nstart=50) for k ∈ {2,3,4,10}
  M8 prcomp(center, scale) PCA
  M7 Rtsne — no distributed analog; driver-side hook, documented

MLlib semantics differ from caret/rpart (sampling vs exact partition,
minInfoGain vs cp-pruning), so tests assert *invariants* — proportions,
accuracy bands, monotone k-means cost — never exact trees (SURVEY.md
section 5). The feature representation is the SparseVector view produced
by a CountVectorizerModel over each doc's rows of the trimmed long-form DFM
(EP-1); the reference's 6.17 GB dense-matrix blowup (W2) has no analog here.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import DecisionTreeClassifier
from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.feature import PCA, StandardScaler, StringIndexer
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import has_content


def vectorize_with_vocabulary(
    tokenized: DataFrame,
    vocabulary: list[str],
    tokens_col: str = "tokens",
    features_col: str = "features",
) -> DataFrame:
    """SparseVector view against a KNOWN vocabulary
    (``CountVectorizerModel.from_vocabulary`` — no fit pass). Tokens
    outside the vocabulary contribute nothing to the transform, so the
    input token arrays need no pre-restriction: this replaces the
    explode → semi-join → re-collect rebuild AND the fit scan when the
    trimmed vocabulary already exists (EP-1's DFM trim). The vocabulary
    rides in the model exactly as a fitted CountVectorizer's would — a
    broadcast dictionary, not a plan literal."""
    from pyspark.ml.feature import CountVectorizerModel

    model = CountVectorizerModel.from_vocabulary(
        vocabulary, inputCol=tokens_col, outputCol=features_col
    )
    return model.transform(tokenized)


def label_proportions(df: DataFrame, label_col: str = "label") -> DataFrame:
    """A4 — prop.table(table(Label)) (R:152–153): per-class share."""
    w = Window.partitionBy()
    return (
        df.groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("prop", F.col("n") / F.sum("n").over(w))
    )


def stratified_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_fraction: float = 0.7,
    seed: int = 32984,
) -> tuple[DataFrame, DataFrame]:
    """M1 — 70/30 split with the same rate in every class (caret
    createDataPartition, R:138–142; same seed). Bernoulli sampling rather
    than exact partitioning, so row counts vary ~±1 %; class *proportions*
    are the verified invariant.

    A row is in train iff ``u(seed, id) < train_fraction``, where ``u`` is
    the first 13 hex digits of ``md5(seed:id)`` read as a fraction of
    ``16^13`` — uniform on [0, 1) and a pure function of the id and the
    seed (the bucket idiom of ``dedup.leakage_safe_split``). Unlike
    ``rand(seed)``, whose draws follow the partition layout, the same seed
    gives the same train ids at any core count or partitioning. One rate
    for every class, so the label never enters the rule: no
    label-collecting job, and NULL-label rows are sampled like any other.
    Test side = anti-join on the id, so the two sides are disjoint and
    exhaustive regardless of sampling, even if a partition is recomputed."""
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    u = F.conv(F.substring(key, 1, 13), 16, 10).cast("double") / float(16**13)
    train = df.filter(u < train_fraction)
    test = df.join(train.select(id_col), id_col, "left_anti")
    return train, test


def train_decision_tree(
    train: DataFrame,
    label_col: str = "label",
    features_col: str = "features",
    max_depth: int = 5,
    min_info_gain: float = 0.0,
    max_bins: int = 16,
    min_instances_per_node: int = 7,
    max_memory_mb: int = 1024,
    seed: int = 32984,
) -> PipelineModel:
    """M3 — CART-style tree (rpart cp=.02 analog, R:178). cp-pruning has no
    exact MLlib equivalent; shallow max_depth + minInfoGain approximate it,
    and ``min_instances_per_node=7`` mirrors rpart's minbucket default.
    Term-count features are tiny integers, so 16 histogram bins lose
    nothing vs MLlib's 32 while halving the per-feature stats each pass;
    the larger ``maxMemoryInMB`` lets more tree nodes train per data pass
    (fewer full scans of a wide DFM). The reference's learned tree splits
    on stems guy/girl/danc with 4 leaves — tests assert top-split
    membership + accuracy band, not structure."""
    indexer = StringIndexer(inputCol=label_col, outputCol="indexed_label")
    dt = DecisionTreeClassifier(
        labelCol="indexed_label", featuresCol=features_col,
        maxDepth=max_depth, minInfoGain=min_info_gain, maxBins=max_bins,
        minInstancesPerNode=min_instances_per_node,
        maxMemoryInMB=max_memory_mb, seed=seed,
    )
    return Pipeline(stages=[indexer, dt]).fit(train)


def predict(model: PipelineModel, test: DataFrame) -> DataFrame:
    """M5 — class prediction (R:186): adds prediction + predicted_label."""
    out = model.transform(test)
    indexer = model.stages[0]
    labels = indexer.labelsArray[0]
    mapping = F.array(*[F.lit(x) for x in labels])
    return out.withColumn(
        "predicted_label", mapping[F.col("prediction").cast("int")]
    )


def confusion_matrix(pred: DataFrame, label_col: str = "label") -> DataFrame:
    """A6 — table(pred, actual) (R:188): long-form confusion counts."""
    return (
        pred.groupBy(F.col("predicted_label").alias("predicted"), F.col(label_col).alias("actual"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("predicted", "actual")
    )


def accuracy(pred: DataFrame, label_col: str = "label") -> float:
    agg = pred.agg(
        F.sum((F.col("predicted_label") == F.col(label_col)).cast("long")).alias("hit"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return agg["hit"] / agg["n"] if agg["n"] else 0.0


def top_features(model: PipelineModel, vocabulary: list[str], k: int = 10) -> list[tuple[str, float]]:
    """M3 companion — the tree's most important features mapped back to
    vocabulary terms (the reference inspects its tree's split stems
    guy/girl/danc via rpart.plot; this is the engine's programmatic
    equivalent). Returns [(term, importance)] sorted descending."""
    dt = model.stages[-1]
    imp = dt.featureImportances
    pairs = [
        (vocabulary[i] if i < len(vocabulary) else f"f{i}", float(v))
        for i, v in zip(imp.indices, imp.values)
    ]
    return sorted(pairs, key=lambda p: (-p[1], p[0]))[:k]


def cross_validate_tree(
    train: DataFrame,
    label_col: str = "label",
    features_col: str = "features",
    num_folds: int = 3,
    max_depths: tuple[int, ...] = (3, 5),
    seed: int = 32984,
):
    """M2 — k-fold CV over tree depth (reference declares repeatedcv
    10×3 via caret but never wires it into training — R:158–166 builds
    ``cv.cntrl`` and rpart ignores it; SURVEY.md section 2.8. We provide
    the *working* version: MLlib CrossValidator; repeats = re-call with a
    different seed). Returns (best PipelineModel, avg metrics per grid
    point)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    indexer = StringIndexer(inputCol=label_col, outputCol="indexed_label")
    dt = DecisionTreeClassifier(
        labelCol="indexed_label", featuresCol=features_col, seed=seed
    )
    pipe = Pipeline(stages=[indexer, dt])
    grid = ParamGridBuilder().addGrid(dt.maxDepth, list(max_depths)).build()
    evaluator = MulticlassClassificationEvaluator(
        labelCol="indexed_label", predictionCol="prediction", metricName="accuracy"
    )
    cv = CrossValidator(
        estimator=pipe, estimatorParamMaps=grid, evaluator=evaluator,
        numFolds=num_folds, seed=seed, parallelism=4,
    )
    model = cv.fit(train)
    return model.bestModel, list(model.avgMetrics)


def kmeans_restarts(
    df: DataFrame,
    k: int,
    features_col: str = "features",
    nstart: int = 5,
    seed: int = 42,
) -> tuple[KMeansModel, float]:
    """M6 — kmeans with restarts (R's nstart=50, R:301–313). MLlib's
    k-means‖ init is far stronger than R's random init, so a handful of
    restarts suffices; we keep the min-cost loop for semantic parity.
    Returns (best model, best cost). The input should be cached by the
    caller when nstart > 1."""
    best_model, best_cost = None, float("inf")
    for i in range(nstart):
        m = KMeans(k=k, seed=seed + i, featuresCol=features_col).fit(df)
        cost = m.summary.trainingCost
        if cost < best_cost:
            best_model, best_cost = m, cost
    return best_model, best_cost


def pca_project(
    df: DataFrame,
    k: int = 2,
    features_col: str = "features",
    out_col: str = "pca_features",
) -> tuple[DataFrame, list[float]]:
    """M8 — prcomp(center=TRUE, scale=TRUE) (R:325): standardize then PCA.
    Returns (projected df, explained-variance ratios)."""
    scaler = StandardScaler(
        inputCol=features_col, outputCol="_scaled", withMean=True, withStd=True
    )
    pca = PCA(k=k, inputCol="_scaled", outputCol=out_col)
    model = Pipeline(stages=[scaler, pca]).fit(df)
    out = model.transform(df).drop("_scaled")
    return out, list(model.stages[1].explainedVariance)


def tsne_driver(
    df: DataFrame,
    features_col: str = "features",
    max_rows: int = 100_000,
    perplexity: float = 30.0,
    seed: int = 42,
):
    """M7 — t-SNE has no distributed implementation (SURVEY.md section 2.8
    M7; reference Rtsne call R:319): this is the documented
    collect-to-driver escape hatch. Uses scikit-learn's Barnes-Hut TSNE
    when available; otherwise falls back to the bundled exact NumPy
    implementation (operators/tsne.py — O(N²), so the fallback enforces a
    tighter row cap). Returns an (n, 2) ndarray."""
    import numpy as np

    n = df.count()
    if n > max_rows:
        raise ValueError(f"t-SNE escape hatch capped at {max_rows} rows; got {n}")
    vals = df.select(features_col).toPandas()[features_col]
    X = np.array([v.toArray() if hasattr(v, "toArray") else np.asarray(v) for v in vals])
    try:
        from sklearn.manifold import TSNE

        return TSNE(
            n_components=2, random_state=seed,
            perplexity=min(perplexity, max((n - 1) / 3.0, 1.01)),
        ).fit_transform(X)
    except ImportError:
        pass
    exact_cap = 5_000
    if n > exact_cap:
        raise ValueError(
            f"exact t-SNE fallback capped at {exact_cap} rows (O(N²)); got {n}. "
            "Sample/aggregate on the Spark side first."
        )
    from week5_datingnlp_big_data_spark.operators.tsne import tsne_exact

    return tsne_exact(X, n_components=2, perplexity=perplexity, seed=seed)


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str = "text",
    *,
    num_features: int = 1 << 18,
    reg_param: float = 0.01,
    spill_dir: str | None = None,
) -> PipelineModel:
    """FastText-style model-based quality filter (the GPT-3 / LLaMA
    pretraining recipe: train a linear classifier to recognize text that
    resembles a high-quality reference corpus, then score the crawl and
    keep the high-scoring tail). Linear model over hashed unigram counts:

    - ``HashingTF`` — NO vocabulary collect, no fitted dictionary; the
      feature space is a fixed hash range, so featurization is a pure
      map at any corpus size (the 100 TB-safe choice vs CountVectorizer).
    - ``LogisticRegression`` — MLlib's distributed L-BFGS; the model is
      one dense coefficient vector (num_features floats) on the driver.

    Tokenization is the cheap whitespace split, matching the LM scorers:
    quality classification wants surface text statistics, not the
    stemmed/stopworded NLP pipeline.

    The fitted model is round-tripped through a save/load before being
    returned, which drops the LR training summary. The summary holds a
    reference to the SparkSession (and through it the non-serializable
    ObservationManager), so a model carrying it can fail task-closure
    serialization when ``transform`` runs — the roundtrip leaves only
    the coefficient vector in the scoring closure. ``spill_dir`` must be
    a shared filesystem path when training on a real cluster (the model
    parquet is written by executors); the default temp dir is correct
    for local mode.
    """
    import shutil
    import tempfile

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, Tokenizer

    labeled = positive.select(
        F.col(text_col).alias("text"), F.lit(1.0).alias("label")
    ).unionByName(
        negative.select(F.col(text_col).alias("text"), F.lit(0.0).alias("label"))
    )
    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol="text", outputCol="_words"),
            HashingTF(inputCol="_words", outputCol="features", numFeatures=num_features),
            LogisticRegression(regParam=reg_param, maxIter=25),
        ]
    )
    model = pipe.fit(
        labeled.filter(has_content("text"))
    )
    path = spill_dir or tempfile.mkdtemp(prefix="quality-clf-")
    try:
        model.write().overwrite().save(path)
        return PipelineModel.load(path)
    finally:
        if spill_dir is None:
            shutil.rmtree(path, ignore_errors=True)


def quality_classifier_scores(
    model: PipelineModel,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a trained quality classifier: P(high-quality)
    per doc, rounded for cross-run stability. Pure transform — scoring is
    a map over the corpus, no shuffle, no driver collect."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(
        docs.select(F.col(id_col), F.col(text_col).alias("text")).filter(
            has_content("text")
        )
    )
    return scored.select(
        id_col,
        F.round(vector_to_array("probability")[1], 6).alias("p_quality"),
    )


def cluster_plot_data(
    vecs: DataFrame,
    k: int,
    id_col: str = "vec_id",
    features_col: str = "features",
    nstart: int = 2,
    seed: int = 42,
) -> DataFrame:
    """S5 (data layer) — the chart-ready table behind the reference's
    cluster plots (fviz_cluster, Week5_datingNLP.R:302-314): per point,
    the first two center+scale principal components and the k-means
    cluster assignment. fviz_cluster itself plots exactly this — PCA dims
    1-2 colored by cluster — so writing this table (sinks.write_plot_data)
    is the engine-side contract; rendering stays in a notebook layer, as
    SURVEY section 2.1 scopes. Cluster ids are re-ranked by descending
    size (ties by raw id) so the output is invariant to MLlib's arbitrary
    cluster numbering; coordinates round to 6 dp.

    Scale shape: the projection is a distributed transform; only the 2-D
    plot table ever narrows, and even that stays a DataFrame for the
    sink — a 100 TB corpus plots via this table's own downstream
    aggregation/sampling, never a driver collect here."""
    from pyspark.ml.functions import vector_to_array

    cached = vecs.cache()
    model, _cost = kmeans_restarts(cached, k, features_col, nstart, seed)
    assigned = model.transform(cached)
    projected, _ratios = pca_project(assigned, k=2, features_col=features_col)
    sizes = assigned.groupBy("prediction").agg(F.count(F.lit(1)).alias("_n"))
    rank_w = Window.orderBy(F.desc("_n"), F.asc("prediction"))
    rank = sizes.select("prediction", F.row_number().over(rank_w).alias("cluster"))
    pcs = vector_to_array(F.col("pca_features"))
    return (
        projected.join(F.broadcast(rank), "prediction")
        .select(
            F.col(id_col),
            F.round(pcs[0], 6).alias("pc1"),
            F.round(pcs[1], 6).alias("pc2"),
            "cluster",
        )
    )


# ----------------------------------------------------------------------
# Multinomial Naive Bayes in pure DataFrame algebra — the engine's first
# HASH-EQUAL classifier. MLlib's tree (above) is invariant-pinned because
# its sampling/pruning semantics are library-internal; NB's math is three
# aggregations, so the whole train→predict→confusion path can be
# bit-identical across engines when the log-likelihoods are quantized to
# integers (floor(ln(p)·1e9) int64 — the graph.py/unigram.py trick):
# scores become pure int64 sums, immune to float partial-sum order, and
# the DuckDB twin reproduces them exactly (both engines call the same
# libm ln on the same IEEE division of exact integer counts).
# ----------------------------------------------------------------------

NB_SCALE = 10**9


class NBModel(NamedTuple):
    """Sparse multinomial-NB model (optimization r9). The dense
    ``(label, term, llr)`` table of earlier rounds carried V·C rows —
    every (class, vocab-term) pair, almost all of them holding the same
    per-class smoothing constant ``floor(ln(1/(total_c+V))·1e9)``. The
    sparse form stores only what varies:

    * ``observed``: ``(label, term, llr, delta)`` for the OBSERVED
      (class, term) training pairs only — ``llr`` is the identical
      int64 ``floor(ln((cnt+1)/(total_c+V))·1e9)`` and
      ``delta = llr − default_c`` its excess over the class default.
    * ``defaults``: ``(label, default)`` — C rows, the exact llr of any
      vocab term unobserved in that class.
    * ``vocab``: ``(term)`` — the training vocabulary. Every vocab term
      has ≥1 observed pair, so ``observed``'s term axis equals it — the
      scorer restricts to in-vocabulary postings through its inner join
      against the observed pairs; vocab stays exported for callers that
      need the bare term axis.

    Scoring reconstructs the dense sum exactly (int64, order-free):
    ``Σ_{t∈d∩V} cnt·llr_tc = default_c·T_d + Σ_observed cnt·delta`` with
    ``T_d = Σ_{t∈d∩V} cnt`` — so model-side rows shrink from V·C to the
    observed pairs while every score stays bit-identical.
    """

    observed: DataFrame
    defaults: DataFrame
    vocab: DataFrame


def naive_bayes_model(
    train: DataFrame,
    label_col: str = "label",
    tokens_col: str = "tokens",
) -> tuple[NBModel, DataFrame]:
    """Train multinomial NB with add-one smoothing over the training
    vocabulary. Returns ``(model, priors)``:

    * ``model``: sparse :class:`NBModel` — observed (class, term) pairs
      with int64 ``llr = floor(ln((cnt+1)/(total_c+V)) · 1e9)`` plus the
      per-class default for unobserved vocab terms (exact NB, not an
      inner-join approximation; the dense V·C reconstruction is
      ``observed ∪ {default_c for every other vocab term}``).
    * ``priors``: ``(label, prior)`` with ``prior = floor(ln(n_c/n)·1e9)``.
    """
    tt = train.select(
        F.col(label_col).alias("label"),
        F.explode(tokens_col).alias("term"),
    ).filter(F.length("term") > 0)
    counts = tt.groupBy("label", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vocab = counts.select("term").distinct()
    # V as a one-row countDistinct over counts — same value as
    # vocab.agg(count), one subtree level less in every dependent plan
    v_size = counts.agg(F.countDistinct("term").alias("v"))
    class_tot = counts.groupBy("label").agg(F.sum("cnt").alias("total"))
    # (label, total, v, default): C rows — broadcastable at any scale
    class_stats = class_tot.crossJoin(F.broadcast(v_size)).select(
        "label",
        "total",
        "v",
        F.floor(F.log(F.lit(1.0) / (F.col("total") + F.col("v"))) * NB_SCALE)
        .cast("long")
        .alias("default"),
    )
    observed = (
        counts.join(F.broadcast(class_stats), "label")
        .select(
            "label",
            "term",
            F.floor(
                F.log((F.col("cnt") + 1) / (F.col("total") + F.col("v")))
                * NB_SCALE
            )
            .cast("long")
            .alias("llr"),
            "default",
        )
        .select(
            "label",
            "term",
            "llr",
            (F.col("llr") - F.col("default")).alias("delta"),
        )
    )
    defaults = class_stats.select("label", "default")
    n_docs = train.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_c")
    )
    total_docs = n_docs.agg(F.sum("n_c").alias("n"))
    priors = n_docs.crossJoin(F.broadcast(total_docs)).select(
        "label",
        F.floor(F.log(F.col("n_c") / F.col("n")) * NB_SCALE)
        .cast("long")
        .alias("prior"),
    )
    return NBModel(observed, defaults, vocab), priors


def naive_bayes_score(
    test: DataFrame,
    model: NBModel,
    priors: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """The full NB score table: one row per (doc, class) with
    ``score(d, c) = prior_c + Σ_t cnt_dt · llr_tc`` over the test doc's
    in-vocabulary terms (OOV terms ignored — standard multinomial NB at
    inference). All int64 arithmetic in 1e-9 log units. A doc with no
    in-vocabulary term keeps its priors-only rows rather than
    disappearing (priors ride a docs × classes attach, classes being a
    broadcastable handful). This is the surface the evaluation metrics
    (operators/evalx.py) consume — margins, AUC, calibration all derive
    from it; ``naive_bayes_predict`` is its argmax.

    Sparse attach (optimization r9): instead of joining every test
    posting against the dense V·C model (each in-vocab term row fanning
    out C ways), the posting joins only the OBSERVED (term, class)
    pairs, and the per-class default is applied in bulk through the
    in-vocabulary token total ``T_d``:

        score = prior_c + default_c·T_d + Σ_observed cnt·(llr − default_c)

    — an exact int64 rearrangement of the dense sum (every unobserved
    pair's llr IS default_c), so the scores are bit-identical while the
    model side of the heavy join shrinks from V·C rows to the observed
    pairs and the per-posting fan-out from C to the handful of classes
    the term actually occurred in.

    Returns ``(id, label, score)``.
    """
    counts = (
        test.select(F.col(id_col), F.explode(tokens_col).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # one row per vocab term carrying its observed classes' deltas as a
    # map (every vocab term has ≥1 observed pair, so the inner join IS
    # the in-vocabulary restriction — no separate vocab semi-join, one
    # term-keyed join instead of two), PLUS a sentinel entry worth 1 per
    # token: its per-doc sum IS T_d, so one aggregation produces the
    # delta sums and the token total together — no separate T_d pass, no
    # second attach join. The sentinel key is NUL, so a NUL label would
    # collide with it: the projection fails fast with a named error
    # (inside this plan, no extra job) rather than as a map_concat
    # duplicate-key error. Map entry order follows the nondeterministic
    # collect_list, which only permutes int64 additions.
    sent = "\x00"
    label = F.when(
        F.col("label") == sent,
        F.raise_error(F.lit("naive_bayes_score: a class label equals the NUL sentinel")),
    ).otherwise(F.col("label"))
    term_info = model.observed.groupBy("term").agg(
        F.map_concat(
            F.create_map(F.lit(sent), F.lit(1).cast("long")),
            F.map_from_entries(F.collect_list(F.struct(label.alias("label"), "delta"))),
        ).alias("_dmap")
    )
    g = (
        counts.join(term_info, "term")
        .select(F.col(id_col), "cnt", F.explode("_dmap").alias("_k", "_v"))
        .groupBy(id_col, "_k")
        .agg(F.sum(F.col("cnt") * F.col("_v")).alias("_s"))
    )
    # per-doc pack: ≤ C+1 entries per doc (classes observed in the doc's
    # terms + the sentinel) — bounded by the label set, never the corpus
    per_doc = g.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("_k", "_s"))).alias("_m")
    )
    # (label, prior, default): C rows — one broadcast attach
    pd_ = priors.join(F.broadcast(model.defaults), "label")
    base = test.select(id_col).distinct().crossJoin(F.broadcast(pd_))
    # try_element_at: NULL (not ANSI error) for docs with no in-vocab
    # terms (NULL map) and classes absent from the doc's map
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "label",
        (
            F.col("prior")
            + F.col("default")
            * F.coalesce(F.try_element_at("_m", F.lit(sent)), F.lit(0))
            + F.coalesce(
                F.try_element_at("_m", F.col("label")), F.lit(0)
            )
        ).alias("score"),
    )


def naive_bayes_predict(
    test: DataFrame,
    model: NBModel,
    priors: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Score and classify: argmax over ``naive_bayes_score``'s int64
    class scores; ties break on the lexically smallest label, so the
    prediction is a pure function of the row set.

    Returns ``(id, predicted, score)`` — score in 1e-9 log units.
    """
    scored = naive_bayes_score(test, model, priors, id_col, tokens_col)
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("label"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col("label").alias("predicted"), "score")
    )


def hashed_features(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    signed: bool = True,
) -> DataFrame:
    """Feature hashing (Weinberger et al. 2009, "Feature Hashing for
    Large Scale Multitask Learning"): long-form hashed term counts
    ``(id, bucket, val)`` with ``bucket = md5(term) % n_buckets`` and,
    when ``signed``, the collision-debiasing sign ``±1`` from an
    independent md5 bit — the fixed-width vectorizer that needs NO vocab
    pass (the property that matters at 100 TB: one scan, no global
    dictionary, no second job). md5-derived (seedless) so the mapping is
    reproducible across engines and runs; zero-valued buckets (signed
    collisions cancelling) are kept so the output is a pure function of
    the token multiset."""
    terms = docs.select(
        F.col(id_col), F.explode(tokens_col).alias("term")
    ).filter(F.length("term") > 0)
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 14), 16, 10).cast("long")
        % n_buckets
    )
    if signed:
        sign = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("sign:"), F.col("term"))), 1, 2),
                16, 10,
            ).cast("long")
            % 2
        ) * 2 - 1
    else:
        sign = F.lit(1)
    return (
        terms.select(
            F.col(id_col), bucket.alias("bucket"), sign.alias("_s")
        )
        .groupBy(id_col, "bucket")
        .agg(F.sum("_s").alias("val"))
    )
