"""End-to-end training-data preparation pipeline: the north-star
composition (SURVEY.md section 2.10) — what a 100 TB corpus actually goes
through before tokenization for training.

    raw documents
      → language filter          (scan-speed marker heuristic)
      → quality filter           (composite score threshold)
      → exact dedup              (content-hash, keep min-id)
      → near dedup               (MinHash-LSH + exact Jaccard, drop the
                                  higher id of each surviving pair)
      → per-doc token counts + corpus stats

Every stage is a lazy DataFrame transform; one action materializes the
whole cascade. Stage order is cost-ordered: cheap per-row filters first
(shrink the corpus at scan speed), the shuffling dedup stages last.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import has_content
from week5_datingnlp_big_data_spark.operators import dedup, textstats


@dataclass
class DataPipeResult:
    clean: DataFrame           # surviving documents + quality columns
    stats: DataFrame           # one-row corpus summary
    n_input: int
    n_after_lang: int
    n_after_quality: int
    n_after_exact: int
    n_after_near: int


def prepare_corpus(
    docs: DataFrame,
    *,
    keep_langs: tuple[str, ...] | None = None,
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataPipeResult:
    """Run the full preparation cascade.

    The per-stage funnel is collected with the ``Observation`` API: the
    row counts ride along the one final materialization instead of
    costing one action per stage — at 100 TB the difference between
    reading the corpus once and reading it four times."""
    from pyspark.sql import Observation

    obs: dict[str, Observation] = {}

    def observe(df: DataFrame, name: str) -> DataFrame:
        obs[name] = Observation(name)
        return df.observe(obs[name], F.count(F.lit(1)).alias("n"))

    docs = observe(docs, "input")

    # 1. language filter — predicted language, not the (possibly wrong)
    # metadata column.
    step = docs.withColumn("pred_lang", textstats.lang_id(text_col))
    if keep_langs is not None:
        step = step.filter(F.col("pred_lang").isin(list(keep_langs)))
    step = observe(step, "lang")

    # 2. quality filter
    scored = textstats.quality_score(step, text_col)
    good = observe(scored.filter(F.col("quality") >= min_quality), "quality").cache()

    # 3. exact dedup — keep the min-id representative of each content hash
    reps = dedup.exact_dedup(good, text_col, id_col).select(id_col)
    exact = observe(good.join(reps, id_col, "left_semi"), "exact").cache()

    # 4. near dedup — drop the higher id of each verified near-dup pair
    pairs = dedup.jaccard_near_dups(
        exact, text_col, id_col, threshold=near_dup_threshold
    )
    drop_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    clean = exact.join(drop_ids, id_col, "left_anti").cache()
    n_near = clean.count()   # the single materializing action

    # 5. token counts + corpus stats
    clean = clean.withColumn("n_tokens", textstats.token_count_ws(text_col))
    stats = clean.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )
    return DataPipeResult(
        clean=clean,
        stats=stats,
        n_input=obs["input"].get["n"],
        n_after_lang=obs["lang"].get["n"],
        n_after_quality=obs["quality"].get["n"],
        n_after_exact=obs["exact"].get["n"],
        n_after_near=n_near,
    )


def near_dup_keep_best(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware representative selection for near-dup clusters:
    instead of keeping the min-id member (``near_dup_components``'
    ``is_representative`` flag — the convention exact dedup uses), keep
    the member with the HIGHEST quality score, tie-broken by min id. A
    real crawl cleans this way: among near-copies of a page you keep the
    cleanest extraction, not the one that happened to be crawled first.

    Output: one row per clustered doc — (doc_id, component, quality,
    keep). Singletons (docs in no verified near-dup pair) are not listed,
    same domain as ``near_dup_components``.

    Scale shape: composes the banded-LSH component labeling with the
    scan-speed quality score; the two extra aggregates (per-component max
    quality, then min-id among the maxima) shuffle on the component key —
    component count ≪ doc count, bounded by the pair graph. No driver
    materialization beyond the component fixpoint's convergence probe.
    """
    comps = dedup.near_dup_components(docs, threshold=threshold).select(
        id_col, "component"
    )
    quality = textstats.quality_score(docs, text_col).select(id_col, "quality")
    scored = comps.join(quality, id_col).persist()
    mx = scored.groupBy("component").agg(F.max("quality").alias("_max_q"))
    best = (
        scored.join(mx, "component")
        .filter(F.col("quality") == F.col("_max_q"))
        .groupBy("component")
        .agg(F.min(id_col).alias("_best_id"))
    )
    return (
        scored.join(best, "component")
        .select(
            id_col,
            "component",
            "quality",
            (F.col(id_col) == F.col("_best_id")).alias("keep"),
        )
    )


@dataclass
class DataPipeV2Result:
    clean: DataFrame            # survivors with kept_words after substr dedup
    n_input: int
    n_after_gopher: int
    n_after_dedup_min_len: int
    kept_tokens: int


def prepare_corpus_v2(
    docs: DataFrame,
    *,
    substr_min_len: int = 8,
    min_kept_words: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataPipeV2Result:
    """Second-generation prep cascade, composing the round-7 operators:

        raw documents
          → Gopher document-quality rules   (Rae et al. 2021, scan-speed)
          → ExactSubstr duplicate-span removal (Lee et al. 2021) with a
            C4-style minimum-length cut on what SURVIVES dedup
          → surviving-token budget

    Ordering is cost-ordered like v1 (prepare_corpus): the per-row Gopher
    conjunction shrinks the corpus at scan speed BEFORE the shuffling
    sliding-gram dedup runs, so the gram explode — the expensive stage —
    only sees quality documents. The minimum-length cut re-checks length
    AFTER span removal (a doc that was mostly boilerplate dies here even
    though its raw length passed Gopher), which is the C4 ordering.

    The survivors frame is persisted once and feeds both the span join
    and the funnel counts; span stats join back LEFT so span-free docs
    keep their full token count. Funnel scalars are single JVM-side
    aggregates (bounded driver values, same contract as prepare_corpus).
    """
    from week5_datingnlp_big_data_spark.operators import filters

    n_input = docs.count()
    keep_ids = (
        filters.gopher_quality_flags(docs, text_col, id_col)
        .filter(F.col("keep"))
        .select(id_col)
    )
    surv = docs.join(keep_ids, id_col).persist()
    n_gopher = surv.count()

    spans = dedup.exact_substr_spans(
        surv, text_col=text_col, id_col=id_col, min_len=substr_min_len
    ).select(id_col, "n_dup_tokens")
    words = F.split(F.trim(F.col(text_col)), "\\s+")
    base = surv.select(
        F.col(id_col),
        F.when(
            has_content(text_col),
            F.size(words),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_words"),
    )
    clean = (
        base.join(spans, id_col, "left")
        .select(
            F.col(id_col),
            (F.col("n_words") - F.coalesce(F.col("n_dup_tokens"), F.lit(0))).alias(
                "kept_words"
            ),
        )
        .filter(F.col("kept_words") >= min_kept_words)
        .persist()
    )
    row = clean.agg(
        F.count(F.lit(1)).alias("n"), F.sum("kept_words").alias("toks")
    ).collect()[0]
    return DataPipeV2Result(
        clean=clean,
        n_input=n_input,
        n_after_gopher=n_gopher,
        n_after_dedup_min_len=row["n"],
        kept_tokens=int(row["toks"] or 0),
    )


def source_quality_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source corpus health report — the rollup a data-curation team
    watches per ingest batch: document counts, empty-document counts,
    token volume, mean heuristic quality, and the exact-duplicate rate
    (docs whose full content appears more than once ANYWHERE in the
    corpus, attributed to each source that carries a copy).

    Cross-engine float discipline: mean quality is computed from INTEGER
    micro-units (each per-doc quality is already rounded to 6dp, so
    quality*1e6 snaps to an exact bigint) — the only float ops are the
    two final divisions, identical on both engines. The dup rate is one
    division of two ints.

    Scale shape: one scan computes quality/token features; the dup
    multiplicity is ONE window over the content hash (same exchange the
    exact-dedup family uses — at 100 TB this is the standard sha-keyed
    shuffle); the rollup is a small groupBy(source). No joins back to
    the corpus, no collect.

    Output: one row per source —
    ``(source, n_docs, n_empty, total_tokens, mean_quality, n_dup_docs,
    dup_rate)``.
    """
    from pyspark.sql import Window

    s = F.coalesce(F.col(text_col), F.lit(""))
    scored = textstats.quality_score(docs, text_col).select(
        "source",
        "quality",
        textstats.token_count_ws(text_col).alias("_toks"),
        (F.length(F.trim(s)) == 0).cast("int").alias("_empty"),
        F.count(F.lit(1))
        .over(Window.partitionBy(F.md5(s)))
        .alias("_copies"),
    )
    q6 = F.round(F.col("quality") * 1e6).cast("bigint")
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_empty").alias("n_empty"),
            F.sum("_toks").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(q6) / F.count(q6) / F.lit(1e6),
                6,
            ).alias("mean_quality"),
            F.sum((F.col("_copies") > 1).cast("int")).alias("n_dup_docs"),
        )
        .withColumn(
            "dup_rate",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 6),
        )
    )


def source_quality_drift(
    docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Population-stability-index drift cells: for every source, compare
    its quality-score distribution against the REST of the corpus over
    ten fixed deciles — the standard data-drift alarm (PSI) a curation
    team runs per ingest batch to catch a source whose character shifted
    (new crawler, new spam wave, template change).

    PSI(source) = Σ_bins (p'_b − q'_b) · ln(p'_b / q'_b), with add-α
    smoothing so empty bins stay finite. Following the
    lang_source_contingency discipline, the operator emits ONE ROW PER
    (source, bin) with its contribution — a summed statistic would be a
    10-term float sum whose addition order differs across engines; each
    cell is instead a deterministic chain of integer-derived divisions,
    one ln, one multiply, one round. Consumers sum the 10 cells (or
    filter on per-cell contributions directly, which localizes WHERE the
    drift lives — the reason monitoring dashboards keep the cells).

    Bins: ``least(floor(quality * 10), 9)`` — quality is already rounded
    to 6dp, and the float multiply is bit-identical on both engines, so
    the binning is oracle-exact. NULL-quality docs (NULL text) are
    excluded. Bins a source never hits still emit rows (PSI needs the
    full support): the dense (source × bin) grid comes from a small
    cross join of the distinct sources with a literal 0-9 range.

    Scale shape: one scan bins the corpus; one groupBy(source, bin)
    aggregate; the dense grid + corpus bin totals are tiny broadcast
    sides. Output: ``(source, bin, n_source, n_rest, p_src, p_rest,
    contribution)``.
    """
    counts = quality_bin_counts(docs, text_col)
    return drift_cells_from_counts(counts, alpha=alpha)


def quality_bin_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Sparse per-(source, quality-decile) histogram ``(source, bin,
    n_sb)`` — the MERGEABLE state behind the PSI drift report (counts
    sum across corpus slices / micro-batches). NULL-quality docs are
    excluded; bins are the bit-identical ``least(floor(q*10), 9)`` cut."""
    scored = textstats.quality_score(docs, text_col).filter(
        F.col("quality").isNotNull()
    )
    binned = scored.select(
        "source",
        F.least(F.floor(F.col("quality") * 10), F.lit(9)).cast("int").alias("bin"),
    )
    return binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("n_sb"))


def drift_cells_from_counts(counts: DataFrame, alpha: float = 0.5) -> DataFrame:
    """PSI cells from an accumulated ``(source, bin, n_sb)`` histogram —
    the pure (and tiny: sources x 10 rows) tail of source_quality_drift,
    shared with the streaming accumulator so the final streamed state
    yields EXACTLY the batch report.

    ``counts`` feeds FOUR consumers (dense grid, bin totals, source
    totals, grand total) — persisted once so the upstream corpus scan
    (the expensive part when counts comes straight off documents) runs
    once, not four times."""
    counts = counts.persist()
    spark = counts.sparkSession
    bins = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    grid = counts.select("source").distinct().crossJoin(F.broadcast(bins))
    dense = grid.join(counts, ["source", "bin"], "left").fillna(0, ["n_sb"])
    bin_tot = counts.groupBy("bin").agg(F.sum("n_sb").cast("bigint").alias("n_b"))
    src_tot = counts.groupBy("source").agg(
        F.sum("n_sb").cast("bigint").alias("n_s")
    )
    n_all = counts.agg(F.sum("n_sb").cast("bigint").alias("n_all"))
    cells = (
        dense.join(F.broadcast(bin_tot), "bin", "left")
        .fillna(0, ["n_b"])
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(n_all))
    )
    a = F.lit(alpha)
    p_src = (F.col("n_sb") + a) / (F.col("n_s") + 10 * a)
    p_rest = (F.col("n_b") - F.col("n_sb") + a) / (
        F.col("n_all") - F.col("n_s") + 10 * a
    )
    return cells.select(
        "source",
        "bin",
        F.col("n_sb").alias("n_source"),
        (F.col("n_b") - F.col("n_sb")).alias("n_rest"),
        F.round(p_src, 6).alias("p_src"),
        F.round(p_rest, 6).alias("p_rest"),
        F.round((p_src - p_rest) * F.log(p_src / p_rest), 6).alias("contribution"),
    )
