"""Mergeable-sketch analytics: HLL distinct counts and quantile sketches.

The 100 TB pattern these demonstrate: a sketch is a small, MERGEABLE
partial aggregate — each partition (or source, or day) builds its own,
and any grouping rolls up by merging sketches WITHOUT rescanning data.
That is how a trillion-row pipeline answers "distinct documents per
source AND overall" in one pass, and how per-shard quantiles combine
into global ones. Spark 4 ships Apache DataSketches HLL natively
(``hll_sketch_agg`` / ``hll_union_agg``); quantiles use
``approx_percentile`` (KLL-style bounded-memory summary).

Estimates are deterministic for a given dataset (register updates are
commutative max operations, so partitioning/order don't change the
result) — safe for the driver's rerun-stability contract — but
algorithm-specific, so there is no DuckDB hash-match: rows-only at the
driver + tolerance tests against exact answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def source_distinct_hll(
    docs: DataFrame,
    key_col: str = "text",
    group_col: str = "source",
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-content estimate per source PLUS a merged '__all__' row:
    one scan builds per-source HLL sketches over the content hash; the
    global row is a sketch MERGE of the per-source sketches (hll_union_agg
    over already-built sketches — no second scan). Output:
    ``(source, n_docs, est_distinct)``."""
    hashed = docs.select(
        F.col(group_col).alias("source"), F.sha2(F.coalesce(F.col(key_col), F.lit("")), 256).alias("h")
    )
    per_source = hashed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.hll_sketch_agg("h", F.lit(lg_k)).alias("sk"),
    )
    # Roll-up WITHOUT rescanning: merge the per-source sketches.
    merged = per_source.agg(
        F.lit("__all__").alias("source"),
        F.sum("n_docs").alias("n_docs"),
        F.hll_union_agg("sk").alias("sk"),
    )
    return (
        per_source.unionByName(merged)
        .select(
            "source",
            "n_docs",
            F.hll_sketch_estimate("sk").alias("est_distinct"),
        )
    )


def profile_table(df: DataFrame, approx: bool = True) -> DataFrame:
    """One-pass data profiling: per column — null count/fraction,
    distinct count, lexicographic-as-string min/max. The ingest sanity
    check a training pipeline runs before anything else (null spikes,
    cardinality collapses, range drift).

    ``approx=True`` (the scale path) uses HLL for distincts so the whole
    profile is ONE aggregate pass with mergeable state per column;
    ``approx=False`` is exact (Spark plans multi-distinct via expand —
    fine at audit scale, the deterministic choice for the oracle twin).
    Output: (column, n_rows, n_nulls, null_frac, n_distinct, min_value,
    max_value) — min/max cast to string so one schema fits all column
    types."""
    cols = df.columns
    distinct = (
        (lambda c: F.approx_count_distinct(c)) if approx else (lambda c: F.countDistinct(c))
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nulls_{c}"),
            distinct(c).alias(f"_dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_nulls_{c}").alias("n_nulls"),
                F.round(F.col(f"_nulls_{c}") / F.greatest(F.col("_n"), F.lit(1)), 6).alias(
                    "null_frac"
                ),
                F.col(f"_dist_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


def value_quantile_sketch(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group approximate quantiles of a numeric column via Spark's
    bounded-memory percentile summary (mergeable across partitions — the
    per-executor summaries combine exactly like the HLL sketches above).
    Output: ``(group, n, q50, q90, q99)``-style columns, rounded to 6dp
    for rerun stability."""
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.round(
            F.approx_percentile(F.col(value_col), F.lit(q), F.lit(accuracy)), 6
        ).alias(f"q{int(q * 100)}")
        for q in quantiles
    ]
    return events.groupBy(F.col(group_col).alias("grp")).agg(*aggs)


# Count-Min parameters are operator knobs, not data-dependent: the sketch
# table is exactly depth × width cells regardless of corpus size.
CMS_PRIME = 2147483647  # 2^31 − 1, same Mersenne modulus as the MinHash family


def _cms_cells(depth: int, width: int):
    """Per-token (row, bucket) cells via a Kirsch-Mitzenmacher md5 double
    hash reduced mod width — shared by build and probe so they cannot
    drift; mirrored in the registry's DuckDB twin."""
    digest = F.md5("tok")
    p = F.lit(CMS_PRIME)
    h1 = F.conv(F.substring(digest, 1, 14), 16, 10).cast("long") % p
    h2 = F.conv(F.substring(digest, 17, 14), 16, 10).cast("long") % p
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(depth - 1)),
            lambda r: F.struct(
                r.cast("int").alias("row"),
                ((h1 + r * h2) % width).cast("int").alias("bucket"),
            ),
        )
    )


def tokenize_whitespace(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One (tok) row per token occurrence — the cheap lowercase whitespace
    tokenization the shingle/span family uses."""
    words = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), "\\s+"),
        lambda w: F.length(w) > 0,
    )
    return docs.select(F.explode(words).alias("tok"))


def countmin_from_tokens(tokens: DataFrame, depth: int = 4, width: int = 256) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of a token stream
    as a TABLE of counters: (row, bucket, c), ≤ depth×width rows.

    Each of the ``depth`` hash rows buckets a token by an md5 double hash
    mod ``width``; a token's estimate is the MIN of its cells across rows
    and NEVER undercounts (est ≥ true; overcounting only from collisions —
    the one-sided error that makes CMS safe for heavy-hitter screens and
    frequency caps). Like the Bloom filter and HLL here, the sketch is
    MERGEABLE — two slices' tables combine by summing cells — so per-day
    token-frequency state for a crawl is a depth×width grid, not a
    vocabulary-sized table. And because the hashing is md5-derived (no
    seeds), the sketch — unlike HLL — is bit-identical in the DuckDB
    oracle, so the driver value-verifies every cell path end to end.
    One explode + one groupBy on (row, bucket): uniform keys, map-side
    partial sums, tiny shuffle."""
    return (
        tokens.select(_cms_cells(depth, width).alias("cell"))
        .groupBy(F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate_from_sketch(
    sketch: DataFrame,
    probe_tokens: DataFrame,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Estimate frequencies for a (tok) probe table against a built
    sketch: (tok, cms_est). The sketch side is a bounded broadcast
    (≤ depth×width rows, a fixed parameter); absent cells are zero
    counters. est = min over rows of the token's cell."""
    probes = probe_tokens.select("tok", _cms_cells(depth, width).alias("cell")).select(
        "tok", F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )


def kmv_sketch(
    pairs: DataFrame,
    key_col: str = "key",
    group_col: str = "source",
    k: int = 256,
) -> DataFrame:
    """K-minimum-values sketch (Bar-Yossef et al. 2002) per group: the k
    smallest md5-derived hash values over the group's DISTINCT keys, as a
    k-row table ``(source, key, h)`` per group.

    Unlike HLL, a KMV sketch keeps the sample MEMBERS, so two sketches
    support set operations: ``kmv_group_overlap`` estimates pairwise
    Jaccard between groups from their sketches alone — the
    which-crawls-overlap question a multi-source training mix asks —
    without ever joining the full key sets. And because the hash is
    md5-derived (seedless), the sketch is bit-identical in the DuckDB
    oracle: the driver value-verifies it, which no seeded sampler allows.

    Plan: distinct on (group, key) — one shuffle with map-side partials —
    then a per-group top-k window. The window ranks only each group's
    DISTINCT keys (vocabulary-sized, not corpus-sized); ties broken by
    key so reruns and engines agree. Sketch size is k rows per group —
    bounded state no matter the corpus size."""
    hashed = pairs.select(
        F.col(group_col).alias("source"), F.col(key_col).alias("key")
    ).distinct().select(
        "source",
        "key",
        F.conv(F.substring(F.md5("key"), 1, 14), 16, 10).cast("long").alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "key")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_group_overlap(sketch: DataFrame, k: int = 256) -> DataFrame:
    """Pairwise Jaccard estimates between groups from their KMV sketches:
    ``(source_a, source_b, n_union_k, n_both, est_jaccard)``.

    Estimator (Beyer et al., SIGMOD 2007): take the k smallest hashes of
    the UNION of the two sketches (itself a valid KMV sketch of A∪B —
    closure under union is the whole point of KMV); the fraction of those
    present in BOTH sketches estimates |A∩B|/|A∪B|. When a union has
    fewer than k distinct keys the sketch IS the set and the estimate is
    exact (pinned by a unit test).

    Scale shape: the full-key sets never meet — each pair's work is over
    ≤ 2k sketch rows, and the pair count is #groups², a catalog-sized
    quantity (sources in a training mix number in the tens). One
    groupBy + one window over ≤ 2k rows per pair.

    The sketch feeds FOUR consumers below (both sides of the pair cross
    join and both membership joins); without a persist barrier Catalyst
    inlines the whole build — tokenize, distinct, top-k window — once per
    consumer (measured: 6 full corpus scans in the unpersisted plan).
    The cached relation is k rows per group, the cheapest thing in the
    plan to hold."""
    sketch = sketch.persist()
    srcs = sketch.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .crossJoin(srcs.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    # Membership rows per pair: a sketch row enters every pair its group
    # participates in, flagged by which side it came from.
    a_rows = pairs.join(
        sketch.withColumnRenamed("source", "src_a"), "src_a"
    ).select("src_a", "src_b", "key", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    b_rows = pairs.join(
        sketch.withColumnRenamed("source", "src_b"), "src_b"
    ).select("src_a", "src_b", "key", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    merged = (
        a_rows.unionByName(b_rows)
        .groupBy("src_a", "src_b", "key", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("src_a", "src_b").orderBy("h", "key")
    union_k = merged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return union_k.groupBy(
        F.col("src_a").alias("source_a"), F.col("src_b").alias("source_b")
    ).agg(
        F.count(F.lit(1)).alias("n_union_k"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        F.round(
            F.sum(F.col("in_a") * F.col("in_b")) / F.count(F.lit(1)), 6
        ).alias("est_jaccard"),
    )


def kmv_running_distinct(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """Running (cumulative) distinct-key estimate per day from MERGED
    per-day KMV sketches — the incremental-reporting shape: each day's
    ingest builds a bounded k-row sketch once, and "distinct users up to
    day d" for EVERY d comes from merging sketches, never from
    rescanning history. KMV's union-closure (Beyer et al., SIGMOD 2007)
    is what makes the merge valid: the k smallest hashes of a union of
    sketches form a KMV sketch of the union of the underlying sets.

    Estimator: with hashes uniform on [0, 2^56) (14 md5 hex chars), a
    full sketch estimates (k−1)·2^56 / h_(k); a sketch with fewer than
    k hashes IS the distinct set, so the estimate is exact there. The
    output carries ``true_distinct`` (distinct hashes seen so far —
    exact modulo md5 collisions) purely as the audit column the
    accuracy tests pin; a production rollup drops it.

    Deterministic end to end (seedless md5, ties impossible after the
    per-day hash distinct), so the DuckDB oracle value-matches it —
    unlike HLL/approx_percentile, whose estimates are
    implementation-defined.

    Scale shape: one distinct over (day, hash) — the only corpus-sized
    shuffle — then a per-day top-k window over day-local distinct
    hashes. The merge self-join runs over the SKETCH table (#days × k
    rows, kilobytes at any corpus size); Spark plans it as a broadcast
    range join whose cost is calendar-sized, not data-sized."""
    hashed = daily_key_hashes(events, ts_col=ts_col, key_col=key_col)
    w_day = Window.partitionBy("day").orderBy("h")
    daily = (
        hashed.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= k)
        .select("day", "h")
    )
    est_df = running_estimate_from_daily(daily, k)
    first_day = hashed.groupBy("h").agg(F.min("day").alias("fday"))
    true_running = (
        hashed.select("day").distinct().alias("d")
        .join(first_day.alias("f"), F.col("f.fday") <= F.col("d.day"))
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count(F.lit(1)).alias("true_distinct"))
    )
    return (
        est_df.join(true_running, "day")
        .select(
            "day",
            "n_sketch",
            "est_distinct",
            "true_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("true_distinct"))
                / F.col("true_distinct"),
                6,
            ).alias("rel_err"),
        )
    )


def daily_key_hashes(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    distinct: bool = True,
) -> DataFrame:
    """``(day, h)`` rows — the shared front end of the batch and
    streaming KMV paths: seedless md5-derived 56-bit hashes so any
    engine/run/layout (and the DuckDB oracle) agrees bit-for-bit.
    ``distinct=False`` for streaming callers: a pre-aggregation here
    would be a second stateful operator ahead of the sketch state, and
    the sketch's set-union update dedups anyway."""
    hashed = events.filter(
        F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 14), 16, 10)
        .cast("long")
        .alias("h"),
    )
    return hashed.distinct() if distinct else hashed


def running_estimate_from_daily(daily: DataFrame, k: int) -> DataFrame:
    """The KMV MERGE step, shared by batch and streaming: given per-day
    partial sketches as ``(day, h)`` rows (≤ k smallest distinct hashes
    per day), produce ``(day, n_sketch, est_distinct)`` running
    union-cardinality estimates for every day. The join runs over the
    SKETCH table (#days × k rows), so its cost is calendar-sized — the
    whole point of keeping partials mergeable."""
    hspace = float(1 << 56)
    w_day = Window.partitionBy("day").orderBy("h")
    # rename the probe side so the self-derived join resolves by NAME,
    # not by dataset alias — `days` shares lineage with `daily`, and
    # shared attribute ids make string aliases ambiguous
    days = daily.select(F.col("day").alias("_qday")).distinct()
    merged = (
        days.join(daily, F.col("day") <= F.col("_qday"))
        .select(F.col("_qday").alias("day"), "h")
        .distinct()
    )
    topk = (
        merged.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= k)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("hk"))
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise(F.round(F.lit(float(k - 1) * hspace) / F.col("hk"), 6))
    return topk.select("day", "n_sketch", est.alias("est_distinct"))
