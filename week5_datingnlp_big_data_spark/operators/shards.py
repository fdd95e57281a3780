"""Deterministic global shuffle + training-shard layout.

The last step of a pretraining-data pipeline: break any ordering the
upstream operators imposed (crawl order, dedup-component order, source
grouping — all of which correlate adjacent training batches) and write
the corpus as N equal-ish shards whose membership and internal order are
a pure function of (id, seed). Two runs of the pipeline — on different
cluster sizes, partition layouts, or engines — produce byte-identical
shard membership, which is what makes training jobs resumable and
ablations comparable.

Scale shape: shard assignment is one codegen'd hash expression (no
shuffle); writing clusters by the shard column with ONE hash-partition
exchange sized to the shard count, then a partition-local sort on the
within-shard key — no global sort, no driver state, no skew (md5 is
uniform regardless of id distribution).

No analog in the reference (a single-process R script needs no sharded
layout); north-star training-data surface. The md5-bucket idiom matches
operators/corpus.py:mixture_sample so both are oracle-twinned the same
way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import has_content


def assign_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
) -> DataFrame:
    """Add ``shard`` (0..n_shards-1) and ``shard_key`` columns, both pure
    functions of (seed, id): shard is the first 56 bits of
    ``md5(seed:id)`` mod n_shards; shard_key is the remaining hex, the
    deterministic within-shard sort key (a seeded global shuffle — no
    RNG, no partition-order dependence)."""
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(h, 1, 14), 16, 10).cast("long") % n_shards
    ).cast("int")
    return df.withColumns({"shard": shard, "shard_key": F.substring(h, 15, 18)})


def shard_stats(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "shard",
) -> DataFrame:
    """Per-shard balance audit: document count, total whitespace tokens,
    and the id range landing in each shard. The numbers to watch at
    100 TB: ``n_docs`` spread across shards should be tight (md5 is
    uniform — a skewed spread means a broken id column, e.g. nulls), and
    ``n_tokens`` spread bounds how unevenly training files will be
    sized."""
    toks = F.size(
        F.filter(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), "\\s+"),
            lambda w: F.length(w) > 0,
        )
    )
    return (
        assign_shards(docs, n_shards, id_col=id_col, seed=seed)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks).alias("n_tokens"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
    fmt: str = "parquet",
) -> None:
    """Materialize the sharded layout: ``path/shard=K/`` directories,
    each holding one file whose row order is the deterministic
    ``shard_key`` order. One exchange (hash on shard, n_shards tasks) +
    one partition-local sort; ``partitionBy`` keeps the shard id in the
    directory name so a training loader can open shard K by path without
    reading footers."""
    (
        assign_shards(docs, n_shards, id_col=id_col, seed=seed)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shard_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(path)
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "shard",
) -> DataFrame:
    """Delivery-integrity manifest for a sharded training export: one row
    per shard with row count, token total, id range, and a CONTENT
    CHECKSUM — the xor-fold of every row's sha2(content) — so a consumer
    can re-derive the manifest from delivered files and verify nothing
    was dropped, duplicated, or reordered-across-shards in transit.

    The checksum is ORDER-INSENSITIVE by construction (xor is commutative
    and associative), which makes it a pure function of each shard's row
    SET — exactly what integrity needs, because within-shard file order
    is a layout detail. xor-fold of 60-bit digest prefixes: collisions
    need ~2^30 adversarial rows per shard; for pipeline-accident
    detection (the threat model here) that is ample. Computed with ONE
    hash shuffle on the shard id, the same exchange the writer uses."""
    assigned = assign_shards(docs, n_shards, id_col=id_col, seed=seed)
    digest = F.conv(
        F.substring(F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256), 1, 15),
        16,
        10,
    ).cast("long")
    words = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), "\\s+")
    n_tokens = F.when(has_content(text_col), F.size(words)).otherwise(F.lit(0))
    return (
        assigned.select(
            "shard", F.col(id_col), digest.alias("_d"), n_tokens.alias("_t")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_t").cast("bigint").alias("n_tokens"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
            F.bit_xor("_d").alias("content_xor"),
        )
    )


def shard_manifest_merge(*manifests: DataFrame) -> DataFrame:
    """Combine the manifests of disjoint corpus SLICES into the manifest
    of their union — every field is mergeable by construction (counts and
    token totals sum, id ranges min/max, xor checksums xor), so a
    delivery split across N export jobs needs no joint pass over the
    data: merge the N manifests and compare against the consumer's
    re-derivation. The same property makes the manifest maintainable
    incrementally under appends (xor in each new batch's fold)."""
    from functools import reduce

    u = reduce(DataFrame.unionByName, manifests)
    return u.groupBy("shard").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("min_id").alias("min_id"),
        F.max("max_id").alias("max_id"),
        F.bit_xor("content_xor").alias("content_xor"),
    )


def inference_batch_plan(
    docs: DataFrame,
    batch_token_budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "ibatch",
) -> DataFrame:
    """Length-bucketed dynamic batching plan — the serving-side layout
    step: group documents of similar token length into batches so the
    padded cost (batch_size x max_len) stays close to the useful cost
    (sum of lengths). Batching by raw arrival order wastes most of the
    accelerator on padding whenever long and short sequences mix; every
    inference/training stack with variable-length inputs does a version
    of this (bucketed batching in Fairseq/T5, "sorted batching" in
    serving runtimes).

    Deterministic relational formulation (no global sort, no driver
    state):
      - length bucket = bit_length(n_tokens) - 1 (≡ floor(log2), but
        computed on the INTEGER binary representation: floor(log2(2^k))
        can land on either side of k depending on the engine's libm,
        so the float form is not oracle-safe) — a pure per-row
        expression, so no quantile pass over the corpus is needed and
        the bucket boundaries do not drift as the corpus grows;
      - within a bucket, docs order by md5(seed:id) (layout/run/engine
        invariant, same idiom as assign_shards);
      - batch index = floor(running-token-sum-before / budget) — the
        concat-and-split rule over the bucketed stream. A batch may
        overrun the budget by at most one document; lengths within a
        bucket differ by < 2x, so padding waste is bounded.

    Output: one row per batch —
    ``(len_bucket, batch_idx, n_docs, max_len, sum_len, padding_frac)``
    where padding_frac = 1 - sum_len / (n_docs * max_len), rounded 6dp.

    Scale shape: one scan computes lengths; ONE hash exchange on the
    bucket key feeds the running-sum window (buckets are size-balanced
    by the log2 cut at corpus scale — no corpus-sized single partition);
    the rollup reuses the same partitioning. Empty docs (0 tokens) are
    excluded — they have no serving cost.
    """
    from pyspark.sql import Window

    from week5_datingnlp_big_data_spark.operators.textstats import token_count_ws

    lens = docs.select(
        F.col(id_col),
        token_count_ws(text_col).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    bucket = (
        F.length(F.conv(F.col("n_tokens").cast("string"), 10, 2)) - 1
    ).cast("int")
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy("len_bucket")
        .orderBy("order_key", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = (
        lens.select(
            F.col(id_col),
            F.col("n_tokens"),
            bucket.alias("len_bucket"),
            key.alias("order_key"),
        )
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        # integer DIV, not float /: a float quotient one ulp above an
        # integer boundary would split batches differently per engine
        .withColumn(
            "batch_idx", F.expr(f"cum_before DIV {int(batch_token_budget)}")
        )
    )
    return (
        assigned.groupBy("len_bucket", "batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").cast("bigint").alias("sum_len"),
        )
        .withColumn(
            "padding_frac",
            F.round(
                F.lit(1.0) - F.col("sum_len") / (F.col("n_docs") * F.col("max_len")),
                6,
            ),
        )
    )
