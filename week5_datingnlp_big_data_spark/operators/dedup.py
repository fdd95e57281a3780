"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its corpus is pre-deduped); this is the engine's
extension surface (SURVEY.md section 2.10) and a first-class component for
the 100 TB target:

  exact_dedup        — content-hash groupBy; one shuffle on a 64-hex key
  word_shingles      — distinct word n-gram sets (the MinHash input)
  minhash_signatures — k md5-derived min-hashes per doc, banded for LSH
  lsh_candidate_pairs— docs sharing a band bucket (the scale path: the
                       cross-join never happens; only bucket-mates meet)
  jaccard_near_dups  — candidate pairs verified by exact n-gram Jaccard
  simhash64          — 64-bit SimHash per doc (Hamming-ball near-dup)
  MinHashLSH (MLlib) — approxSimilarityJoin variant for vector pipelines

Every near-dup method is a blocking key plus a score (the candidate →
verify split REPOSE, ICDE 2021, uses): ``bucket_pairs`` is the one
candidate self-join (MinHash bands, rare shingles, winnowing
fingerprints, Hamming blocks, symbol groups, and similarity.py's
hyperplane signatures and k-means cells), ``jaccard_verified`` the one
exact-Jaccard verify. ExactSubstr's two operators share
``_sliding_gram_table`` and ``_dup_islands``.

Determinism: every hash is md5- or polynomial-derived (no JVM/Python hash
seeds), so the whole MinHash pipeline is reproducible AND expressible in
ANSI SQL — the DuckDB oracle runs the identical algorithm. The MinHash
family is Kirsch-Mitzenmacher double hashing (one md5 per shingle, two
56-bit halves, h_i = h1 + i·h2); the winnowing k-gram hash is a Horner
polynomial over char codes — both pure integer arithmetic both engines
evaluate bit-identically.

Scale notes: signatures are one narrow row per doc (k × 8-byte longs).
The LSH self-join shuffles on (band_idx, band_key) whose cardinality is
~n_docs × n_bands with near-uniform md5 distribution — no hot keys. Exact
Jaccard verification touches only candidate pairs, not the n² cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import has_content
from week5_datingnlp_big_data_spark.operators.graph import driver_escape
from week5_datingnlp_big_data_spark.session import cut, release, spread

# Winnowing k-gram hash: Horner polynomial over ASCII char codes. Both
# constants are mirrored in the DuckDB oracle SQL (registry.py); change
# them together or parity breaks.
WINNOW_HASH_BASE = 257
WINNOW_HASH_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_PRIME = 2147483647  # 2^31 - 1 — KM family modulus (see minhash_signatures)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the min-id representative per identical content.
    ``sha2(text)`` groups byte-identical docs; one shuffle on the digest."""
    h = F.sha2(F.col(text_col), 256).alias("content_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams of the whitespace-split text (the MinHash
    shingle set). Built-ins only: split → sliding concat via transform
    over an index sequence."""
    col = F.col(c) if isinstance(c, str) else c
    words = F.split(F.lower(col), "\\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))
    )
    return F.array_distinct(
        F.when(F.size(words) >= n, grams).otherwise(F.array(F.concat_ws(" ", words)))
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """k min-hashes per doc via Kirsch-Mitzenmacher double hashing:
    ONE md5 per shingle yields two independent 56-bit halves (h1, h2);
    the family is h_i = (h1 + i·h2) mod p (the standard two-hash
    construction — same LSH guarantees as k independent hashes at 1/k the
    hashing cost, which dominates the whole MinHash pipeline at corpus
    scale). Output: (doc_id, mh0..mh{k-1}) as BIGINT.

    The mod-p reduction (p = 2^31−1, Mersenne) is what makes the family
    members behave independently: without it, h1 + i·h2 is ordered by h2
    alone for large i, so the high bands pick correlated argmin shingles
    and banded-LSH candidate recall degrades. h1/h2 are first reduced into
    [0, p), so h1 + 11·h2 < 2^36 — no BIGINT overflow on either engine,
    and the arithmetic is bit-identical in Spark and the DuckDB twin.

    One explode + one groupBy(doc_id) — the k mins are computed as k
    aggregate columns in a single pass (map-side partial min, tiny
    shuffle)."""
    # Contentless docs (NULL/whitespace-only) have no shingles to compare;
    # they belong to exact dedup, not near-dup candidacy.
    nonempty = docs.filter(has_content(text_col))
    digest = F.md5("shingle")
    p = F.lit(MINHASH_PRIME)
    shingled = spread(nonempty).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
    ).select(
        id_col,
        (F.conv(F.substring(digest, 1, 14), 16, 10).cast("long") % p).alias("_h1"),
        (F.conv(F.substring(digest, 17, 14), 16, 10).cast("long") % p).alias("_h2"),
    )
    aggs = [
        F.min((F.col("_h1") + i * F.col("_h2")) % p).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def band_table(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    num_bands: int = 4,
) -> DataFrame:
    """Exploded LSH band table (id, band_idx, band_key) from a signature
    frame — the joinable (and persistable) form of the banding: the batch
    path self-joins it (lsh_candidate_pairs); the incremental path joins a
    new batch's bands against the accumulated history's
    (streaming/counts.py:streaming_minhash_near_dups)."""
    rows_per_band = num_hashes // num_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_key"),
            )
            for b in range(num_bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(bands).alias("band")
    ).select(id_col, "band.band_idx", "band.band_key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    num_bands: int = 4,
) -> DataFrame:
    """Band the signature (rows_per_band = k/bands) and self-join on
    (band_idx, band_key): docs agreeing on ALL hashes of any band become a
    candidate pair. Returns distinct (id_a < id_b) pairs.

    The n² cross join is replaced by a bucket join whose per-bucket size is
    the collision count — at 100 TB this is THE reason MinHash/LSH scales."""
    banded = band_table(signatures, id_col, num_hashes, num_bands)
    return bucket_pairs(banded, ["band_idx", "band_key"], id_col).distinct()


def bucket_pairs(
    blocked: DataFrame, keys: list[str], id_col: str, **scores: Column
) -> DataFrame:
    """The candidate step of every near-dup self-join: pair the rows of
    ``blocked`` that agree on all of ``keys``, each pair once
    (``a.{id_col} < b.{id_col}``). Returns ``(id_a, id_b, *scores)``;
    each score is a Column written against the ``a``/``b`` aliases, e.g.
    ``F.col("a.v")``. A bucket's cost is its collision count; the n²
    cross join never runs. Callers add their own distinct, pair count
    and threshold, so each plan keeps its shape."""
    a, b = blocked.alias("a"), blocked.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    return a.join(b, [*on, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[c.alias(name) for name, c in scores.items()],
    )


def jaccard_similarity(docs_a: Column, docs_b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over two shingle-array columns."""
    inter = F.size(F.array_intersect(docs_a, docs_b))
    union = F.size(F.array_union(docs_a, docs_b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard_verified(
    cands: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    threshold: float,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """The verify step: join each side's ``(id, shingles)`` frame onto the
    candidate pairs ``cands`` (keyed ``a`` and ``b``) and keep the pairs
    whose exact Jaccard, rounded to 6 places, is ≥ ``threshold``.
    Returns ``(a, b, jaccard)``."""
    return (
        cands.join(sh_a.toDF(a, "sh_a"), a)
        .join(sh_b.toDF(b, "sh_b"), b)
        .withColumn("jaccard", F.round(jaccard_similarity(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def jaccard_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 12,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact n-gram Jaccard ≥ threshold.
    Returns (id_a, id_b, jaccard). Only candidate pairs are verified —
    the verification join broadcasts shingle arrays per pair, never n².

    Materialization barriers (profiled at sf0.1, where the signature
    aggregation dominates the whole pipeline):
    - ``sigs`` is persisted: the band self-join consumes it on BOTH sides
      and Spark does not reuse the exchange across them, so unpersisted it
      recomputes the entire shingle+md5+12-min aggregation twice (measured
      2.6s vs 0.8s for the candidate stage).
    - ``cands`` is persisted: it feeds the candidate-id semi-join AND the
      verify join.
    - verify shingling runs only over docs that appear in some candidate
      pair (semi-join on the id set) — at corpus scale the candidate set
      is orders of magnitude smaller than the corpus, so re-shingling
      everything for the verify joins would dwarf the verification
      itself."""
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n).persist()
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, num_bands).persist()
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Persisted: consumed by BOTH verify joins (sh_a / sh_b) — unpersisted,
    # each side re-scans the corpus and re-runs the semi-join + shingling.
    sh = docs.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    ).persist()
    return jaccard_verified(cands, sh, sh, threshold)


def cross_corpus_near_dups(
    base: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 12,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dups of a NEW batch against an EXISTING corpus — the
    production shape for continuously crawled data: nobody re-deduplicates
    100 TB per ingest; the day's batch is banded and joined against the
    accumulated corpus bands. Same Kirsch-Mitzenmacher MinHash + banded
    LSH + exact-Jaccard verify as jaccard_near_dups, but the candidate
    join is batch x base (asymmetric — no self pairs, no `<` tiebreak,
    and at scale the batch side is tiny relative to the corpus so AQE
    broadcasts it into the band join). streaming_minhash_near_dups
    (streaming/counts.py) accumulates the same band table as stream state.

    Returns ``(batch_id, base_id, jaccard)`` with jaccard >= threshold.
    """
    sig_batch = minhash_signatures(batch, text_col, id_col, num_hashes, shingle_n)
    sig_base = minhash_signatures(base, text_col, id_col, num_hashes, shingle_n)
    bb = band_table(sig_base, id_col, num_hashes, num_bands)
    nb = band_table(sig_batch, id_col, num_hashes, num_bands)
    cands = (
        nb.alias("n")
        .join(
            bb.alias("b"),
            (F.col("n.band_idx") == F.col("b.band_idx"))
            & (F.col("n.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("batch_id"),
            F.col(f"b.{id_col}").alias("base_id"),
        )
        .distinct()
        .persist()  # feeds both semi-joins and the verify join
    )

    def shingled(side: DataFrame, key: str) -> DataFrame:
        # verify shingling runs only over the side's candidate docs
        ids = cands.select(F.col(key).alias(id_col))
        return side.join(ids, id_col, "left_semi").select(
            F.col(id_col), word_shingles(text_col, shingle_n)
        )

    return jaccard_verified(
        cands, shingled(batch, "batch_id"), shingled(base, "base_id"),
        threshold, "batch_id", "base_id",
    )


def batch_novelty(
    base: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 12,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-batch-document novelty against the existing corpus: how many
    base documents each batch document near-duplicates, and the is_novel
    flag an ingest pipeline filters on (novel = no base near-dup; the
    non-novel rows are the ingest's discard set). Contentless batch docs
    have no shingles, so they count as novel here — exact dedup owns them.
    """
    dups = cross_corpus_near_dups(
        base, batch, text_col, id_col, threshold, num_hashes, num_bands, shingle_n
    )
    per = dups.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n_base_dups"))
    return (
        batch.select(id_col)
        .join(per, F.col(id_col) == F.col("batch_id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("n_base_dups"), F.lit(0).cast("bigint")).alias(
                "n_base_dups"
            ),
            (F.coalesce(F.col("n_base_dups"), F.lit(0)) == 0).alias("is_novel"),
        )
    )


def dup_cluster_sizes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Duplicate-cluster size histogram over the MinHash components, plus
    the singleton row (docs in no cluster, from two scalar counts): for
    each cluster size, how many clusters and how many documents. The
    post-dedup mass summary (Lee et al. 2021 report this distribution).
    Histogram cardinality is bounded by the largest cluster, not the
    corpus; components are >= 2 nodes so the singleton row never
    collides."""
    comp = near_dup_components(docs, text_col=text_col, id_col=id_col,
                               threshold=threshold)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("bigint")
        )
    )
    singles = (
        docs.agg(F.count(F.lit(1)).alias("t"))
        .crossJoin(F.broadcast(comp.agg(F.count(F.lit(1)).alias("d"))))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("t") - F.col("d")).alias("n_clusters"),
            (F.col("t") - F.col("d")).alias("n_docs"),
        )
    )
    return hist.unionByName(singles)


def ngram_jaccard_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_shingle_docfreq: int = 20,
) -> DataFrame:
    """Direct n-gram-Jaccard near-dups WITHOUT MinHash: candidate pairs are
    docs sharing at least one *rare* shingle (doc-freq ≤
    ``max_shingle_docfreq``), then exact Jaccard ≥ ``threshold`` verifies.

    Versus the MinHash path (``jaccard_near_dups``): no signature pass and
    exact blocking recall on rare-shingle overlap, at the cost of a bigger
    candidate set when docs share many rare shingles. The doc-freq cap is
    the scale control — it bounds each shingle's join bucket to ≤ cap docs,
    so the self-join emits ≤ cap² pairs per shingle (never n²), and drops
    boilerplate shingles the same way winnowing drops ubiquitous
    fingerprints.

    Before the expensive array-intersection verify, candidates pass a
    PPJoin-style overlap upper bound (Xiao et al., WWW 2008 family): the
    pair aggregate already knows rare∩ (shared rare shingles), and every
    other shared shingle must be frequent, so
    |A∩B| ≤ rare∩ + min(freq_A, freq_B); Jaccard ≥ t needs
    |A∩B| ≥ t/(1+t)·(|A|+|B|). On natural text most shingles are rare,
    the bound is tight, and the verify set shrinks ~50x (measured
    1.12M → ~20k pairs at sf0.1). Output: (id_a, id_b, jaccard)."""
    sh = (
        spread(docs)
        .filter(has_content(text_col))
        .select(F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles"))
        .persist()  # feeds the blocking explode AND both verify sides
    )
    exploded = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    # Anti-join away the FREQUENT set (Zipf head). No broadcast hint: the
    # frequent side is data-dependent — with a fixed doc-freq cap over a
    # trillion-token Zipf corpus, hundreds of millions of shingle types
    # can clear the threshold, so forcing a broadcast risks OOM. AQE
    # converts to broadcast at runtime when the measured size is small
    # (the sf0.1 case) and keeps a shuffle join when it is not.
    frequent = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("sh_df"))
        .filter(F.col("sh_df") > max_shingle_docfreq)
        .select("shingle")
    )
    # Persist barrier: the rare-shingle table feeds BOTH sides of the
    # pair self-join (and the per-doc rare counts) — without it the
    # explode + frequent-aggregate + anti-join subtree executes once per
    # consumer (measured ~2x on the whole query at sf0.1).
    blocked = exploded.join(frequent, "shingle", "left_anti").persist()
    # Per-doc size accounting for the overlap bound: freq_n = shingles
    # that were blocked away as frequent (all of a pair's shared shingles
    # beyond rare∩ must come from these).
    sizes = (
        sh.select(F.col(id_col), F.size("shingles").alias("n_sh"))
        .join(
            blocked.groupBy(id_col).agg(F.count(F.lit(1)).alias("rare_n")),
            id_col,
            "left",
        )
        .select(
            F.col(id_col),
            "n_sh",
            (F.col("n_sh") - F.coalesce(F.col("rare_n"), F.lit(0))).alias("freq_n"),
        )
    )
    cands = (
        bucket_pairs(blocked, ["shingle"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("rare_int"))
    )
    pruned = (
        cands.join(
            sizes.select(
                F.col(id_col).alias("id_a"),
                F.col("n_sh").alias("n_a"),
                F.col("freq_n").alias("f_a"),
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("id_b"),
                F.col("n_sh").alias("n_b"),
                F.col("freq_n").alias("f_b"),
            ),
            "id_b",
        )
        # |A∩B| ≤ rare_int + min(f_a, f_b); need |A∩B| ≥ t/(1+t)(n_a+n_b)
        .filter(
            F.col("rare_int") + F.least("f_a", "f_b")
            >= F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
        )
        .select("id_a", "id_b")
    )
    return jaccard_verified(pruned, sh, sh, threshold)


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS algorithm): hash every char k-gram of the normalized
    text, slide a window of ``window`` consecutive hashes, keep each
    window's minimum; the distinct mins are the fingerprint set. Guarantees
    any shared substring of length ≥ k + window − 1 yields a shared
    fingerprint.

    K-gram hash = Horner polynomial (base 257 mod 2^31−1) over the char
    codes — pure 64-bit integer arithmetic that both engines evaluate
    bit-identically, and ~5-10× cheaper than the md5-per-offset it
    replaced (one md5 PER CHARACTER of every document dominated the whole
    winnow query). The normalized alphabet is ASCII ([a-z0-9 ]), so
    Spark ``ascii`` and DuckDB ``ord`` agree on every char.

    Pure higher-order functions (sequence → aggregate → slice →
    array_min): JVM-side, shuffle-free, and reproducible in the SQL
    oracle. Output: (doc_id, fingerprints array<bigint>)."""
    # Stage every intermediate as a real column: embedding the normalized
    # string or the hash array inside a later lambda re-evaluates it PER
    # ELEMENT (O(n²) regex per row — measured as a hang on 400-char
    # docs). Multi-use non-trivial aliases are not collapsed by Catalyst,
    # so each stage computes once.
    B, M = WINNOW_HASH_BASE, WINNOW_HASH_MOD
    normed = spread(docs).select(
        F.col(id_col),
        # Positive-class extract + join == trim(replace(runs, " ")) exactly,
        # but skips the JDK negated-class lambda slow path (see text.py).
        F.array_join(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)), " "
        ).alias("_s"),
    )
    hashed = normed.select(
        id_col,
        "_s",
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length("_s") - k, F.lit(0))),
            lambda i: F.aggregate(
                F.sequence(F.lit(1), F.lit(k)),
                F.lit(0).cast("long"),
                lambda acc, j: (acc * B + F.ascii(F.col("_s").substr(i + j, F.lit(1)))) % M,
            ),
        ).alias("_hashes"),
    )
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_hashes") - window, F.lit(0))),
        lambda j: F.array_min(F.slice(F.col("_hashes"), j + 1, window)),
    )
    # Short-text fallback: Horner over the whole string; empty/NULL → 0
    # (guarded identically in the oracle — DuckDB ord('') is -1, Spark
    # ascii('') is 0, so the empty case must never reach the hash).
    whole = F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length("_s"), F.lit(1))),
        F.lit(0).cast("long"),
        lambda acc, j: (acc * B + F.ascii(F.col("_s").substr(j, F.lit(1)))) % M,
    )
    fallback = F.when(F.length("_s") > 0, whole).otherwise(F.lit(0).cast("long"))
    fingerprints = F.when(F.length("_s") >= k, F.array_distinct(mins)).otherwise(
        F.array(fallback)
    )
    return hashed.select(F.col(id_col), fingerprints.alias("fingerprints"))


def winnow_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    max_fp_docfreq: int = 10,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints. Ubiquitous
    fingerprints (doc-freq > ``max_fp_docfreq``) are dropped before the
    self-join — the fingerprint analog of stop-word removal, and the thing
    that keeps the join from exploding on boilerplate shared by every doc.
    Output: (id_a, id_b, shared_fp)."""
    # Persist: (a) the fingerprint subtree feeds three consumers (rare-set
    # agg + both join sides) and would otherwise run 3x; (b) the cache is a
    # hard optimizer barrier — without it Catalyst's project collapsing can
    # inline the O(len) hash-array expression into per-element lambda
    # positions downstream, turning the row cost quadratic (measured: 22 s
    # for 20 docs vs milliseconds with the barrier).
    fp = winnowing_fingerprints(docs, text_col, id_col, k, window).persist()
    exploded = fp.select(F.col(id_col), F.explode("fingerprints").alias("fp"))
    rare = (
        exploded.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("fp_df"))
        .filter(F.col("fp_df") <= max_fp_docfreq)
    )
    # Persist: both sides of the self-join read this (small) filtered set.
    filtered = exploded.join(rare.select("fp"), "fp", "left_semi").persist()
    return (
        bucket_pairs(filtered, ["fp"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc from whitespace tokens: each token votes its
    md5-derived 64-bit pattern; the sign of each bit-position sum forms the
    fingerprint. Pure built-ins: explode tokens → per-bit ±1 votes via
    bitwise ops on the hex-decoded long → groupBy doc.

    Output: (doc_id, simhash BIGINT). Near-dups = small Hamming distance
    (see ``hamming64``)."""
    toks = spread(docs).select(
        F.col(id_col), F.explode(F.split(F.lower(text_col), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    # 64-bit token hash as two 32-bit halves of the md5 hex prefix (each
    # fits a long exactly; no decimal/overflow games).
    toks = toks.withColumn(
        "hi", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    ).withColumn(
        "lo", F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")
    )

    def bit(i: int):
        src = F.col("lo") if i < 32 else F.col("hi")
        return F.shiftrightunsigned(src, i % 32).bitwiseAND(F.lit(1).cast("long"))

    votes = toks.groupBy(id_col).agg(
        *[F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}") for i in range(64)]
    )
    fp = None
    for i in range(64):
        term = F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp.bitwiseOR(term)
    return votes.select(F.col(id_col), fp.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints: popcount(a XOR b)."""
    return F.bit_count(a.bitwiseXOR(b))


def hamming_near_dup_pairs(
    sig: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Generic Hamming-ball pair join for any ≤64-bit fingerprint column:
    block the fingerprint into ``num_blocks`` pieces; by pigeonhole, any
    pair within ``max_hamming < num_blocks`` agrees on ≥1 block, so the
    ``bucket_pairs`` self-join on (block_idx, block_key) finds it; then
    verify Hamming ≤ max_hamming. Shared by SimHash (text) and dHash
    (image) near-dup.

    Output: ``(id_a, id_b, hamming)`` with id_a < id_b."""
    width = 64 // num_blocks
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_idx"),
                F.shiftrightunsigned(F.col(sig_col), i * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("block_key"),
            )
            for i in range(num_blocks)
        ]
    )
    blocked = sig.select(id_col, sig_col, F.explode(blocks).alias("blk")).select(
        id_col, sig_col, "blk.block_idx", "blk.block_key"
    )
    hamming = hamming64(F.col(f"a.{sig_col}"), F.col(f"b.{sig_col}"))
    return (
        bucket_pairs(blocked, ["block_idx", "block_key"], id_col, hamming=hamming)
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def symbol_near_dup_pairs(
    sig: DataFrame,
    syms_col: str,
    n_symbols: int,
    id_col: str = "doc_id",
    max_mismatch: int = 2,
    num_groups: int | None = None,
) -> DataFrame:
    """Near-dup pair join over fixed-length SYMBOL-ARRAY fingerprints
    (any alphabet size): split the array into ``num_groups`` (default
    ``max_mismatch + 1``) contiguous groups, join on
    ``xxhash64(group_idx, group_slice)`` — by pigeonhole, a pair with
    ≤ max_mismatch differing symbols agrees on at least one WHOLE
    group, and a hash collision can only add a candidate (the exact
    verify below removes it), never lose a true pair. The candidates
    come from the ``bucket_pairs`` self-join on (grp, gkey); the exact
    mismatch count is then verified JVM-side with zip_with + aggregate.

    Scale: this is the wide-fingerprint successor of
    ``hamming_near_dup_pairs``'s fixed 16-bit bit-windows. The join
    key hashes a whole group of symbols, so per-group key cardinality
    is alphabet^(n_symbols/num_groups) — e.g. 8^8 ≈ 1.7e7 for the
    audio fingerprint, vs. the old nibble-window's hard 256 cap —
    and candidate pairs stay ~linear in corpus size until the corpus
    approaches the group keyspace. Both knobs (alphabet, array length)
    widen that keyspace exponentially, so the "widen the fingerprint
    before the corpus" rule costs O(1) extra symbols per decade of
    corpus growth.

    Output: ``(id_a, id_b, n_mismatch)`` with id_a < id_b."""
    k = num_groups if num_groups is not None else max_mismatch + 1
    if k <= max_mismatch:
        raise ValueError("pigeonhole needs num_groups > max_mismatch")
    if k > n_symbols:
        raise ValueError("pigeonhole needs num_groups <= n_symbols")
    bounds = [round(i * n_symbols / k) for i in range(k + 1)]
    groups = F.array(
        *[
            F.struct(
                F.lit(g).alias("grp"),
                F.xxhash64(
                    F.lit(g),
                    F.slice(
                        F.col(syms_col), bounds[g] + 1, bounds[g + 1] - bounds[g]
                    ),
                ).alias("gkey"),
            )
            for g in range(k)
        ]
    )
    blocked = sig.select(id_col, syms_col, F.explode(groups).alias("b")).select(
        id_col, syms_col, "b.grp", "b.gkey"
    )
    mism = F.aggregate(
        F.zip_with(
            F.col(f"a.{syms_col}"),
            F.col(f"b.{syms_col}"),
            lambda x, y: F.when(x == y, F.lit(0)).otherwise(F.lit(1)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        bucket_pairs(blocked, ["grp", "gkey"], id_col, n_mismatch=mism)
        .distinct()
        .filter(F.col("n_mismatch") <= max_mismatch)
    )


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: the generic Hamming pigeonhole join over
    ``simhash64`` fingerprints (see ``hamming_near_dup_pairs``)."""
    sig = simhash64(docs, text_col, id_col)
    return hamming_near_dup_pairs(
        sig, "simhash", id_col=id_col, max_hamming=max_hamming, num_blocks=num_blocks
    )


def mllib_minhash_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hash_tables: int = 5,
):
    """MLlib MinHashLSH variant (HashingTF token sets →
    approxSimilarityJoin). Nondeterministic across Spark versions (seeded
    random hash families) → rows-only checked; the md5 pipeline above is
    the oracle-verified path."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    toks = docs.select(
        F.col(id_col), F.array_distinct(F.split(F.lower(text_col), "\\s+")).alias("tokens")
    ).filter(F.size("tokens") > 0)
    tf = HashingTF(inputCol="tokens", outputCol="features", binary=True, numFeatures=1 << 18)
    feat = tf.transform(toks)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = mh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, 1.0 - threshold, distCol="jaccard_dist")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            (1 - F.col("jaccard_dist")).alias("jaccard"),
        )
    )


def _components_py(edge_rows) -> dict:
    """Union-find (path-halving) over a collected edge list — the
    small-graph execution of both connected-components operators.
    Components are a graph invariant and the label contract is "min
    reachable id", so any correct algorithm returns the identical
    (node, component) set."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict = {}
    for v in parent:
        r = find(v)
        m = roots.get(r)
        if m is None or v < m:
            roots[r] = v
    return {v: roots[find(v)] for v in parent}


def _escape_components(edges: DataFrame, threshold: int) -> DataFrame | None:
    """``graph.driver_escape`` for both connected-components operators:
    ``edges`` is their checkpointed two-column edge table."""
    node_type = edges.schema[0].dataType.simpleString()
    return driver_escape(
        edges, edges.count(), threshold,
        lambda rows: sorted(_components_py(rows).items()),
        f"node {node_type}, component {node_type}",
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
    driver_threshold_edges: int = 100_000,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node starts labeled with itself; each
    round a node adopts the minimum label among itself and its neighbors;
    fixpoint = components. Convergence needs O(component diameter) rounds
    — near-dup clusters are shallow (pairs/triples), so a handful.

    This is the cluster-collapse step of a dedup pipeline: group near-dup
    PAIRS into clusters so one representative (the min id) survives.

    Scale: each round is one shuffle join on the node id; the driver only
    reads a 1-row change count per round (no data collect), and each
    round's labels are a ``session.cut`` whose predecessor is released
    once the change probe has read it. For graphs with continent-sized
    components use ``connected_components_star`` (same signature); for
    near-dup graphs the plain propagation is the right cost.

    A graph of at most ``driver_threshold_edges`` undirected edges runs
    union-find on the driver (``graph.driver_escape``): components are a
    graph invariant and the label contract is the min reachable id, so
    the output is the same. 0 forces the distributed path.

    Output: (node, component) — component = min doc id reachable."""
    # NOTE (optimization r9, tried and rejected): symmetrizing via a
    # single-pass explode-into-both-directions instead of this
    # union-of-swapped-selects was measured (matched sessions, controls
    # for drift): near_dup_components went from 26 to 22 jobs but its
    # best wall time from 2.51 s to 3.64 s (controls: host_link_pagerank
    # 1.68→1.67 s, minhash_near_dups 1.47→1.76 s) — the near-dup callers
    # persist the pair table, so the second union arm is a cache read,
    # not a recompute, and the two arms' map sides run in parallel.
    sym = cut(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
    )
    # ``driver_threshold_edges`` is in CANONICAL undirected edges in both
    # CC variants (ADVICE r8): sym holds 2 rows per undirected edge (plus
    # 1 per self-loop), so compare against twice the threshold — the same
    # threshold value engages the escape at the same graph size as
    # connected_components_star. Driver footprint ≤ ~4 ids/threshold-edge.
    small = _escape_components(sym, 2 * driver_threshold_edges)
    if small is not None:
        return small
    labels = cut(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        msgs = sym.join(
            labels, sym.src == labels.node
        ).select(F.col("dst").alias("node"), "component")
        new_labels = cut(
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        release(labels)  # superseded generation
        labels = new_labels
        if changed == 0:
            break
    else:
        # Silent non-convergence would return multiple "components" for
        # one real cluster AND diverge from the oracle's exact fixpoint —
        # fail loudly instead (a component's diameter exceeded max_iter).
        release(sym)
        release(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (diameter of the largest component exceeds it), "
            "or use connected_components_star (O(log²) rounds, any diameter)"
        )
    release(sym)  # labels no longer references sym
    return labels


def connected_components_star(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 30,
    driver_threshold_edges: int = 100_000,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
    "Connected Components in MapReduce and Beyond", SoCC 2014): converges
    in O(log² n) rounds regardless of component DIAMETER, vs the
    O(diameter) rounds of plain min-label propagation. Drop-in for
    ``connected_components`` when the graph can contain deep components
    (boilerplate chains in a 100 TB crawl); same output contract:
    (node, component = min reachable id).

    Edges live canonically as (u = greater endpoint, v = smaller).
    large-star links every strictly-larger neighbor of each center to the
    minimum of the center's closed neighborhood; small-star links each
    center and its smaller neighbors to that minimum. Each operation is
    one groupBy + one join; the fixpoint is a star forest rooted at every
    component's min node. Per round: two shuffles, a ``session.cut`` and
    a 1-row (count, hash-sum) convergence probe. Small graphs take the
    same driver escape as ``connected_components``."""
    e0 = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    cur = cut(
        e0.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    # every node (self-loops were dropped above) is an endpoint of cur,
    # so the driver's union-find covers the full node set
    small = _escape_components(cur, driver_threshold_edges)
    if small is not None:
        return small
    # node axis derived from the materialized canonical edges — the r8
    # build derived it from e0, which re-ran the (possibly expensive)
    # upstream pair-mining plan a second time for the eager checkpoint
    nodes = cut(
        cur.select(F.col("u").alias("node"))
        .union(cur.select(F.col("v").alias("node")))
        .distinct()
    )

    def _checksum(e: DataFrame) -> tuple:
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        # (sum(xxhash64) overflows long). Edge sets differing in an even
        # number of identical rows can't occur here (rows are distinct).
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min(F.least("u", "v")).alias("m"))
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        linked = (
            e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        return linked.union(mins.select("u", F.col("m").alias("v"))).distinct()

    sig = _checksum(cur)
    for _ in range(max_iter):
        cur = cut(_small_star(_large_star(cur)), cur)
        new_sig = _checksum(cur)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        release(cur)
        release(nodes)
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds (expected O(log² n)); the edge set is still contracting"
        )
    star = cur.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("component"))
    return cut(
        nodes.join(star, "node", "left").select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        ),
        cur, nodes,
    )


def near_dup_components(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    **near_dup_kwargs,
) -> DataFrame:
    """Near-dup clusters: MinHash-verified pairs → connected components.
    Output (doc_id, component, is_representative) for every doc in at
    least one near-dup pair; the min-id doc of each cluster is the
    representative a dedup pass would keep."""
    pairs = jaccard_near_dups(docs, text_col, id_col, threshold, **near_dup_kwargs)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias(id_col),
        "component",
        (F.col("node") == F.col("component")).alias("is_representative"),
    )


def ngram_overlap_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Decontamination scan: flag corpus docs sharing any word ``n``-gram
    with a benchmark/eval document — the n-gram collision rule used to
    strip evaluation-set overlap from pretraining corpora (Brown et al.
    2020, "Language Models are Few-Shot Learners", appendix C uses
    13-grams; the n is a knob because sane values depend on doc length).

    Output: (doc_id, overlap_grams) — corpus docs only, one row per
    contaminated doc, with the count of DISTINCT shared n-grams (the
    triage signal: 1 shared gram is a collision, hundreds is a copy).

    Scale shape: both sides explode to distinct per-doc grams
    (``word_shingles`` already dedups within a doc), the benchmark side
    distincts across docs, and the join keys on the gram string. No
    broadcast hint — real eval sets are tiny and AQE will broadcast them
    at runtime, but the operator also accepts a corpus-sized "benchmark"
    (e.g. held-out split vs train split) where a forced broadcast would
    OOM the driver. Short docs (< n words) contribute their whole text as
    one gram, so a short benchmark doc fully contained in the corpus
    still flags."""
    def grams(frame: DataFrame) -> DataFrame:
        return (
            spread(frame)
            .filter(has_content(text_col))
            .select(F.col(id_col), F.explode(word_shingles(text_col, n)).alias("gram"))
        )

    bench_grams = grams(benchmark).select("gram").distinct()
    return (
        grams(docs)
        .join(bench_grams, "gram")
        .groupBy(id_col)
        # per-doc grams are already distinct (word_shingles dedups), so a
        # plain count IS the distinct-shared-gram count — no second
        # distinct shuffle.
        .agg(F.count(F.lit(1)).alias("overlap_grams"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_overlap_grams: int = 0,
) -> DataFrame:
    """Destructive eval-set decontamination: the rewrite companion of
    ``ngram_overlap_flags`` — REMOVE every corpus document sharing more
    than ``max_overlap_grams`` distinct word ``n``-grams with any
    benchmark document (GPT-3's appendix-C rule applied as a cut rather
    than a report; max_overlap_grams=0 is the strict "any collision
    drops the doc" setting, raise it to tolerate incidental short-gram
    collisions on long documents).

    Output: the SURVIVING corpus as ``(doc_id, text_md5)`` — the content
    digest makes the result value-verifiable without shipping text.

    Scale shape: the flag side is the existing gram-collision join
    (benchmark grams distinct'd, no forced broadcast — AQE broadcasts a
    real eval set at runtime); the cut is one left-anti join on the id
    key. The corpus is scanned twice (gram explode + output projection)
    — both scan-speed; a persist barrier would cost more than the second
    columnar scan at any scale."""
    flags = ngram_overlap_flags(docs, benchmark, text_col, id_col, n)
    contaminated = flags.filter(
        F.col("overlap_grams") > max_overlap_grams
    ).select(id_col)
    return (
        docs.join(contaminated, id_col, "left_anti")
        .select(
            F.col(id_col),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("text_md5"),
        )
    )


def span_dup_fractions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
) -> DataFrame:
    """Cross-document span-level dedup signal (C4 / CCNet style): hash
    fixed-size word spans and measure, per document, the fraction of its
    spans that also occur in at least one OTHER document. C4 removes
    three-sentence spans seen more than once in the corpus; CCNet drops
    duplicated paragraphs by hash — this is the same signal over
    fixed-width spans (the corpus has no sentence/paragraph marks), as a
    filterable score rather than a destructive rewrite. Within-doc
    repetition deliberately does NOT flag (that is
    ``textstats.repetition_scores``' domain): a span counts as duplicated
    only when it appears in > 1 *distinct* documents.

    Semantics: words = whitespace split of ``trim(text)``; spans are the
    consecutive non-overlapping ``span_words``-word windows; a trailing
    partial span (< span_words words) is dropped, so docs shorter than
    ``span_words`` words produce no spans and no output row.

    Scale shape: explode to one narrow (doc_id, md5) row per span — ~1/k
    of token volume — then two hash shuffles: the span-frequency groupBy
    on the md5 key (uniform, no hot keys, map-side partial agg) and the
    per-doc rollup. The span table feeds BOTH the frequency aggregate and
    the join-back, so it is persisted — without the barrier Catalyst
    duplicates the scan + split + hash-explode subtree into each side
    (the measured double-tokenize hazard from the word-count plans). The
    frequency side is joined back BY HASH KEY — never broadcast — because
    the duplicated-span dictionary of a 100 TB crawl is itself huge; AQE
    picks the join strategy.
    """
    words = F.split(F.trim(F.col(text_col)), "\\s+")
    n_spans = F.floor(F.size(words) / span_words).cast("int")
    spans = (
        spread(docs)
        .filter(has_content(text_col))
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    # sequence(0, -1) would count DOWN; docs with fewer
                    # than span_words words must yield no spans at all.
                    F.when(n_spans >= 1, F.sequence(F.lit(0), n_spans - 1)).otherwise(
                        F.array().cast("array<int>")
                    ),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(words, i * span_words + 1, span_words))
                    ),
                )
            ).alias("span_hash"),
        )
    ).persist()
    freq = spans.groupBy("span_hash").agg(
        F.count_distinct(F.col(id_col)).alias("n_docs_with_span")
    )
    dup = (F.col("n_docs_with_span") > 1).cast("int")
    return (
        spans.join(freq, "span_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            F.round(F.sum(dup) / F.count(F.lit(1)), 6).alias("dup_span_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup
# ---------------------------------------------------------------------------

# 63 usable bits per BIGINT word: bit 63 is the sign bit, and a set sign
# bit makes the shifted literal negative with engine-specific overflow
# edge cases — positions 0..62 keep every mask positive and bit-identical
# in Spark and DuckDB. Mirrored in registry._sql_bloom_* — change together.
BLOOM_BITS_PER_WORD = 63


def _bloom_positions(text_col: str, num_hashes: int, num_bits: int) -> Column:
    """Array of ``num_hashes`` bit positions for a document's content.

    Kirsch-Mitzenmacher again (one md5 per doc, two 56-bit halves reduced
    mod p, pos_i = (h1 + i*h2) mod num_bits): the standard result is that
    a double-hash family preserves Bloom-filter false-positive guarantees
    at 1/k the hashing cost. Content key = raw text bytes, matching
    ``exact_dedup``'s sha2-on-text identity so "seen" means exactly what
    exact dedup means."""
    digest = F.md5(F.col(text_col))
    p = F.lit(MINHASH_PRIME)
    h1 = F.conv(F.substring(digest, 1, 14), 16, 10).cast("long") % p
    h2 = F.conv(F.substring(digest, 17, 14), 16, 10).cast("long") % p
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: (h1 + i * h2) % num_bits,
    )


def bloom_filter_build(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_words: int = 4096,
    num_hashes: int = 7,
) -> DataFrame:
    """Build a Bloom filter over document contents as a TABLE of packed
    bit words: (word_idx BIGINT, bits BIGINT), ≤ ``num_words`` rows.

    This is the incremental-dedup shape for a continuously-crawled
    corpus: membership state for yesterday's 100 TB is a few MB of longs,
    not a join against the corpus. The bit array is built relationally —
    explode each doc's k bit positions, one ``bit_or`` groupBy on
    word_idx — so it is distributed, deterministic (md5-derived
    positions), and MERGEABLE: filters of two corpus slices combine with
    a union + ``bit_or`` regroup (see ``bloom_filter_merge``), the same
    algebra that lets every executor build partial filters map-side.

    Sizing: m = num_words*63 bits; standard FPR ≈ (1 - e^(-k*n/m))^k.
    The default 4096 words ≈ 258 kbit holds ~25k docs at k=7 under 1%
    false positives; scale num_words linearly with corpus count (the
    filter table stays broadcast-safe: even 10^10 docs at 10 bits/doc is
    ~1.5 GB sharded across executors, and the build is one shuffle of
    ≤ num_words rows)."""
    num_bits = num_words * BLOOM_BITS_PER_WORD
    nonempty = docs.filter(F.col(text_col).isNotNull())
    pos = (
        spread(nonempty)
        .select(F.explode(_bloom_positions(text_col, num_hashes, num_bits)).alias("pos"))
    )
    return (
        pos.select(
            F.floor(F.col("pos") / BLOOM_BITS_PER_WORD).alias("word_idx"),
            (F.col("pos") % BLOOM_BITS_PER_WORD).cast("int").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("bits"))
    )


def bloom_filter_merge(*filters: DataFrame) -> DataFrame:
    """OR-merge Bloom filters built with identical (num_words, num_hashes):
    union the word tables and re-``bit_or``. This is what makes the filter
    a mergeable sketch: per-day (or per-partition) filters combine without
    touching the documents again."""
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_maybe_seen(
    batch: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_words: int = 4096,
    num_hashes: int = 7,
) -> DataFrame:
    """Probe a batch of new documents against a built Bloom filter:
    (doc_id, maybe_seen BOOLEAN). ``maybe_seen = false`` is definitive
    (no false negatives — the property the planted-dup tests pin);
    ``true`` means "verify via exact join" and is wrong at most at the
    filter's FPR.

    Scale shape: the batch explodes to k narrow (doc_id, word_idx, bit)
    rows; the filter side is ≤ num_words rows and a *fixed parameter* of
    the operator — a provably bounded broadcast (unlike data-dependent
    frequent-shingle sets, which this module deliberately leaves to AQE).
    ``bool_and`` over the k probes is a map-side-combinable aggregate, so
    the only shuffle is on doc_id at k rows per doc."""
    num_bits = num_words * BLOOM_BITS_PER_WORD
    nonempty = batch.filter(F.col(text_col).isNotNull())
    probes = (
        spread(nonempty)
        .select(
            F.col(id_col),
            F.explode(_bloom_positions(text_col, num_hashes, num_bits)).alias("pos"),
        )
        .select(
            id_col,
            F.floor(F.col("pos") / BLOOM_BITS_PER_WORD).alias("word_idx"),
            (F.col("pos") % BLOOM_BITS_PER_WORD).cast("int").alias("bit"),
        )
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0))
        .bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
        != 0
    )
    return (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select(F.col(id_col), hit.alias("hit"))
        .groupBy(id_col)
        .agg(F.bool_and("hit").alias("maybe_seen"))
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
) -> DataFrame:
    """Destructive span dedup (the C4 rule proper, Raffel et al. 2020
    §2.2: "we discarded all but one of any three-sentence span occurring
    more than once"): REWRITE each document with every cross-document
    duplicated span removed, where spans are the same fixed
    ``span_words``-word windows ``span_dup_fractions`` scores. That
    operator is the audit signal; this one is the cleaning action.

    Semantics: words = whitespace split of trimmed text; spans are the
    consecutive non-overlapping windows; a span is removed iff its text
    occurs in > 1 DISTINCT documents (within-doc repetition is repetition
    scoring's domain, not dedup's); the trailing partial window is always
    kept. Output text is the kept words joined by single spaces
    (whitespace-normalized — the rewrite is word-level, so original
    inter-word whitespace is not preserved), plus counters:
    (doc_id, text_clean, n_spans, n_dup_spans). Empty/NULL docs and docs
    shorter than one span pass through with zero counters.

    Scale shape: identical to ``span_dup_fractions`` — one explode to
    narrow (doc, span_idx, md5) rows (persisted: the span table feeds the
    frequency aggregate AND the rebuild), a frequency groupBy on the
    uniform hash key, a hash join back (never broadcast: a 100 TB crawl's
    duplicated-span dictionary is itself huge), then one per-doc rollup
    that reassembles kept spans in order. No step is quadratic and no
    driver collect exists."""
    words = F.split(F.trim(F.col(text_col)), "\\s+")
    n_spans = F.floor(F.size(words) / span_words).cast("int")
    base = (
        spread(docs)
        .select(
            F.col(id_col),
            F.when(
                has_content(text_col), words
            ).otherwise(F.array().cast("array<string>")).alias("ws"),
        )
        .select(
            id_col,
            "ws",
            F.floor(F.size("ws") / span_words).cast("int").alias("n_spans"),
        )
        .persist()
    )
    spans = (
        base.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.col("n_spans") >= 1,
                    F.sequence(F.lit(0), F.col("n_spans") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "ws",
        )
        .select(
            id_col,
            "i",
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("i") * span_words + 1, span_words)
            ).alias("span_text"),
        )
        .withColumn("span_hash", F.md5("span_text"))
        .persist()
    )
    dup = (
        spans.groupBy("span_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs_with_span"))
        .filter(F.col("n_docs_with_span") > 1)
        .select("span_hash")
    )
    kept = (
        spans.join(dup.withColumn("_dup", F.lit(1)), "span_hash", "left")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_dup").isNull(),
                                F.struct(F.col("i"), F.col("span_text")),
                            )
                        )
                    ),
                    lambda s: s["span_text"],
                ),
                " ",
            ).alias("_kept_text"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
    )
    tail = F.concat_ws(
        " ", F.slice(F.col("ws"), F.col("n_spans") * span_words + 1, F.size("ws"))
    )
    return (
        base.join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.trim(
                F.concat_ws(" ", F.coalesce(F.col("_kept_text"), F.lit("")), tail)
            ).alias("text_clean"),
            F.col("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
        )
    )


def soft_dedup_weights(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Soft dedup: instead of DISCARDING duplicates, down-weight them —
    every doc gets ``weight = 1/n_copies`` of its exact content hash, so
    duplicated content contributes one document's worth of probability
    mass to a sampled training mix (the SlimPajama/D4 "keep but
    down-sample" alternative to hard removal, which loses the duplicate's
    distributional signal entirely). Output: ``(doc_id, content_hash,
    n_copies, weight)`` — one row per input doc, weights per hash sum
    to exactly 1 (unit-pinned).

    Plan: one count-over-window partitioned by the content hash — a
    single shuffle on the digest, same key as exact_dedup, with no join
    back to the corpus. For NEAR-dup down-weighting, feed
    connected-components cluster ids in place of the hash: the window is
    identical (see near_dup_keep_best for the cluster path).
    """
    h = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    w = Window.partitionBy("content_hash")
    return (
        docs.select(F.col(id_col), h.alias("content_hash"))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn("weight", F.round(F.lit(1.0) / F.col("n_copies"), 6))
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style sliding duplicate-span detection (Lee et al. 2021)
# ---------------------------------------------------------------------------


def _sliding_gram_table(
    base: DataFrame, id_col: str, min_len: int, *carry: str
) -> DataFrame:
    """Stride-1 word ``min_len``-gram hash table over a ``(doc_id, ws)``
    word-array frame: one narrow ``(doc_id, *carry, pos, gram_hash)`` row
    per word position, where position ``i`` covers ``ws[i, i + min_len)``
    (arrays shorter than ``min_len`` yield no rows). The overlapping-window
    counterpart of ``span_dup_fractions``' blocked spans; ``carry`` names
    columns of ``base`` kept on every row."""
    n_grams = F.size("ws") - min_len + 1
    return base.select(
        id_col,
        *carry,
        F.posexplode(
            F.when(
                n_grams >= 1,
                F.transform(
                    F.sequence(F.lit(0), n_grams - 1),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("ws"), i + 1, min_len))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram_hash"),
    )


def _dup_islands(
    grams: DataFrame, id_col: str, min_len: int, *carry: str
) -> DataFrame:
    """Maximal duplicated spans of a gram table: the positions whose gram
    occurs more than once anywhere, merged per doc by gaps-and-islands
    (a position starts a new island unless it lies inside the previous
    positions' windows). Returns ``(doc_id, island, *carry, span_start,
    span_end)`` with ``span_end`` exclusive; ``carry`` columns are
    per-doc and kept.

    The duplicated-gram dictionary joins back BY HASH KEY — never
    broadcast (at crawl scale it is itself huge; AQE picks the
    strategy). The island windows are partitioned by doc_id: per-doc
    state only, one hash exchange."""
    dup_hashes = (
        grams.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("gram_hash")
    )
    dup_pos = grams.join(dup_hashes, "gram_hash").select(id_col, *carry, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + min_len).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    )
    return (
        dup_pos.withColumn("_new", new_island)
        .withColumn(
            "island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "island")
        .agg(
            *[F.any_value(c).alias(c) for c in carry],
            F.min("pos").alias("span_start"),
            (F.max("pos") + min_len).alias("span_end"),
        )
    )


def exact_substr_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
) -> DataFrame:
    """ExactSubstr duplicate-span detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": remove
    every substring of ≥ 50 tokens that occurs verbatim more than once in
    the corpus — their implementation is a single-machine suffix array;
    this is the distributed relational equivalent). A word position is
    duplicated iff the stride-1 ``min_len``-gram starting there occurs
    > 1 times ANYWHERE in the corpus (unlike the C4-style
    ``span_dup_fractions``, within-document repeats count — ExactSubstr's
    rule is occurrence count, not document count). Overlapping/adjacent
    duplicated windows are merged into MAXIMAL spans via gaps-and-islands,
    exactly reproducing the suffix-array property that every reported
    span is a maximal duplicated region of ≥ ``min_len`` words.

    Output: one row per document that contains at least one duplicated
    span — ``(doc_id, n_words, n_dup_spans, n_dup_tokens, max_span_len,
    dup_token_frac)``.

    Scale shape (100 TB): the gram table is one narrow (id, int, md5) row
    per word position — corpus token volume, never materialized wider.
    It feeds BOTH the frequency aggregate and the join-back, so it is
    persisted (the measured double-tokenize hazard). Frequency is a
    map-side-combined groupBy on the uniform md5 key; ``_dup_islands``
    does the join-back and the island merge. No step is quadratic; no
    driver collect."""
    words = F.split(F.trim(F.col(text_col)), "\\s+")
    base = (
        spread(docs)
        .filter(has_content(text_col))
        .select(F.col(id_col), words.alias("ws"))
        .select(id_col, "ws", F.size("ws").alias("n_words"))
    )
    grams = _sliding_gram_table(base, id_col, min_len, "n_words").persist()
    islands = _dup_islands(grams, id_col, min_len, "n_words")
    span_len = F.col("span_end") - F.col("span_start")
    return islands.groupBy(id_col).agg(
        F.any_value("n_words").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(span_len).alias("n_dup_tokens"),
        F.max(span_len).cast("bigint").alias("max_span_len"),
        F.round(F.sum(span_len) / F.any_value("n_words"), 6).alias("dup_token_frac"),
    )


def exact_substr_rewrite(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
) -> DataFrame:
    """Destructive ExactSubstr dedup: REWRITE each document with every
    maximal duplicated span (as found by ``exact_substr_spans`` — the same
    ``_sliding_gram_table`` and ``_dup_islands``, so the same stride-1
    grams, occurrence-count rule and island merge) removed. Lee et al.
    2021's cleaning action proper; the span table is the audit signal.
    Every document passes through (docs with no duplicated span keep
    their words verbatim, whitespace-normalized — the rewrite is
    word-level, matching ``remove_duplicate_spans``).

    Output: ``(doc_id, text_clean, n_words, n_dup_tokens)``.

    Scale shape: islands per doc are collected into a bounded per-doc
    array (≤ n_words/min_len entries) and the kept text is rebuilt with
    higher-order functions — filter over the word-index sequence with an
    exists() probe against the island array, O(n_words × n_islands) per
    doc, JVM-side. The word-array frame is persisted: it feeds the gram
    table AND the join back to every doc on doc_id."""
    words = F.split(F.trim(F.col(text_col)), "\\s+")
    base = (
        spread(docs)
        .select(
            F.col(id_col),
            F.when(has_content(text_col), words)
            .otherwise(F.array().cast("array<string>"))
            .alias("ws"),
        )
        .persist()
    )
    grams = _sliding_gram_table(base, id_col, min_len).persist()
    islands = (
        _dup_islands(grams, id_col, min_len)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("spans"))
    )
    covered = lambda j: F.exists(  # noqa: E731
        F.col("spans"), lambda sp: (sp["span_start"] <= j) & (j < sp["span_end"])
    )
    kept = F.filter(
        F.sequence(F.lit(0), F.size("ws") - 1),
        lambda j: ~covered(j),
    )
    return (
        base.join(islands, id_col, "left")
        .select(
            F.col(id_col),
            F.when(
                F.col("spans").isNull(), F.concat_ws(" ", F.col("ws"))
            )
            .otherwise(
                F.concat_ws(
                    " ",
                    F.transform(kept, lambda j: F.element_at(F.col("ws"), j + 1)),
                )
            )
            .alias("text_clean"),
            F.size("ws").cast("bigint").alias("n_words"),
            F.coalesce(
                F.aggregate(
                    F.col("spans"),
                    F.lit(0).cast("bigint"),
                    lambda acc, sp: acc + (sp["span_end"] - sp["span_start"]),
                ),
                F.lit(0).cast("bigint"),
            ).alias("n_dup_tokens"),
        )
    )


def line_dedup_rewrite(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Global line-level dedup with keep-first semantics — the CCNet
    paragraph-hash rule (Wenzek et al. 2020 §3.1 drop duplicated
    paragraphs by hash; SlimPajama applies the same at line level):
    every line whose NORMALIZED form (lowercase, whitespace collapsed,
    trimmed) occurs more than once in the corpus keeps exactly ONE
    occurrence — the deterministic first by (doc_id, line_idx) — and every
    other copy is removed. This differs from the engine's other dedup
    rewrites: ``remove_duplicate_spans`` / ``exact_substr_rewrite`` drop
    ALL copies of duplicated content; here the canonical copy survives,
    so no information is lost corpus-wide. Blank/whitespace-only lines
    are structure, not content — always kept, never deduped.

    Output: one row per input doc —
    ``(doc_id, text_clean, n_lines, n_removed)`` with text_clean the kept
    ORIGINAL lines (normalization only keys the dedup) joined by '\\n'.

    Scale shape: one posexplode to (doc, idx, line, md5(norm)) rows; the
    keeper election is a single min-struct window over the hash key (one
    hash shuffle, near-uniform md5 distribution — the Zipf head of
    duplicated boilerplate lands on distinct digests, not one hot key);
    reassembly is one per-doc rollup ordered by idx. No join against a
    collected dictionary, no second corpus pass, no driver state."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    exploded = (
        spread(docs)
        .select(F.col(id_col), F.posexplode(lines).alias("idx", "line"))
        .withColumn(
            "norm",
            F.trim(F.regexp_replace(F.lower(F.col("line")), "\\s+", " ")),
        )
        .withColumn("h", F.md5("norm"))
    )
    w = Window.partitionBy("h")
    first = F.min(F.struct(F.col(id_col), F.col("idx"))).over(w)
    flagged = exploded.withColumn(
        "_keep",
        (F.col("norm") == "")
        | (
            (first[id_col] == F.col(id_col)) & (first["idx"] == F.col("idx"))
        ),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("idx", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).alias("n_removed"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    test_fraction_buckets: int = 10,
    threshold: float = 0.5,
    seed: str = "split",
    **near_dup_kwargs,
) -> DataFrame:
    """Near-dup-aware train/test split: assign each document to a split
    by hashing its near-dup COMPONENT (not its own id), so no two
    near-duplicates ever straddle the boundary — the standard guard
    against eval leakage (Lee et al. 2021 measure exactly this
    train/test contamination; a doc-id hash split leaks every near-dup
    cluster that lands on both sides). Docs in no near-dup pair form
    singleton groups keyed by their own id.

    Split rule: test iff ``md5(seed:group) % buckets == 0`` → a
    deterministic ~1/buckets test fraction, engine/run/layout invariant
    (same discipline as corpus.mixture_sample). Output: one row per doc —
    ``(doc_id, group_id, split)`` with split ∈ {'train', 'test'}.

    Scale shape: the component labeling is the existing
    MinHash→connected-components path (banded LSH, never n²); the split
    itself is one left join of the corpus against the component table
    (pair-participating docs only — usually a small fraction) plus a
    scan-speed hash. No collect, no extra shuffle beyond the components'."""
    comp = near_dup_components(
        docs, text_col, id_col, threshold, **near_dup_kwargs
    ).select(F.col(id_col), "component")
    group = F.coalesce(F.col("component"), F.col(id_col))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(seed), group.cast("string"))), 1, 14
            ),
            16,
            10,
        ).cast("long")
        % test_fraction_buckets
    )
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            group.alias("group_id"),
            F.when(bucket == 0, F.lit("test")).otherwise(F.lit("train")).alias(
                "split"
            ),
        )
    )
