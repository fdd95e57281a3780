"""Corpus preparation: profiles/documents → cleaned text → token arrays.

Reference EP-1 front end (Week5_datingNLP.R:50–88): essay projection (P1),
row-wise concat (P2), HTML + custom-stop-word regex cleaning (X2/X3),
tokenize (N1/X5), snowball stop-word removal (N2), stemming (N3),
single-char filter (N4).

Everything is a narrow per-row transform — shuffle-free, whole-stage
codegen'd except the single Pandas-UDF stemmer stage. At 100 TB this chain
is embarrassingly parallel: cost scales linearly with input splits and no
repartition is needed before the downstream ``groupBy``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import (
    clean_html,
    has_content,
    remove_custom_stopwords,
    remove_stopwords,
    tokenize,
)
from week5_datingnlp_big_data_spark.sources.schemas import ESSAY_COLS


def concat_essays(*cols: str) -> Column:
    """P2 — concatenate essay columns with a single space (R:51).

    ``concat_ws`` skips NULLs entirely, which would join two essays with
    one space but drop the separator slot; the reference pastes empty
    strings (read.csv yields ``""``), producing double spaces. Match with
    ``coalesce(col, '')`` before the join."""
    cs = cols or ESSAY_COLS
    return F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in cs])


def clean_text(c: Column | str) -> Column:
    """X2+X3 — HTML strip then custom-stop-word strip, both to ' '."""
    return remove_custom_stopwords(clean_html(c))


def tokenize_corpus(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N1+N2 chain: clean → tokenize → de-stopword, all JVM regex work.
    Returns the input plus a ``tokens array<string>`` column. Stemming
    (N3) and the single-char filter (N4) are left to the caller: EP-1
    stems distinct terms only and filters after stemming, as the
    reference does (R:86–87)."""
    from week5_datingnlp_big_data_spark.session import spread

    toks = remove_stopwords(tokenize(clean_text(text_col)))
    return spread(docs).withColumn("tokens", toks)


def explode_tokens(
    df: DataFrame,
    tokens_col: Column | str = "tokens",
    out: str = "word",
    *keep: str,
) -> DataFrame:
    """Explode a token-array column WITHOUT Catalyst's implicit
    pre-Generate filter.

    A plain ``explode`` makes Catalyst insert ``Filter(size(tokens) > 0 AND
    isnotnull(tokens))`` under the Generate; when ``tokens`` is an alias
    over the tokenize regex chain, that filter is pushed below the
    ``spread()`` round-robin Exchange and the whole
    regexp_replace×3 → regexp_extract_all → transform → filter expression
    is evaluated TWICE per row — once pre-Exchange (at raw-scan
    parallelism) and again in the post-Exchange Project. ``explode_outer``
    adds no implicit filter, so the chain is computed exactly once,
    post-spread; empty/null arrays yield one NULL row, dropped afterwards
    by a filter on the *generated* column (cheap — no re-evaluation)."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return df.select(*keep, F.explode_outer(c).alias(out)).filter(
        F.col(out).isNotNull()
    )


def profiles_to_docs(profiles: DataFrame) -> DataFrame:
    """EP-1 steps R:50–51 (P1 essay projection + P2 row concat): profiles
    → (doc_id, sex, text) document corpus, keyed by doc_id (the reference
    relies on row order; we carry an explicit key)."""
    return profiles.select(
        "doc_id",
        "sex",
        concat_essays(*ESSAY_COLS).alias("text"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    ``chunk_tokens``-word windows advancing by ``chunk_tokens - overlap``
    words — the standard context-length packing step of a pretraining
    pipeline (each chunk fits a model's window; the overlap preserves
    cross-boundary context).

    Output: (doc_id, chunk_idx, n_tokens, chunk_text), one row per chunk.
    A trailing window that would sit entirely inside the previous one
    (start + chunk_tokens - stride >= n_words) is suppressed, so short
    tails are never emitted twice; documents shorter than one window
    yield exactly one chunk.

    Scale shape: pure per-row built-ins (split → filtered start sequence
    → posexplode → slice), shuffle-free and whole-stage codegen'd — the
    chunker is embarrassingly parallel at any corpus size, and the output
    rows are at most ``1/stride`` times larger than the input text."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    nonempty = docs.filter(has_content(text_col))
    base = nonempty.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), "\\s+").alias("w")
    )
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size("w") - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s == 0) | (s + chunk_tokens - stride < F.size("w")),
    )
    exploded = base.select(
        F.col(id_col), "w", F.posexplode(starts).alias("chunk_idx", "start")
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(F.size("w") - F.col("start"), F.lit(chunk_tokens))
        .cast("long")
        .alias("n_tokens"),
        F.array_join(F.slice("w", F.col("start") + 1, chunk_tokens), " ").alias(
            "chunk_text"
        ),
    )


def stratified_fixed_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "eval",
) -> DataFrame:
    """Deterministic fixed-size per-group sample: exactly ``min(k, group
    size)`` rows per group, chosen by ``md5(salt:id)`` order — the
    eval-set carving primitive ("30 held-out docs per language"), where
    rate-based sampling (``mixture_sample``) can't guarantee the exact
    per-group count a benchmark needs. A pure function of ids + salt:
    identical across runs, engines, partition layouts, and cluster sizes.

    Adds ``rk`` (1-based within-group rank under the hash order).

    Scale shape: ONE hash shuffle on the group column, then a per-group
    rank window — rows of a group are co-partitioned, so no global sort.
    A pathological mega-group makes its partition sort k-independent
    work; when groups can be planet-sized, pre-filter with
    ``mixture_sample`` at a rate that overshoots k, then rank the
    survivors."""
    key = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-source sampling — the reproducible way to build a
    training-data mixture ("2 epochs of wiki, 10% of crawl"). Each doc
    keeps iff ``md5(salt:doc_id) mod 10000 < rate*10000`` for its
    source's rate, so the mix is a pure function of ids + salt: identical
    across runs, engines, partition layouts, and cluster sizes — none of
    which holds for ``DataFrame.sample``/``sampleBy``, whose Bernoulli
    draws depend on partition-local RNG streams. Changing the salt draws
    an independent mixture (e.g. for held-out splits).

    Scale shape: one scan, one codegen'd filter — no shuffle, no state.
    Thresholds are precomputed integers so the filter compares longs,
    never floats."""
    denom = 10_000
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
                1,
                14,
            ),
            16,
            10,
        ).cast("long")
        % denom
    )
    threshold = F.lit(int(round(default_rate * denom)))
    for src, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(source_col) == src, F.lit(int(round(rate * denom)))
        ).otherwise(threshold)
    return docs.filter(bucket < threshold)


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    base_rate: float,
    id_col: str = "doc_id",
    salt: str = "wsamp",
) -> DataFrame:
    """Per-ROW weighted Bernoulli sampling: each row keeps with
    probability ``clamp(base_rate × weight, 0, 1)`` — the importance-
    sampling companion of :func:`mixture_sample` (per-SOURCE rates) for
    continuous weights like quality scores ("sample the crawl at 80%,
    scaled by document quality").

    Determinism: the uniform draw is the md5(salt:id) bucket (pure
    function of ids — identical across runs/engines/layouts); the
    threshold is ``floor(base_rate × weight × 10000)``, a fixed IEEE
    multiply-then-floor both engines compute bit-identically, compared
    as longs. Changing the salt draws an independent sample.

    Scale shape: one scan, one codegen'd filter — no shuffle, no state.
    NULL weights never pass (comparison with NULL threshold is false)."""
    denom = 10_000
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
                1,
                14,
            ),
            16,
            10,
        ).cast("long")
        % denom
    )
    # least() SKIPS nulls in both Spark and DuckDB — least(10000, NULL)
    # is 10000, which would admit NULL-weight rows at full rate. Gate
    # explicitly so a NULL weight yields a NULL threshold (never passes).
    threshold = F.when(
        F.col(weight_col).isNotNull(),
        F.least(
            F.lit(denom).cast("long"),
            F.floor(F.lit(float(base_rate)) * F.col(weight_col) * denom).cast(
                "long"
            ),
        ),
    )
    return docs.filter(bucket < threshold)


def pack_sequences(
    chunks: DataFrame,
    seq_len: int = 128,
    n_buckets: int = 8,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    tokens_col: str = "n_tokens",
    salt: str = "pack",
) -> DataFrame:
    """Concat-and-split sequence packing: lay the chunk stream end to end
    and cut every ``seq_len`` tokens — the GPT-style packing step that
    turns variable-length chunks into fixed-budget training sequences
    with near-zero padding. A chunk belongs to the sequence where it
    STARTS (whole chunks are never split here; pad/trim is the trainer's
    last step).

    Deterministic and distributed: chunks are first hashed into
    ``n_buckets`` independent streams (md5 of the doc id — stable across
    runs/engines/layouts, like mixture_sample), each bucket packs its own
    stream in (doc_id, chunk_idx) order via ONE running-sum window, so
    the sort/window parallelism is n_buckets-wide instead of a global
    single-partition total order — the difference between a toy and a
    100 TB packer. Output: (bucket, seq_id, n_chunks, seq_tokens).

    seq_tokens can exceed seq_len by at most one chunk's tail (start-
    offset binning); fill ratio asserts live in the unit tests."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
                1,
                14,
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    from pyspark.sql import Window

    staged = chunks.select(
        bucket.alias("bucket"), F.col(id_col), F.col(idx_col), F.col(tokens_col)
    )
    w = Window.partitionBy("bucket").orderBy(F.col(id_col), F.col(idx_col))
    start = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return (
        staged.withColumn("seq_id", F.floor(start / seq_len))
        .groupBy("bucket", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(tokens_col).alias("seq_tokens"),
        )
    )


def token_budget_mixture(
    docs: DataFrame,
    budget_tokens: int,
    temperature: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "budget",
) -> DataFrame:
    """Temperature-weighted sampling to a token budget: source s with
    n_s tokens gets target share ∝ n_s^τ (τ<1 upsamples small sources —
    the multilingual/multi-domain mixing rule of GPT-3/XLM-R-style
    pipelines), keep-rate r_s = min(1, budget·n_s^τ / Σn^τ / n_s), and
    docs are kept by the same deterministic md5-bucket rule as
    ``mixture_sample`` — identical rows on any engine, run, or layout.

    Fully relational — no driver collect: per-source token totals (one
    tiny aggregate), a scalar Σn^τ broadcast, a broadcast rate join, one
    codegen'd filter. Output: (doc_id, source, n_tokens, keep_rate)."""
    denom = 10_000
    n_tok = F.when(
        has_content(text_col), F.size(F.split(F.trim(F.col(text_col)), "\\s+"))
    ).otherwise(F.lit(0))
    base = docs.select(
        F.col(id_col), F.col(source_col).alias("source"), n_tok.alias("n_tokens")
    )
    per = base.groupBy("source").agg(F.sum("n_tokens").alias("n_src"))
    z = per.agg(F.sum(F.pow("n_src", F.lit(temperature))).alias("z"))
    rates = (
        per.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.least(
                F.lit(1.0),
                F.lit(float(budget_tokens))
                * F.pow("n_src", F.lit(temperature))
                / F.col("z")
                / F.col("n_src"),
            ).alias("keep_rate"),
        )
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
                1,
                14,
            ),
            16,
            10,
        ).cast("long")
        % denom
    )
    return (
        base.join(F.broadcast(rates), "source")
        .filter(bucket / F.lit(float(denom)) < F.col("keep_rate"))
        .select(id_col, "source", "n_tokens", F.round("keep_rate", 6).alias("keep_rate"))
    )


def dsir_importance_weights(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 512,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how much more likely its hashed-bigram bag is under the TARGET
    distribution (rows where ``target`` is true — e.g. a trusted
    high-quality slice) than under the RAW corpus distribution. Selecting
    top-weight documents tilts a crawl toward the target domain without a
    trained classifier.

    Model: features are word bigrams (multiset, not distinct — counts
    matter) hashed into ``num_buckets`` md5 buckets; both distributions
    get add-1 smoothing; a doc's log weight is
    ``sum_b cnt_b * (ln p_target(b) − ln p_raw(b))``, rounded to 6 dp
    (partial-aggregation order makes the last ulp nondeterministic).
    Docs with fewer than two words have no features and are excluded
    (unscoreable), as are NULL texts.

    Scale shape: ONE tokenize pass — the per-(doc, bucket) count table is
    persisted and feeds both the λ-table aggregate (``num_buckets`` rows)
    and the per-doc scoring join. λ is joined back by bucket key with a
    broadcast (provably bounded: num_buckets is a fixed parameter, like
    the Bloom filter's word table and unlike data-dependent frequent-item
    sets). The raw totals ride a 1-row cross join, never a driver
    collect. Everything is md5-derived → bit-identical in the DuckDB
    oracle."""
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), "\\s+"),
        lambda w: F.length(w) > 0,
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("ws")) - 2),
        lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, 2)),
    )
    feat = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), target.alias("is_target"), words.alias("ws"))
        .filter(F.size(F.col("ws")) >= 2)
        .select(id_col, "is_target", F.explode(grams).alias("gram"))
        .select(
            id_col,
            "is_target",
            (
                F.conv(F.substring(F.md5("gram"), 1, 14), 16, 10).cast("long")
                % num_buckets
            ).alias("bucket"),
        )
        .groupBy(id_col, "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    by_bucket = feat.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(F.lit(0))).alias("tc"),
        F.sum("cnt").alias("rc"),
    )
    totals = by_bucket.agg(
        F.sum("tc").alias("t_total"), F.sum("rc").alias("r_total")
    )
    lam = by_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tc") + 1) / (F.col("t_total") + num_buckets))
            - F.log((F.col("rc") + 1) / (F.col("r_total") + num_buckets))
        ).alias("lam"),
    )
    return (
        feat.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("cnt") * F.col("lam")), 6).alias("log_weight"))
    )


def dsir_select(
    docs: DataFrame,
    target: Column,
    n_select: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 512,
) -> DataFrame:
    """Top-``n_select`` documents by DSIR importance weight, with a
    total-order tiebreak (weight DESC, id ASC) so the cut is
    deterministic on any engine or partitioning. The sort is a global
    top-k (TakeOrderedAndProject at scale), not a full sort."""
    w = dsir_importance_weights(docs, target, text_col, id_col, num_buckets)
    return w.orderBy(F.desc("log_weight"), F.asc(id_col)).limit(n_select)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff: classify every document across two crawls or
    pipeline runs as ``added`` / ``removed`` / ``changed`` / ``unchanged``.
    Output: ``(doc_id, status, old_hash, new_hash)``.

    An incremental pipeline reprocesses only ``added``+``changed`` and
    retracts ``removed`` — at 100 TB the diff is what makes a monthly
    crawl refresh an incremental job instead of a full rebuild. Content
    equality is by sha2 of the text, so a re-downloaded identical page is
    ``unchanged`` no matter how the snapshot was laid out.

    Plan: both sides reduce to (id, hash) at scan — column-pruned to two
    columns — then ONE full-outer shuffle join on the id. Snapshots
    written bucketed by id (sinks.write_bucketed) diff with no exchange
    at all."""
    content = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    o = old.select(F.col(id_col).alias("doc_id"), content.alias("old_hash"))
    n = new.select(F.col(id_col).alias("doc_id"), content.alias("new_hash"))
    joined = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select("doc_id", status.alias("status"), "old_hash", "new_hash")


def sentence_chunks(
    docs: DataFrame,
    max_words: int = 128,
    overlap_sentences: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-aware chunk packing — the RAG-ingestion complement of
    :func:`chunk_documents`: instead of cutting fixed word windows that
    split sentences mid-thought, pack CONSECUTIVE WHOLE SENTENCES
    greedily into chunks of at most ``max_words`` words, carrying the
    last ``overlap_sentences`` sentences into the next chunk for
    cross-boundary context (the standard retrieval-chunking recipe —
    LangChain/LlamaIndex "sentence splitter" semantics, here as a
    distributed operator).

    Packing rule per document (whitespace words; sentence boundaries at
    runs of [.!?] followed by whitespace, punctuation kept with the
    sentence):
      - append sentences while the chunk stays within ``max_words``;
      - a sentence that would overflow closes the chunk and opens a new
        one seeded with the previous chunk's last ``overlap_sentences``
        sentences (dropped if the seed alone would exceed the budget);
      - a single sentence longer than the budget becomes its own chunk
        (never split — the retriever sees whole sentences or nothing).

    The greedy recurrence is prefix-dependent, so it is not a window
    expression: it runs inside an Arrow-batched pandas UDF, per document
    — embarrassingly parallel, no shuffle, output at most
    ~1/(1 - overlap share) times the input text (rows-only at the
    driver; pinned by golden and invariant tests).

    Output: one row per chunk —
    ``(doc_id, chunk_idx, n_sentences, n_words, chunk_text)``.
    """
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T

    if overlap_sentences < 0:
        raise ValueError("overlap_sentences must be >= 0")

    boundary = _re.compile(r"(?<=[.!?])\s+")

    def pack(text: str) -> list[tuple[int, int, int, str]]:
        sents = [s for s in boundary.split(text.strip()) if s.strip()]
        if not sents:
            return []
        lens = [len(s.split()) for s in sents]
        chunks: list[tuple[int, int, int, str]] = []
        cur: list[int] = []  # sentence indices in the current chunk

        def flush():
            if cur:
                chunks.append(
                    (
                        len(chunks),
                        len(cur),
                        sum(lens[i] for i in cur),
                        " ".join(sents[i] for i in cur),
                    )
                )

        for i, n in enumerate(lens):
            cur_words = sum(lens[j] for j in cur)
            if cur and cur_words + n > max_words:
                flush()
                seed = cur[-overlap_sentences:] if overlap_sentences else []
                seed_words = sum(lens[j] for j in seed)
                # the overlap seed must leave room for the new sentence
                cur = list(seed) if seed_words + n <= max_words else []
            cur.append(i)
        flush()
        return chunks

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("n_sentences", T.IntegerType()),
            T.StructField("n_words", T.IntegerType()),
            T.StructField("chunk_text", T.StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                for idx, ns, nw, ct in pack(text):
                    out.append((did, idx, ns, nw, ct))
            yield pd.DataFrame(
                out, columns=[f.name for f in schema.fields]
            )

    return docs.select(id_col, text_col).mapInPandas(gen, schema)


def weighted_topk_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "aes",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — exactly ``k`` rows with
    inclusion probability proportional to weight (Efraimidis & Spirakis
    2006, the A-ES scheme): each row draws priority ``u^(1/w)`` for a
    uniform ``u``; the global top-k by priority IS a weighted sample
    without replacement. The fixed-size companion of
    :func:`weighted_sample`'s Bernoulli keep — "give me exactly 10k docs,
    quality-weighted" is the curation ask this answers.

    Determinism: ``u = (md5_56(salt:id) + 1) / 2^56`` ∈ (0, 1] — a pure
    function of ids, so the sample is identical across runs, engines,
    and layouts; ranking uses ``ln(u)/w`` (monotone in u^(1/w), one ln
    and one IEEE division per row), ties broken by id. NULL or
    non-positive weights never qualify.

    Scale shape: one scan + TakeOrderedAndProject — the distributed
    top-k that keeps k rows per partition before the single-partition
    merge; no full sort, no shuffle of the corpus. Adds ``priority``
    (rounded 6dp) to the output."""
    b = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
            1,
            14,
        ),
        16,
        10,
    ).cast("bigint")
    u = (b + F.lit(1).cast("bigint")).cast("double") / F.lit(float(1 << 56))
    pri = F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_pri", pri)
        .orderBy(F.desc("_pri"), F.asc(id_col))
        .limit(k)
        .withColumn("priority", F.round(F.col("_pri"), 6))
        .drop("_pri")
    )
