"""Sequence packing + token-budget mixture units (round 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.operators import corpus
from week5_datingnlp_big_data_spark.sources.catalog import load_table


def test_pack_sequences_hand_computed(spark):
    # One bucket (n_buckets=1): stream order (doc, idx), token runs
    # [10, 10, 10, 50, 20] → start offsets 0,10,20,30,80 → seq ids
    # 0,0,0,0,2 at seq_len=32.
    rows = [
        (1, 0, 10), (1, 1, 10), (1, 2, 10),
        (2, 0, 50), (3, 0, 20),
    ]
    chunks = spark.createDataFrame(rows, "doc_id long, chunk_idx long, n_tokens long")
    packed = corpus.pack_sequences(chunks, seq_len=32, n_buckets=1)
    assert set(packed.columns) == {"bucket", "seq_id", "n_chunks", "seq_tokens"}
    out = {(r["bucket"], r["seq_id"]): r for r in packed.collect()}
    assert set(out) == {(0, 0), (0, 2)}
    assert out[(0, 0)]["n_chunks"] == 4 and out[(0, 0)]["seq_tokens"] == 80
    assert out[(0, 2)]["n_chunks"] == 1 and out[(0, 2)]["seq_tokens"] == 20


@pytest.fixture(scope="module")
def chunked(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return corpus.chunk_documents(docs, chunk_tokens=32, overlap=8).cache()


def test_pack_sequences_conserves_tokens(chunked):
    packed = corpus.pack_sequences(chunked, seq_len=128, n_buckets=8)
    total_in = chunked.agg(F.sum("n_tokens")).first()[0]
    agg = packed.agg(
        F.sum("seq_tokens").alias("tok"), F.sum("n_chunks").alias("ch")
    ).first()
    assert agg["tok"] == total_in
    assert agg["ch"] == chunked.count()


def test_pack_sequences_fill_ratio(chunked):
    # Every sequence except possibly the last of each bucket must START
    # full: its first chunk begins below (seq_id+1)*seq_len, and bins are
    # start-offset-contiguous, so seq_tokens ≥ seq_len - max_chunk + 1
    # for all non-terminal bins.
    packed = corpus.pack_sequences(chunked, seq_len=128, n_buckets=8).cache()
    last = packed.groupBy("bucket").agg(F.max("seq_id").alias("last_seq"))
    nonterminal = packed.join(
        last,
        (packed["bucket"] == last["bucket"]) & (packed["seq_id"] < last["last_seq"]),
    )
    bad = nonterminal.filter(F.col("seq_tokens") < 128 - 32 + 1).count()
    assert bad == 0


def test_pack_sequences_deterministic(chunked):
    a = sorted(map(tuple, corpus.pack_sequences(chunked).collect()))
    b = sorted(map(tuple, corpus.pack_sequences(chunked).collect()))
    assert a == b


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # Unpersist at teardown so the cached full-table relation is not
    # substituted into later tests' scans (breaks plan-pruning asserts).
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


def test_token_budget_respected(docs):
    out = corpus.token_budget_mixture(docs, budget_tokens=20_000, temperature=0.5)
    kept = out.agg(F.sum("n_tokens")).first()[0]
    # Expectation is the budget; md5-bucket sampling noise is a few
    # percent at 500 docs — assert the right order of magnitude.
    assert 20_000 * 0.6 <= kept <= 20_000 * 1.4


def test_token_budget_temperature_upsamples_small_sources(docs):
    out = corpus.token_budget_mixture(docs, budget_tokens=20_000, temperature=0.5)
    rates = {
        r["source"]: r["keep_rate"]
        for r in out.select("source", "keep_rate").distinct().collect()
    }
    sizes = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if len(rates) >= 2:
        small = min(rates, key=lambda s: sizes[s])
        big = max(rates, key=lambda s: sizes[s])
        assert rates[small] >= rates[big]


def test_token_budget_full_corpus_when_budget_huge(docs):
    out = corpus.token_budget_mixture(docs, budget_tokens=10**9, temperature=0.5)
    assert out.count() == docs.count()
    assert out.select("keep_rate").distinct().collect()[0]["keep_rate"] == 1.0


# ---------------------------------------------------------------------------
# Shard delivery manifest
# ---------------------------------------------------------------------------


def test_shard_manifest_detects_drop_and_duplicate(spark):
    from week5_datingnlp_big_data_spark.operators import shards

    docs = spark.createDataFrame(
        [(i, f"doc number {i} words here") for i in range(200)],
        "doc_id long, text string",
    )
    base = {r.shard: r for r in shards.shard_manifest(docs, 8).collect()}
    # dropping a row changes its shard's checksum AND count
    dropped = {r.shard: r for r in
               shards.shard_manifest(docs.filter("doc_id <> 7"), 8).collect()}
    sh = next(s for s in base if base[s].n_rows != dropped.get(s, base[s]).n_rows
              or base[s].content_xor != dropped.get(s, base[s]).content_xor)
    assert dropped[sh].content_xor != base[sh].content_xor
    # one extra copy xors the digest a second time -> it CANCELS out of
    # the fold, so the checksum changes (and the count changes too)
    extra = spark.createDataFrame(
        [(7, "doc number 7 words here")], "doc_id long, text string")
    duped = {r.shard: r for r in shards.shard_manifest(docs.union(extra), 8).collect()}
    changed = [s for s in base if duped[s].n_rows != base[s].n_rows]
    assert len(changed) == 1
    assert duped[changed[0]].content_xor != base[changed[0]].content_xor
    # the xor blind spot: TWO extra copies cancel each other, reverting
    # the checksum — the row count is what catches it (why the manifest
    # carries both)
    duped2 = {r.shard: r for r in shards.shard_manifest(
        docs.union(extra).union(extra), 8).collect()}
    assert duped2[changed[0]].content_xor == base[changed[0]].content_xor
    assert duped2[changed[0]].n_rows == base[changed[0]].n_rows + 2


def test_shard_manifest_order_insensitive(spark):
    from week5_datingnlp_big_data_spark.operators import shards

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "doc_id long, text string"
    )
    a = sorted(map(tuple, shards.shard_manifest(docs, 4).collect()))
    b = sorted(map(tuple, shards.shard_manifest(
        docs.orderBy(F.desc("doc_id")).repartition(13), 4).collect()))
    assert a == b


def test_shard_manifest_merge_equals_whole(spark):
    from week5_datingnlp_big_data_spark.operators import shards

    docs = spark.createDataFrame(
        [(i, f"slice doc {i} content") for i in range(300)],
        "doc_id long, text string",
    )
    whole = sorted(map(tuple, shards.shard_manifest(docs, 8).collect()))
    merged = sorted(map(tuple, shards.shard_manifest_merge(
        shards.shard_manifest(docs.filter("doc_id < 100"), 8),
        shards.shard_manifest(docs.filter("doc_id >= 100 AND doc_id < 200"), 8),
        shards.shard_manifest(docs.filter("doc_id >= 200"), 8),
    ).collect()))
    assert merged == whole
