"""Semantics tests for dedup + similarity operators: planted duplicates
must be found, distinct docs must not collide, approximate paths must
recover the exact baseline with high recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),                                            # exact dup of 1
        (3, base.replace("today", "tonight")),                # near dup of 1
        (4, "completely different content about spark query engines and shuffles"),
        (5, "another unrelated document mentioning parquet columnar storage formats"),
        (6, base.replace("quick", "swift").replace("lazy", "sleepy")),  # weaker near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_groups(dup_docs):
    out = dedup.exact_dedup(dup_docs)
    groups = {r["doc_id"]: r["n_copies"] for r in out.collect()}
    assert groups[1] == 2          # docs 1+2 collapse, min-id representative
    assert out.count() == 5        # 6 docs → 5 distinct contents
    assert out.agg(F.sum("n_copies")).first()[0] == 6


def test_dup_cluster_sizes_accounts_for_every_doc(dup_docs):
    rows = {r["cluster_size"]: r for r in dedup.dup_cluster_sizes(dup_docs).collect()}
    assert 1 in rows  # the singleton row is always present
    assert sum(r["n_docs"] for r in rows.values()) == dup_docs.count()


def test_minhash_finds_planted_near_dups(dup_docs):
    pairs = dedup.jaccard_near_dups(dup_docs, threshold=0.5)
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in found and found[(1, 2)] == 1.0
    assert (1, 3) in found and found[(1, 3)] > 0.5
    assert not any({4, 5} & {a, b} for a, b in found)  # distinct docs never pair


def test_minhash_candidates_superset_of_high_jaccard(dup_docs):
    # Every pair with true Jaccard ≥ 0.8 must appear among LSH candidates
    # (4 bands × 3 rows: P(miss | J=0.8) = (1-0.8³)³ ≈ 11 % per band set —
    # the planted exact/near dups are well above threshold).
    sigs = dedup.minhash_signatures(dup_docs)
    cands = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs).collect()
    }
    assert (1, 2) in cands
    assert (1, 3) in cands


def test_simhash_hamming_zero_for_identical(dup_docs):
    sig = dedup.simhash64(dup_docs)
    fp = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert fp[1] == fp[2]
    # near-dup: small Hamming distance; unrelated: large
    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(fp[1], fp[3]) <= 10
    assert ham(fp[1], fp[4]) > 10


def test_simhash_near_dups_pairs(dup_docs):
    out = dedup.simhash_near_dups(dup_docs, max_hamming=10)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs
    assert not any({4, 5} & {a, b} for a, b in pairs)


def test_dedup_ops_handle_null_and_empty_text(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real content here today"), (4, "real content here today")],
        "doc_id long, text string",
    )
    # exact dedup: null and empty are distinct groups; 3+4 collapse
    groups = dedup.exact_dedup(docs).collect()
    assert sum(r["n_copies"] for r in groups) == 4
    # minhash pipeline: must not throw; nulls contribute no shingles
    pairs = dedup.jaccard_near_dups(docs, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 4)}
    # winnowing: total over null/empty as well
    fps = dedup.winnowing_fingerprints(docs).count()
    assert fps >= 3
    # simhash: null text yields no tokens -> row absent, others present
    sim = dedup.simhash64(docs)
    assert sim.filter(F.col("doc_id").isin(3, 4)).count() == 2


def test_mllib_minhash_agrees_on_planted_dups(dup_docs):
    out = dedup.mllib_minhash_join(dup_docs, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def test_cosine_topk_shape_and_bounds(emb):
    out = similarity.cosine_topk(emb, query_ids=[0, 1, 2], k=5).collect()
    assert len(out) == 15
    for r in out:
        assert -1.0 - 1e-9 <= r["cos"] <= 1.0 + 1e-9
        assert r["neighbor_id"] != r["query_id"]


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-1.0, -2.0, -3.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.cosine_topk(df, query_ids=[0], k=2).collect()
    by_n = {r["neighbor_id"]: r["cos"] for r in out}
    assert by_n[1] == 1.0
    assert by_n[2] == -1.0


def test_brp_lsh_join_recall_vs_brute_force(emb):
    # Euclidean-LSH approximates cosine rank imperfectly on unnormalized
    # vectors; require substantial overlap, not identity. Every query must
    # still get neighbours from the one bucketed join.
    qids = list(range(8))
    exact = similarity.cosine_topk(emb, qids, k=5)
    approx = similarity.brp_lsh_topk_join(emb, qids, k=5)
    assert approx.groupBy("query_id").count().count() == len(qids)
    rec = similarity.knn_recall(exact, approx)
    assert rec >= 0.4, rec


def test_hyperplane_buckets_group_identical_vectors(spark):
    df = spark.createDataFrame(
        [(0, [0.5] * 8), (1, [0.5] * 8), (2, [-0.5] * 8)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.cosine_near_dup_pairs(df, threshold=0.99, num_planes=4, dim=8)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ngram_jaccard_finds_planted_near_dups(dup_docs):
    # Direct blocked path must find the same planted dups as the MinHash
    # path — its blocking recall is exact for any pair sharing a rare
    # shingle, which every high-Jaccard pair here does.
    pairs = dedup.ngram_jaccard_near_dups(dup_docs, threshold=0.5)
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in found and found[(1, 2)] == 1.0
    assert (1, 3) in found and found[(1, 3)] > 0.5
    assert not any({4, 5} & {a, b} for a, b in found)


def test_ngram_jaccard_covers_minhash_verified_pairs(dup_docs):
    # Verified-pair agreement between the two fuzzy-dedup paths: MinHash
    # banding can only MISS candidates, so its verified output must be a
    # subset of the exact-blocking path at the same threshold (no frequent
    # shingles exist in this tiny fixture, so blocking drops nothing).
    mh = {(r["id_a"], r["id_b"]) for r in dedup.jaccard_near_dups(dup_docs, threshold=0.5).collect()}
    ng = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_near_dups(dup_docs, threshold=0.5).collect()}
    assert mh <= ng


def test_ngram_jaccard_frequent_shingle_cap(spark):
    # Docs sharing ONLY boilerplate (a shingle present in > cap docs) must
    # not become candidates: the cap is the join-bucket bound at scale.
    boiler = "terms of service apply to all users"
    rows = [(i, f"{boiler} item {i}") for i in range(1, 9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_near_dups(docs, threshold=0.1, max_shingle_docfreq=3)
    assert out.count() == 0


def test_connected_components_merges_chains(spark):
    # A-B and B-C pairs must land in ONE component even though A-C never
    # paired directly; isolated pair D-E stays its own component.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"] for r in dedup.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_near_dup_components_representatives(dup_docs):
    out = dedup.near_dup_components(dup_docs, threshold=0.5).collect()
    comp = {r["doc_id"]: (r["component"], r["is_representative"]) for r in out}
    # docs 1,2,3 form one near-dup cluster; min-id 1 is the representative.
    assert comp[1] == (1, True)
    assert comp[2][0] == 1 and not comp[2][1]
    assert comp[3][0] == 1 and not comp[3][1]
    assert 4 not in comp and 5 not in comp  # distinct docs never enter


def test_connected_components_match_union_find(spark):
    # Randomized graphs vs a pure-Python union-find reference.
    import random

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        nodes = list(range(40))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(50)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["node"]: r["component"] for r in dedup.connected_components(df).collect()}
        assert got == expected, f"seed {seed}"


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_star_matches_plain_100_graphs(spark):
    # 100 randomized graphs, node ids namespaced per graph and unioned into
    # ONE edge list, so a single Spark run covers all of them. Star
    # contraction must agree with plain propagation AND the pure-Python
    # union-find ground truth on every graph.
    import random

    rng = random.Random(4242)
    edges = []
    for g in range(100):
        base = g * 10_000
        n = rng.randint(8, 40)
        m = rng.randint(n // 2, 50)
        for _ in range(m):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.append((base + a, base + b))
    expected = _union_find(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got_star = {r["node"]: r["component"]
                for r in dedup.connected_components_star(df).collect()}
    got_plain = {r["node"]: r["component"]
                 for r in dedup.connected_components(df, max_iter=80).collect()}
    assert got_star == expected
    assert got_plain == expected


def test_connected_components_star_deep_path_bounded_rounds(spark):
    # A 1000-node path has diameter 999: plain propagation needs ~999
    # rounds, star contraction O(log² n). max_iter=25 enforces the bound —
    # the call raises if the edge set is still contracting past 25 rounds.
    edges = [(i, i + 1) for i in range(999)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    comp = {r["node"]: r["component"]
            for r in dedup.connected_components_star(df, max_iter=25).collect()}
    assert len(comp) == 1000
    assert set(comp.values()) == {0}


def test_ngram_overlap_flags_planted_contamination(spark):
    bench = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "tiny doc"),  # < n words: whole text is the single gram
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon zeta more tail"),  # 2 shared 5-grams
            (2, "completely unrelated content about columnar storage formats"),
            (3, "tiny doc"),  # exact copy of the short benchmark doc
            (4, "the words alpha beta gamma appear but never five in a row"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["overlap_grams"] for r in
           dedup.ngram_overlap_flags(corpus, bench, n=5).collect()}
    # doc 1 shares exactly the 5-grams starting at alpha and beta
    assert out == {1: 2, 3: 1}


def test_ngram_overlap_flags_empty_benchmark(spark):
    bench = spark.createDataFrame([], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, "some words here")], "doc_id long, text string")
    assert dedup.ngram_overlap_flags(corpus, bench).count() == 0


def test_repetition_scores_goldens(spark):
    from week5_datingnlp_big_data_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),           # 4 words 1 distinct; bigrams: 'a a' x3
            (2, "one"),               # single word: no bigrams -> 0.0 fracs
            (3, "w x y z"),           # all distinct words and bigrams
            (4, "go go stop go go"),  # bigrams: 'go go' x2, 'go stop', 'stop go'
            (5, "   "),               # whitespace-only: dropped
            (6, None),                # NULL: dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.repetition_scores(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_words"] == 4
    assert out[1]["dup_word_frac"] == 0.75
    assert out[1]["dup_2gram_frac"] == round(1 - 1 / 3, 6)
    assert out[1]["top_2gram_frac"] == 1.0
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[2]["top_2gram_frac"] == 0.0
    assert out[3]["dup_word_frac"] == 0.0
    assert out[3]["dup_2gram_frac"] == 0.0
    assert out[3]["top_2gram_frac"] == round(1 / 3, 6)  # 3 bigrams, all unique
    assert out[4]["dup_word_frac"] == 0.6          # 5 words, 2 distinct
    assert out[4]["dup_2gram_frac"] == 0.25        # 4 bigrams, 3 distinct
    assert out[4]["top_2gram_frac"] == 0.5         # 'go go' x2 of 4


def test_pq_topk_recall_vs_brute_force(emb):
    from pyspark.sql import Window

    qids = list(range(5))
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = base.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    exact = (
        base.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), F.sqrt(d2).alias("d"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
    )
    approx = similarity.pq_topk(emb, qids, k=5)
    rec = similarity.knn_recall(exact, approx)
    # ADC shortlist (8x) + exact re-rank: high recall even on loosely
    # clustered synthetic vectors (0.88 measured at sf0.01)
    assert rec >= 0.8, rec
    # deterministic across reruns (seeded codebooks, total-order cuts)
    again = similarity.pq_topk(emb, qids, k=5)
    assert sorted(map(tuple, approx.collect())) == sorted(map(tuple, again.collect()))


def test_pq_encode_shape_and_compression(emb):
    m, ks = 8, 16
    books = similarity.pq_train(emb, num_subspaces=m, codebook_size=ks)
    assert books.count() <= m * ks
    codes = similarity.pq_encode(emb, books, num_subspaces=m)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        # m small ints stand in for 64 doubles — the 32:1 compression law
        assert len(r.codes) == m
        assert all(0 <= c < ks for c in r.codes)


def test_pq_train_releases_its_vector_cache(spark, emb):
    # The codebooks are built from the collected centers, so nothing reads
    # pq_train's cached vectors once it returns: the persisted-RDD registry
    # must be back at its starting size.
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    similarity.pq_train(emb, num_subspaces=4, codebook_size=8)
    assert set(persisted().keySet()) == before


def test_ivf_pq_recall_and_determinism(emb):
    from pyspark.sql import Window

    qids = list(range(5))
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = base.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    exact = (
        base.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), F.sqrt(d2).alias("d"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
    )
    # n_cells sized to the tiny fixture corpus (50 vecs): probing 4 of 8
    # cells ≈ half the corpus, the same probe fraction a production
    # 4-of-16 config gives against real cell populations
    approx = similarity.ivf_pq_topk(emb, qids, k=5, n_cells=8, n_probe=4)
    # cell pruning (n_probe/n_cells) trades recall for the scan bound;
    # 0.72 measured at sf0.01 with 4-of-16 — pin above the LSH bar
    assert similarity.knn_recall(exact, approx) >= 0.6
    again = similarity.ivf_pq_topk(emb, qids, k=5, n_cells=8, n_probe=4)
    assert sorted(map(tuple, approx.collect())) == sorted(map(tuple, again.collect()))


def test_soft_dedup_weights_sum_to_one_per_hash(spark):
    from week5_datingnlp_big_data_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "same text"),
         (4, "unique a"), (5, "twice"), (6, "twice")],
        "doc_id long, text string",
    )
    w = dedup.soft_dedup_weights(docs)
    rows = {r["doc_id"]: r for r in w.collect()}
    assert rows[1]["n_copies"] == 3 and rows[1]["weight"] == pytest.approx(1 / 3, abs=1e-6)
    assert rows[4]["n_copies"] == 1 and rows[4]["weight"] == 1.0
    assert rows[5]["n_copies"] == 2 and rows[5]["weight"] == 0.5
    # one row per input doc; per-hash weights sum to 1 (within rounding)
    assert w.count() == 6
    sums = (
        w.groupBy("content_hash").agg(F.round(F.sum("weight"), 4).alias("s")).collect()
    )
    assert all(abs(r["s"] - 1.0) < 1e-3 for r in sums)


# ---------------------------------------------------------------------------
# ExactSubstr sliding duplicate-span detection (Lee et al. 2021)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def substr_docs(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"      # 8 words
    rows = [
        # docs 1+2 share an 8-word run embedded in different contexts
        (1, f"intro one two three {shared} outro x y z"),
        (2, f"{shared} completely different tail here now"),
        # doc 3: the same 8-word run repeated WITHIN one document
        (3, f"{shared} some middle filler words {shared}"),
        # doc 4: clean, no duplicated 8-gram anywhere
        (4, "unique words only in this document nothing repeats at all"),
        # doc 5: two disjoint shared runs with doc 6 -> two maximal spans
        (5, "one two three four five six seven eight GAPWORD "
            "nine ten eleven twelve thirteen fourteen fifteen sixteen"),
        (6, "one two three four five six seven eight OTHERGAP "
            "nine ten eleven twelve thirteen fourteen fifteen sixteen"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_substr_spans_cross_doc(substr_docs):
    out = {r["doc_id"]: r.asDict() for r in
           dedup.exact_substr_spans(substr_docs, min_len=8).collect()}
    # docs 1 and 2 each flag exactly the shared 8-word run
    for d in (1, 2):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["n_dup_tokens"] == 8
        assert out[d]["max_span_len"] == 8
    # clean doc yields NO row at all
    assert 4 not in out


def test_exact_substr_spans_within_doc_repeat_counts(substr_docs):
    # ExactSubstr rule: occurrence count > 1 anywhere, so doc 3's internal
    # repeat flags BOTH copies (unlike span_dup_fractions' cross-doc rule)
    out = {r["doc_id"]: r.asDict() for r in
           dedup.exact_substr_spans(substr_docs, min_len=8).collect()}
    assert out[3]["n_dup_spans"] == 2
    assert out[3]["n_dup_tokens"] == 16


def test_exact_substr_spans_two_maximal_spans(substr_docs):
    out = {r["doc_id"]: r.asDict() for r in
           dedup.exact_substr_spans(substr_docs, min_len=8).collect()}
    # docs 5/6: 8 words + distinct gap word + 8 words -> two maximal spans,
    # each exactly 8 tokens (the gap word breaks every straddling gram)
    for d in (5, 6):
        assert out[d]["n_dup_spans"] == 2
        assert out[d]["n_dup_tokens"] == 16
        assert out[d]["max_span_len"] == 8


def test_exact_substr_spans_island_merge(spark):
    # 12-word run shared by two docs -> 5 overlapping duplicated 8-grams
    # merge into ONE maximal 12-token span, not 5 separate ones
    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = spark.createDataFrame(
        [(1, f"{run} unique-tail-one aa bb"), (2, f"zz yy {run} other-tail")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in
           dedup.exact_substr_spans(docs, min_len=8).collect()}
    for d in (1, 2):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["n_dup_tokens"] == 12
        assert out[d]["max_span_len"] == 12


def test_exact_substr_rewrite_removes_spans(substr_docs):
    out = {r["doc_id"]: r.asDict() for r in
           dedup.exact_substr_rewrite(substr_docs, min_len=8).collect()}
    # every doc passes through
    assert set(out) == {1, 2, 3, 4, 5, 6}
    # doc 1 keeps its unique prefix/suffix, loses the shared run
    assert out[1]["text_clean"] == "intro one two three outro x y z"
    assert out[1]["n_dup_tokens"] == 8
    # doc 3 keeps only the middle filler
    assert out[3]["text_clean"] == "some middle filler words"
    assert out[3]["n_dup_tokens"] == 16
    # clean doc passes through verbatim (whitespace-normalized)
    assert out[4]["text_clean"] == out[4]["text_clean"].strip()
    assert out[4]["n_dup_tokens"] == 0
    assert out[4]["text_clean"].split() == \
        "unique words only in this document nothing repeats at all".split()


def test_exact_substr_rewrite_null_and_empty(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in
           dedup.exact_substr_rewrite(docs, min_len=8).collect()}
    for d in (1, 2, 3):
        assert out[d]["text_clean"] == ""
        assert out[d]["n_dup_tokens"] == 0


def test_exact_substr_spans_agree_with_rewrite(substr_docs):
    spans = {r["doc_id"]: r["n_dup_tokens"] for r in
             dedup.exact_substr_spans(substr_docs, min_len=8).collect()}
    rewrite = {r["doc_id"]: r["n_dup_tokens"] for r in
               dedup.exact_substr_rewrite(substr_docs, min_len=8).collect()
               if r["n_dup_tokens"] > 0}
    assert spans == rewrite


# ---------------------------------------------------------------------------
# Global line-level dedup with keep-first semantics (CCNet/SlimPajama)
# ---------------------------------------------------------------------------


def test_line_dedup_keep_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "unique one\nshared boilerplate line\nunique two"),
            (2, "shared boilerplate line\nother content"),
            (3, "more text\nShared   Boilerplate Line"),  # normalized dup
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.line_dedup_rewrite(docs).collect()}
    # doc 1 holds the canonical copy (min doc_id, min idx)
    assert out[1].text_clean == "unique one\nshared boilerplate line\nunique two"
    assert out[1].n_removed == 0
    # later copies removed, including the differently-whitespaced variant
    assert out[2].text_clean == "other content"
    assert out[2].n_removed == 1
    assert out[3].text_clean == "more text"
    assert out[3].n_removed == 1


def test_line_dedup_blank_lines_always_kept(spark):
    docs = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "c\n\nd")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.line_dedup_rewrite(docs).collect()}
    assert out[1].text_clean == "a\n\nb" and out[1].n_removed == 0
    assert out[2].text_clean == "c\n\nd" and out[2].n_removed == 0


def test_line_dedup_within_doc_repeat_keeps_first(spark):
    docs = spark.createDataFrame(
        [(1, "same line\nmiddle\nsame line")], "doc_id long, text string"
    )
    out = dedup.line_dedup_rewrite(docs).collect()[0]
    assert out.text_clean == "same line\nmiddle"
    assert out.n_removed == 1


def test_line_dedup_null_and_empty_pass_through(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.line_dedup_rewrite(docs).collect()}
    for d in (1, 2):
        assert out[d].text_clean == "" and out[d].n_removed == 0


def test_leakage_safe_split_no_straddling_pairs(dup_docs):
    out = {r.doc_id: r for r in dedup.leakage_safe_split(dup_docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}          # every doc assigned
    # near-dups share a group and therefore a split side
    pairs = dedup.jaccard_near_dups(dup_docs, threshold=0.5).collect()
    assert pairs  # the fixture plants near-dups
    for p in pairs:
        assert out[p.id_a].group_id == out[p.id_b].group_id
        assert out[p.id_a].split == out[p.id_b].split


def test_leakage_safe_split_deterministic_and_both_sides(spark):
    docs = spark.createDataFrame(
        [(i, f"unique document number {i} with words w{i} x{i*7} y{i*13}")
         for i in range(300)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dedup.leakage_safe_split(docs).collect()))
    b = sorted(map(tuple, dedup.leakage_safe_split(docs).collect()))
    assert a == b
    splits = {s for (_, _, s) in a}
    assert splits == {"train", "test"}
    n_test = sum(1 for (_, _, s) in a if s == "test")
    assert 0.03 < n_test / 300 < 0.25              # ~1/10 bucket rule


# ----------------------------------------------- cross-corpus incremental


def test_batch_novelty_flags_near_dup_of_base(spark):
    prose = ("the quick brown fox jumps over the lazy dog while the cat "
             "sleeps on the warm windowsill in the afternoon sun today")
    base = spark.createDataFrame(
        [(1, prose), (2, "completely different text about spark shuffles "
                         "and adaptive query execution plans at scale")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-dup of base doc 1 (one word changed)
            (10, prose.replace("lazy", "sleepy")),
            # genuinely novel content
            (11, "unrelated musings on distributed minhash banding and "
                 "jaccard verification for web crawl corpora tonight"),
            # contentless -> novel by contract (exact dedup owns it)
            (12, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.batch_novelty(base, batch).collect()}
    assert not out[10]["is_novel"] and out[10]["n_base_dups"] >= 1
    assert out[11]["is_novel"] and out[11]["n_base_dups"] == 0
    assert out[12]["is_novel"]
    # pair form agrees and reports the jaccard
    pairs = dedup.cross_corpus_near_dups(base, batch).collect()
    assert {(p["batch_id"], p["base_id"]) for p in pairs} == {(10, 1)}
    assert all(p["jaccard"] >= 0.5 for p in pairs)


def test_batch_novelty_layout_invariant(spark, sf_dir):
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    a = sorted(map(tuple, dedup.batch_novelty(base, batch).collect()))
    b = sorted(map(tuple, dedup.batch_novelty(
        base.repartition(5), batch.repartition(3)).collect()))
    assert a == b and len(a) > 0


def test_sign_hamming_packing_matches_numpy(spark):
    import numpy as np

    from week5_datingnlp_big_data_spark.operators import similarity

    rng = np.random.default_rng(3)
    dim = 50  # not a multiple of 32: exercises the short tail word
    vecs = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = similarity.sign_hamming_topk(
        df, query_ids=[0, 1], k=4, dim=dim
    ).collect()
    signs = {i: np.array(v) > 0 for i, v in vecs}

    def ham(a, b):
        return int((signs[a] != signs[b]).sum())

    for q in (0, 1):
        expect = sorted(
            ((ham(q, n), n) for n in signs if n != q)
        )[:4]
        rows = sorted(
            (r["hamming"], r["neighbor_id"])
            for r in got
            if r["query_id"] == q
        )
        assert rows == expect, (q, rows, expect)


def test_connected_components_driver_matches_forced_distributed(spark):
    # Optimization r8 added the driver union-find escape under
    # driver_threshold_edges; both execution paths of BOTH variants must
    # return the identical (node, component) set — components are a
    # graph invariant and the oracle hash rides on it.
    import random

    rng = random.Random(1234)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    for fn in (dedup.connected_components, dedup.connected_components_star):
        drv = {
            r["node"]: r["component"] for r in fn(df).collect()
        }  # default threshold -> driver union-find
        dist = {
            r["node"]: r["component"]
            for r in fn(df, driver_threshold_edges=0).collect()
        }  # forced distributed fixpoint
        assert drv == dist, fn.__name__
