"""Corpus-operator fidelity: essay projection/concat semantics (P1/P2),
banned-term removal (P6/W4 intended semantics), label attach by key (J1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.operators import corpus, dfm, freq, tfidf


def test_concat_essays_null_becomes_empty_with_double_space(spark):
    # Reference fidelity (R:51 + read.csv semantics): a NULL/empty essay
    # contributes an empty string, so its separator slots remain →
    # adjacent essays are joined by TWO spaces, which the raw-split word
    # count later sees as a "" token (the reference's top 'word').
    df = spark.createDataFrame(
        [(1, "hello", None, "world")],
        "doc_id long, essay0 string, essay1 string, essay2 string",
    )
    out = df.select(corpus.concat_essays("essay0", "essay1", "essay2").alias("text"))
    assert out.first()["text"] == "hello  world"
    words = out.select(F.explode(F.split("text", " ", -1)).alias("w"))
    assert [r["w"] for r in words.collect()] == ["hello", "", "world"]


def test_remove_banned_terms_anti_join(spark):
    counts = spark.createDataFrame(
        [(1, "guy", 3), (1, "think", 2), (2, "girl", 1), (2, "coffee", 4)],
        "doc_id long, term string, count long",
    )
    banned = spark.createDataFrame([("guy",), ("girl",)], "term string")
    out = freq.remove_banned_terms(counts, banned)
    kept = {(r["doc_id"], r["term"]) for r in out.collect()}
    assert kept == {(1, "think"), (2, "coffee")}


def test_label_attach_by_key_not_row_order(spark):
    # J1: the reference cbinds by row order; the engine joins on doc_id so
    # arbitrary partitioning/ordering cannot mislabel rows.
    feats = spark.createDataFrame([(2, 20.0), (1, 10.0)], "doc_id long, x double")
    labels = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, label string")
    out = feats.join(labels, "doc_id")
    got = {r["doc_id"]: (r["x"], r["label"]) for r in out.collect()}
    assert got == {1: (10.0, "a"), 2: (20.0, "b")}


def test_asof_join_empty_right_side(spark):
    from week5_datingnlp_big_data_spark.operators import relational

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100)], "user_id long, ts string, event_id long"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame([], "user_id long, o_orderdate timestamp")
    out = relational.asof_join_two_tables(
        left, right, key="user_id", left_ts="ts", right_ts="o_orderdate",
        left_vals=("event_id",), right_vals=("o_orderdate",),
    ).collect()
    assert len(out) == 1 and out[0]["asof_o_orderdate"] is None


def test_asof_join_tied_right_rows_deterministic(spark):
    # Multiple right rows sharing (key, right_ts): the carried payload must
    # be the same on every run/partitioning — the tiebreak orders tied rows
    # and the LAST one wins (here: max value).
    from week5_datingnlp_big_data_spark.operators import relational

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100)], "user_id long, ts string, event_id long"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", v) for v in ("b", "c", "a")],
        "user_id long, rts string, payload string",
    ).withColumn("rts", F.to_timestamp("rts")).repartition(8)
    for _ in range(3):
        out = relational.asof_join_two_tables(
            left, right, key="user_id", left_ts="ts", right_ts="rts",
            left_vals=("event_id",), right_vals=("payload",),
        ).collect()
        assert len(out) == 1 and out[0]["asof_payload"] == "c"


def test_sessionize_single_event_per_user(spark):
    from week5_datingnlp_big_data_spark.operators import relational

    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7)], "event_id long, ts string, user_id long"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = relational.session_stats(ev).collect()
    assert len(out) == 1
    assert out[0]["session_seq"] == 1 and out[0]["n_events"] == 1
    assert out[0]["span_sec"] == 0.0


def test_json_extraction_malformed_props(spark):
    # JSON extraction on junk degrades to NULL; numeric conversion of a
    # non-numeric value THROWS under ANSI (Spark 4 default, matching
    # DuckDB CAST) — try_cast is the tolerant path for dirty corpora.
    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "not json"), (3, None), (4, '{"k": "str"}'), (5, "{}")],
        "event_id long, props string",
    )
    out = df.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k1"),
        F.element_at(F.from_json("props", "map<string,string>"), "k")
        .try_cast("bigint")
        .alias("k2"),
    ).collect()
    got = {r["event_id"]: (r["k1"], r["k2"]) for r in out}
    assert got[1] == (5, 5)
    assert got[2] == (None, None)
    assert got[3] == (None, None)
    assert got[4] == (None, None)   # try_cast: non-numeric → null, no throw
    assert got[5] == (None, None)

    # the strict cast DOES throw on the non-numeric row (ANSI semantics)
    import pytest as _pytest

    with _pytest.raises(Exception):
        df.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k")
        ).collect()


def test_doc_term_counts_duplicate_tokens(spark):
    toks = spark.createDataFrame(
        [(1, ["a", "b", "a", "a"]), (2, ["b"])], "doc_id long, tokens array<string>"
    )
    out = {(r["doc_id"], r["term"]): r["count"] for r in dfm.doc_term_counts(toks).collect()}
    assert out == {(1, "a"): 3, (1, "b"): 1, (2, "b"): 1}


def test_unstemmed_tokenize_dfm_tfidf_chain(spark, sf_dir):
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = corpus.tokenize_corpus(docs)
    weighted = tfidf.tf_idf(dfm.doc_term_counts(toked))
    assert {"doc_id", "term", "tfidf"} <= set(weighted.columns)
    assert weighted.count() > 0


def test_chunk_documents_window_semantics(spark):
    from week5_datingnlp_big_data_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 2 chunks: [0:8], [6:10]
            (2, "a b"),                                 # single short chunk
            (3, None),                                  # dropped
            (4, " ".join(f"x{i}" for i in range(8))),   # exactly one window; no dup tail
        ],
        "doc_id long, text string",
    )
    out = sorted(
        ((r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_text"])
         for r in corpus.chunk_documents(docs, chunk_tokens=8, overlap=2).collect())
    )
    assert out == [
        (1, 0, 8, "w0 w1 w2 w3 w4 w5 w6 w7"),
        (1, 1, 4, "w6 w7 w8 w9"),
        (2, 0, 2, "a b"),
        (4, 0, 8, "x0 x1 x2 x3 x4 x5 x6 x7"),
    ]
    # overlap must strictly undercut the window
    import pytest
    with pytest.raises(ValueError):
        corpus.chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_chunk_documents_coverage_invariant(spark, sf_dir):
    # Every non-empty doc's words are fully covered: sum of unique token
    # spans == n_words, and consecutive chunks overlap by exactly
    # `overlap` except possibly the suppressed tail.
    import pyspark.sql.functions as F
    from week5_datingnlp_big_data_spark.operators import corpus
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    chunks = corpus.chunk_documents(docs, chunk_tokens=32, overlap=8)
    n_words = docs.filter(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0
    ).select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), "\\s+")).alias("n")
    )
    stride = 24
    agg = chunks.groupBy("doc_id").agg(
        F.max(F.col("chunk_idx") * stride + F.col("n_tokens")).alias("covered"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    joined = n_words.join(agg, "doc_id")
    assert joined.count() > 0
    assert chunks.count() > docs.count()  # long docs split into several windows
    assert joined.filter(F.col("covered") != F.col("n")).count() == 0


def test_mixture_sample_deterministic_and_rate_bounded(spark, sf_dir):
    import pyspark.sql.functions as F
    from week5_datingnlp_big_data_spark.operators import corpus
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    a = corpus.mixture_sample(docs, rates, default_rate=0.2)
    b = corpus.mixture_sample(docs, rates, default_rate=0.2)
    ids_a = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    assert ids_a == sorted(r["doc_id"] for r in b.select("doc_id").collect())
    per_src = {r["source"]: r["n"] for r in
               a.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_src.get("src0", 0) == totals["src0"]      # rate 1.0 keeps all
    assert "src2" not in per_src                          # rate 0.0 keeps none
    # a different salt draws a different (but still deterministic) subset
    c = corpus.mixture_sample(docs, rates, default_rate=0.2, salt="other")
    ids_c = sorted(r["doc_id"] for r in c.select("doc_id").collect())
    assert ids_c != ids_a


def test_snapshot_diff_classifies_every_branch(spark):
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (5, "delta"), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in corpus.snapshot_diff(old, new).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 5: "added", 4: "unchanged"}


def test_snapshot_diff_identical_snapshots_all_unchanged(spark, sf_dir):
    from week5_datingnlp_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    diff = corpus.snapshot_diff(docs, docs)
    assert diff.filter(F.col("status") != "unchanged").count() == 0
    assert diff.count() == docs.count()


def test_stratified_fixed_sample_counts_and_determinism(spark):
    rows = [(i, "g%d" % (i % 3)) for i in range(40)] + [(100, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = corpus.stratified_fixed_sample(df, "grp", 5, salt="s1")
    got = out.groupBy("grp").count().collect()
    counts = {r["grp"]: r["count"] for r in got}
    # exactly k per full group, min(k, size) for the 1-row group
    assert counts == {"g0": 5, "g1": 5, "g2": 5, "tiny": 1}
    # rk is a 1..k dense prefix within each group
    rks = {
        g: sorted(r["rk"] for r in out.filter(F.col("grp") == g).collect())
        for g in counts
    }
    assert rks["g0"] == [1, 2, 3, 4, 5] and rks["tiny"] == [1]
    # pure function of ids + salt: identical under a different layout
    again = corpus.stratified_fixed_sample(df.repartition(7), "grp", 5, salt="s1")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    # a different salt draws a different sample (overwhelmingly likely)
    other = corpus.stratified_fixed_sample(df, "grp", 5, salt="s2")
    assert sorted(r["doc_id"] for r in out.collect()) != sorted(
        r["doc_id"] for r in other.collect()
    )


def test_weighted_topk_sample_exact_k_and_deterministic(spark):
    df = spark.createDataFrame(
        [(i, 0.5 + (i % 7) / 10.0) for i in range(200)], "doc_id long, w double"
    )
    a = corpus.weighted_topk_sample(df, "w", k=25).collect()
    b = corpus.weighted_topk_sample(df.repartition(13), "w", k=25).collect()
    assert len(a) == 25
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    # priorities are ln(u)/w <= 0 and the cut is the true top-k
    assert all(r["priority"] <= 0 for r in a)


def test_weighted_topk_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, -1.0), (4, None), (5, 1.0)],
        "doc_id long, w double",
    )
    got = {r["doc_id"] for r in corpus.weighted_topk_sample(df, "w", k=10).collect()}
    assert got == {1, 5}


def test_weighted_topk_sample_inclusion_tracks_weight(spark):
    # A-ES property: over many independent draws (salts), an item with
    # 4x the weight wins the k=1 slot ~4x as often. Wide tolerance — this
    # is a sanity band, not a chi-square.
    rows = [(1, 4.0), (2, 1.0), (3, 1.0), (4, 1.0), (5, 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    wins = {i: 0 for i, _ in rows}
    for s in range(60):
        r = corpus.weighted_topk_sample(df, "w", k=1, salt=f"s{s}").collect()
        wins[r[0]["doc_id"]] += 1
    # expected: item1 wins 4/8 = 50% of 60 = 30; others 7.5 each
    assert 15 <= wins[1] <= 45, wins
