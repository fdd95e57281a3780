"""Sinks (S4), SQL UDF registry, make_names (X6), column drops (P4/P5),
CSV source fidelity (S1), and the CV wrapper (M2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import make_names, sanitize_columns
from week5_datingnlp_big_data_spark.functions.udfs import register_udfs
from week5_datingnlp_big_data_spark.operators import ml
from week5_datingnlp_big_data_spark.sources import sinks
from week5_datingnlp_big_data_spark.sources.catalog import load_table, read_profiles_csv, table_stats

from tests.fixtures import make_profiles


def test_parquet_roundtrip_partitioned(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    sinks.write_parquet(docs, out, partition_by=("lang",))
    back = sinks.read_parquet(spark, out)
    assert back.count() == docs.count()
    # partition pruning: a lang filter should read only that directory
    plan = back.filter(F.col("lang") == "en")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.filter(F.col("lang") == "en").count() > 0


def test_csv_roundtrip_profiles(spark, tmp_path):
    profiles = make_profiles(spark, n_rows=50)
    out = str(tmp_path / "profiles_csv")
    sinks.write_csv(profiles, out)
    back = read_profiles_csv(spark, out)
    stats = table_stats(back)
    assert stats["n_rows"] == 50 and stats["n_cols"] == 32
    # Schema is the explicit one, not inferred
    assert dict(stats["schema"])["age"] == "int"
    assert dict(stats["schema"])["essay0"] == "string"


def test_model_save_load_roundtrip(spark, tmp_path):
    profiles = make_profiles(spark, n_rows=120)
    from week5_datingnlp_big_data_spark.plans import pipelines

    r = pipelines.ep1_classification(profiles)
    path = str(tmp_path / "tree_model")
    sinks.save_model(r.model, path)
    back = sinks.load_pipeline_model(path)
    orig = r.predictions.select("doc_id", "prediction")
    re_pred = back.transform(r.test).select("doc_id", "prediction")
    assert orig.exceptAll(re_pred).count() == 0


def test_register_udfs_sql_callable(spark):
    names = register_udfs(spark)
    assert set(names) == {"stem", "stem_array"}
    row = spark.sql(
        "SELECT stem('dancing') AS s, stem_array(array('girls','identify')) AS a"
    ).first()
    assert row["s"] == "danc"
    assert row["a"] == ["girl", "identifi"]


def test_make_names_r_semantics():
    assert make_names(["a b", "1x", "ok_name", "a b"]) == ["a.b", "X1x", "ok_name", "a.b.1"]


def test_sanitize_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["my col", "2nd"])
    out = sanitize_columns(df)
    assert out.columns == ["my.col", "X2nd"]


def test_cross_validate_tree(spark):
    profiles = make_profiles(spark, n_rows=200)
    from week5_datingnlp_big_data_spark.plans import pipelines

    r = pipelines.ep1_classification(profiles)
    best, metrics = ml.cross_validate_tree(
        r.train, num_folds=2, max_depths=(2, 4)
    )
    assert len(metrics) == 2
    assert all(0.0 <= m <= 1.0 for m in metrics)
    # best model predicts on held-out data
    pred = ml.predict(best, r.test)
    assert ml.accuracy(pred) > 0.5


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    from week5_datingnlp_big_data_spark.sources.schemas import SCHEMAS

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_jsonl")
    sinks.write_jsonl(docs, out)
    back = sinks.read_jsonl(spark, out, SCHEMAS["documents"])
    assert back.schema == docs.schema
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_jsonl_corrupt_lines_do_not_fail(spark, tmp_path):
    from week5_datingnlp_big_data_spark.sources.schemas import SCHEMAS

    p = tmp_path / "dirty"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n'
        'THIS IS NOT JSON\n'
        '{"doc_id": 2, "text": "also ok", "lang": "en", "source": "s", "n_chars": 7}\n'
    )
    back = sinks.read_jsonl(spark, str(p), SCHEMAS["documents"])
    rows = back.collect()
    assert len(rows) == 3  # corrupt line survives as a null-filled row
    assert sorted(r["doc_id"] for r in rows if r["doc_id"] is not None) == [1, 2]


def test_orc_roundtrip_partitioned(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_orc")
    sinks.write_orc(docs, out, partition_by=("lang",))
    back = sinks.read_orc(spark, out)
    assert back.count() == docs.count()
    # partition pruning: a lang filter must reach the scan as a
    # PartitionFilter, not a data filter
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter(back.lang == "en").explain(True)
    assert "PartitionFilters: [isnotnull(lang" in buf.getvalue()


def test_plot_data_sink_and_cluster_table(spark, sf_dir, tmp_path):
    """S5 data layer: the cluster plot table has the fviz_cluster contract
    (one row per point, 2 PCA coords, size-ranked cluster ids 1..k) and
    round-trips through the single-CSV plot sink."""
    from week5_datingnlp_big_data_spark.registry import QUERIES

    plot = QUERIES["embedding_cluster_plot"](spark, sf_dir)
    rows = plot.collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert plot.columns == ["vec_id", "pc1", "pc2", "cluster"]
    assert len(rows) == n_vecs
    assert {r.cluster for r in rows} == {1, 2, 3, 4}
    # size-ranked: cluster 1 is the largest
    from collections import Counter
    sizes = Counter(r.cluster for r in rows)
    assert sizes[1] == max(sizes.values())

    out = str(tmp_path / "plot_csv")
    sinks.write_plot_data(plot, out)
    import glob
    files = glob.glob(out + "/*.csv")
    assert len(files) == 1  # chart-ready single file
    back = spark.read.option("header", True).csv(out)
    assert back.count() == n_vecs
