"""Spark compiles each generated class once per session: a repeated call
finds its whole-stage and expression classes in the codegen cache
(``session.get_spark``) instead of recompiling them."""

from __future__ import annotations

from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import in_set, remove_stopwords

# Literal bases no other test uses, so every class below is new to the
# session's cache on its first run.
BASE = 7_919_000


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pipeline(spark, k: int):
    # the literal is inlined into the generated code: one class per k
    return spark.range(3).select((F.col("id") * F.lit(BASE + k)).alias("v"))


def test_second_run_of_more_than_100_classes_compiles_nothing(spark):
    # 120 distinct classes: Spark's default cache of 100 evicts each one
    # before its next use, so the second run recompiled all of them.
    queries = [_pipeline(spark, k) for k in range(120)]
    before = _compiles(spark)
    for q in queries:
        q.collect()
    first = _compiles(spark) - before
    assert first >= 120
    before = _compiles(spark)
    for q in queries:
        q.collect()
    assert _compiles(spark) - before == 0


def test_same_pipeline_under_another_stage_id_compiles_nothing(spark):
    # Alone, the pipeline is codegen stage 1; as the second child of a
    # union it is stage 2. AQE numbers stages as their shuffles finish,
    # so identical calls can give one pipeline different ids.
    before = _compiles(spark)
    _pipeline(spark, 1000).collect()
    one_pipeline = _compiles(spark) - before
    assert one_pipeline >= 1
    other = spark.range(3).select((F.col("id") + F.lit(BASE)).alias("v"))
    before = _compiles(spark)
    assert len(other.union(_pipeline(spark, 1000)).collect()) == 6
    # only the new first child's classes: the second child is a hit
    assert _compiles(spark) - before == one_pipeline
    before = _compiles(spark)
    other.collect()
    assert _compiles(spark) - before == 0


def test_in_set_is_an_inset_lookup(spark):
    df = spark.createDataFrame(
        [(["the", "cat", "a", "dog", ""],)], "toks array<string>"
    )
    out = df.select(remove_stopwords("toks").alias("r"))
    assert "INSET" in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.first()["r"] == ["cat", "dog", ""]
    flags = df.select(
        F.transform("toks", lambda t: in_set(t, ["", "dog"])).alias("f"),
        F.transform("toks", lambda t: in_set(t, [])).alias("none"),
    ).first()
    assert flags["f"] == [False, False, False, True, True]
    assert flags["none"] == [False] * 5
