"""SparkSession factory with scale-aware defaults.

Local test runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
configs apply (AQE, arrow, partition sizing) — only master/memory change.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "week5_datingnlp_big_data_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
      dynamic broadcast conversion — the first line of defense for the
      power-law skew in ``groupBy(term)`` aggregations.
    - Arrow on: every Pandas UDF (stemmer, vector math) moves batches, not rows.
    - ``spark.sql.shuffle.partitions`` sized to cores locally; AQE coalesces
      down when partitions are small, so oversizing is safe at scale.
    - Codegen cache of 1000 compiled classes (Spark's default is 100).
      One pass of the benchmark's ``paper_pipeline`` generates ~145
      whole-stage and expression classes and one pass of its six
      ``text_queries`` ~125-170; at 100 entries the LRU evicted each class
      before its next use, so every repeated call recompiled 120-155
      classes at ~10 ms each. 1000 holds either working set six times
      over and leaves room for the other query families; the cache is
      static (one per JVM), so it is set here, on the builder every
      session goes through.
    - Whole-stage classes named without their codegen stage id. AQE
      numbers pipelines as it plans them, after whichever shuffle
      finished first, so two identical calls could number the same
      pipeline 5 and 6, and a class named after its id missed the cache.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df, min_partitions: int | None = None):
    """Ensure enough partitions ahead of CPU-heavy per-row work (tokenize,
    shingle+hash): small/single-file parquet scans otherwise serialize an
    embarrassingly-parallel stage on one core.

    No-op when the scan already splits well (the normal case at cluster
    scale, where repartitioning raw text would be a pointless full
    shuffle); the round-robin shuffle only fires when the input is too
    small to split across the cores.

    The partition count is read from the JVM-side internal RDD
    (``queryExecution.toRdd``). The r8-build form called
    ``df.rdd.getNumPartitions()``, which additionally builds the
    Python-serializer RDD wrapper (an extra mapPartitions + pickler
    setup) per call — measured ~110 ms per invocation at sf0.1 across
    ~48 call sites, pure plan-time overhead; the internal RDD answers
    the identical question in half the time (optimization r8)."""
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        parts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        parts = df.rdd.getNumPartitions()
    if parts < n:
        return df.repartition(n)
    return df


def release(df: DataFrame) -> None:
    """Free the executor blocks behind ``df``: its cache entry if it was
    persisted, and its blocks if it is a local checkpoint.
    ``DataFrame.unpersist`` cannot reach the latter — they belong to the
    internal RDD held by the checkpointed plan's ``LogicalRDD`` node —
    so without this an iterative loop keeps one generation per round for
    the whole session. A no-op on any other frame, including one derived
    from a checkpoint. Only release what nothing live still reads: a
    local checkpoint has no lineage to recompute from once its blocks
    are gone. A py4j error (the JVM gone) leaves the blocks in place."""
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Py4JError:
        pass


def cut(df: DataFrame, *superseded: DataFrame | None) -> DataFrame:
    """One round of an iterative loop: materialize ``df`` as an eager
    ``localCheckpoint`` and release the generations it supersedes.

    Every iterative operator (the graph loops, connected components, BPE
    training) cuts its lineage this way: a loop's logical plan otherwise
    nests one more round per iteration until planning itself exhausts
    the driver (``persist`` caches data but keeps the lineage). Pass
    every frame the new generation replaces; ``None`` entries are
    skipped, so a loop can start from nothing. An operator's distributed
    path returns its last cut, which is the only block set it leaves;
    ``release`` that frame to free it.

    Local checkpoint blocks are not replicated: if an executor is lost,
    the blocks it held are lost with it, the job that reads them fails,
    and the query must be re-run from the start."""
    out = df.localCheckpoint(eager=True)
    for old in superseded:
        if old is not None:
            release(old)
    return out
