"""SQL-callable UDF registry + applyInPandas group operators.

The UDF *surface* of the engine (SURVEY.md section 2.10): registered
names make every engine scalar usable from ``spark.sql`` strings, and the
grouped-pandas operator demonstrates UDAF-style computation where a window
expression would be awkward.

Registry policy: JVM built-ins everywhere they exist; Python only for the
stemmer (Arrow-batched). Registered Python UDFs are the SLOW path — they
exist for SQL ergonomics, not for hot loops.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from week5_datingnlp_big_data_spark.functions import stemmer


def register_udfs(spark: SparkSession) -> list[str]:
    """Register the engine's SQL-callable functions. Returns the names.

    - ``stem(word)``          — Snowball English stem (pandas UDF)
    - ``stem_array(tokens)``  — stem each element of an array<string>
    """
    spark.udf.register("stem", stemmer.stem_one_udf())
    spark.udf.register("stem_array", stemmer._stem_array_udf)
    return ["stem", "stem_array"]


def group_zscore(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "zscore",
) -> DataFrame:
    """Per-group z-score via ``applyInPandas`` — the grouped-map UDF shape
    (pandas DataFrame in → pandas DataFrame out per group).

    Semantically identical to the window formulation
    ``(x - avg(x) over g) / stddev_samp(x) over g`` — which the oracle
    uses — so the Python path is value-checked against pure SQL. Single
    shuffle on the group key; each group must fit a worker's memory (true
    for per-user/per-key groups; NOT for global groups — use windows
    there)."""
    fields = df.schema.fields
    out_schema = T.StructType(list(fields) + [T.StructField(out_col, T.DoubleType(), True)])

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf[value_col].std(ddof=1)
        mean = pdf[value_col].mean()
        z = (pdf[value_col] - mean) / std if std and std > 0 else pd.Series([None] * len(pdf))
        return pdf.assign(**{out_col: z})

    return df.groupBy(group_col).applyInPandas(per_group, out_schema)
