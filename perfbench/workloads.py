"""The benchmark's workloads: which inputs each one generates, which calls
one pass makes, and what a correct result of each call is.

Query workloads call registered queries (``registry.all_queries()``);
each call builds the DataFrame, forces its physical plan and collects it.
``paper_pipeline`` runs the reference program: EP-1 classification,
EP-2 TF-IDF, EP-3 frequency analysis, then writes the TF-IDF table and the
model.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import random
from dataclasses import dataclass, field
from decimal import Decimal
from pathlib import Path
from typing import Callable

import inputs

# Six of the registered text, dedup, retrieval and NB queries, each under
# ~2.5 s warm on the benchmark's corpus and with a DuckDB twin that runs in
# under 1.5 s, so that a run fits its cold warm-up pass, the oracles and
# the timed passes within the run budget. Four of them leave persisted
# RDDs behind; textrank_keywords runs jobs while it builds its DataFrame.
# (near_dup_cluster_sizes, which runs 24 such jobs, is left out: its twin
# alone takes 8 s.)
TEXT_QUERIES = [
    "wordcount_top100",
    "tfidf",
    "winnow_dup_pairs",
    "textrank_keywords",
    "bm25_topk",
    "nb_chi2_terms",
]
RELATIONAL_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_type_profit",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "q13_customer_order_distribution",
    "nation_top_customers",
    "events_sessionize",
    "events_gapfill_locf",
    "funnel_conversion",
    "cohort_retention",
    "part_copurchase_pairs",
    "user_event_lag",
]
MEDIA_QUERIES = [
    "media_audio_stats",
    "media_audio_dup_pairs",
    "media_scene_change_stats",
    "media_jpeg_decode_stats",
    "media_png_decode_stats",
    "media_gif_decode_stats",
    "media_jpeg_color_stats",
    "media_jpeg_progressive_stats",
]
# Row counts pinned for the queries that have no DuckDB twin: one output
# row per document, except the audio near-dup query, whose synthetic
# tones form cliques of five consecutive documents (10 pairs per full
# group).
_PER_DOC = "SELECT count(*) FROM documents"
ROW_COUNT_SQL = {
    "media_audio_stats": _PER_DOC,
    "media_audio_dup_pairs": (
        "SELECT (count(*) // 5) * 10 + (count(*) % 5) * (count(*) % 5 - 1) // 2"
        " FROM documents"
    ),
    "media_scene_change_stats": _PER_DOC,
    "media_jpeg_decode_stats": _PER_DOC,
    "media_gif_decode_stats": _PER_DOC,
    "media_jpeg_color_stats": _PER_DOC,
    "media_jpeg_progressive_stats": _PER_DOC,
}

# EP-1 settings: the reference's trim thresholds and tree depth.
MIN_DOCFREQ, MIN_TERMFREQ, MAX_DEPTH = 25, 35, 5
ACCURACY_BAND = (0.62, 0.95)


# -- result fingerprints -----------------------------------------------------

def _norm(v: object) -> object:
    """Fold a value from Spark or DuckDB to one comparable form: NULL to a
    marker, numbers rounded to 6 places (integral ones as integers),
    midnight timestamps to dates, nested values recursively."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return v
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return str(f)
        r = round(f, 6)
        return int(r) if r.is_integer() and abs(r) < 2**53 else r
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime) and v.time() == datetime.time(0):
        # DuckDB's date_trunc yields DATE where Spark's yields TIMESTAMP
        return str(v.date())
    return str(v)


def fingerprint(columns: list[str], rows: list) -> tuple[int, str]:
    """Row count plus an order-insensitive hash over name-sorted columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keyed = sorted(repr(tuple(_norm(row[i]) for i in order)) for row in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in keyed:
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


# -- calls --------------------------------------------------------------------

@dataclass
class Outcome:
    """What one call returned: the value to check, the DataFrames whose
    executed plans hold its operator metrics, and layer timings the
    engine reported itself."""

    value: object
    dfs: list = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Call:
    name: str
    run: Callable[..., Outcome]  # (ctx, tracer) -> Outcome


@dataclass
class Context:
    """One run's session and directories. ``state`` carries results from
    one call of a pass to the next; ``pins`` holds facts fixed for the
    whole run."""

    spark: object
    data_dir: Path
    out_dir: Path
    state: dict = field(default_factory=dict)
    pins: dict = field(default_factory=dict)


class Workload:
    name: str
    release_each_call: bool

    def tables(self, seed: int) -> dict:
        raise NotImplementedError

    def expectations(self, duck, data_dir: Path) -> dict[str, object]:
        """Per call name, the fingerprint or row count a correct result
        has, computed without Spark."""
        return {}

    def calls(self, rng: random.Random) -> list[Call]:
        raise NotImplementedError

    def check(self, ctx: Context, name: str, value: object, expected: object) -> str | None:
        """``None`` when ``value`` is correct, else the reason. Runs
        outside every timer."""
        raise NotImplementedError


class QueryWorkload(Workload):
    release_each_call = True

    def __init__(self, name: str, queries: list[str], tables) -> None:
        self.name = name
        self.queries = queries
        self._tables = tables

    def tables(self, seed: int) -> dict:
        return self._tables(seed)

    def expectations(self, duck, data_dir: Path) -> dict[str, object]:
        from week5_datingnlp_big_data_spark import registry

        oracles = registry.all_oracles()
        out: dict[str, object] = {}
        for q in self.queries:
            if q in oracles:
                res = duck.execute(oracles[q])
                cols = [d[0] for d in res.description]
                out[q] = fingerprint(cols, res.fetchall())
            else:
                out[q] = duck.execute(ROW_COUNT_SQL[q]).fetchone()[0]
        return out

    def calls(self, rng: random.Random) -> list[Call]:
        from week5_datingnlp_big_data_spark import registry

        fns = registry.all_queries()
        order = list(self.queries)
        rng.shuffle(order)
        return [Call(q, _query_call(fns[q])) for q in order]

    def check(self, ctx: Context, name: str, value: object, expected: object) -> str | None:
        n, h = value
        if isinstance(expected, tuple):
            if n != expected[0]:
                return f"{n} rows, DuckDB twin has {expected[0]}"
            if h != expected[1]:
                return "values differ from the DuckDB twin"
            return None
        if n != expected:
            return f"{n} rows, pinned {expected}"
        return None


def _query_call(fn):
    def run(ctx: Context, tracer) -> Outcome:
        with tracer.span("registry.build"):
            df = fn(ctx.spark, str(ctx.data_dir))
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            rows = df.collect()
        return Outcome(fingerprint(df.columns, rows), [df])

    return run


class PaperPipeline(Workload):
    """The reference program end to end on a synthetic profiles corpus."""

    name = "paper_pipeline"
    # later calls read the caches EP-1 leaves, so release once per pass
    release_each_call = False

    def tables(self, seed: int) -> dict:
        return {"profiles": inputs.profiles_table(seed)}

    def calls(self, rng: random.Random) -> list[Call]:
        return [
            Call("ep1_classification", self._ep1),
            Call("ep2_tfidf_write", self._tfidf),
            Call("ep3_word_analysis", self._ep3),
            Call("save_model", self._save_model),
        ]

    @staticmethod
    def _profiles(ctx: Context):
        from week5_datingnlp_big_data_spark.sources.schemas import PROFILES_SCHEMA

        return ctx.spark.read.schema(PROFILES_SCHEMA).parquet(
            str(ctx.data_dir / "profiles.parquet")
        )

    def _ep1(self, ctx: Context, tracer) -> Outcome:
        from week5_datingnlp_big_data_spark.plans import pipelines

        stages: dict[str, float] = {}
        with tracer.span("plans.ep1"):
            r = pipelines.ep1_classification(
                self._profiles(ctx),
                min_docfreq=MIN_DOCFREQ,
                min_termfreq=MIN_TERMFREQ,
                max_depth=MAX_DEPTH,
                stage_timings=stages,
            )
            confusion = r.confusion.collect()
        ctx.state["ep1"] = r
        value = (
            r.accuracy,
            sorted((c["predicted"], c["actual"], c["n"]) for c in confusion),
        )
        return Outcome(
            value,
            [r.train, r.test, r.predictions, r.confusion],
            {f"plans.{k}_s": v for k, v in stages.items()},
        )

    def _tfidf(self, ctx: Context, tracer) -> Outcome:
        from week5_datingnlp_big_data_spark.operators import tfidf
        from week5_datingnlp_big_data_spark.sources import sinks

        out = ctx.out_dir / "tfidf.parquet"
        with tracer.span("plans.tfidf"):
            table = tfidf.tf_idf(ctx.state["ep1"].counts).persist()
            n = table.count()
        with tracer.span("sinks.write"):
            sinks.write_parquet(table, str(out))
        table.unpersist(True)
        return Outcome(n, [table])

    def _ep3(self, ctx: Context, tracer) -> Outcome:
        from week5_datingnlp_big_data_spark.plans import pipelines

        with tracer.span("plans.freq"):
            r3 = pipelines.ep3_word_analysis(self._profiles(ctx), top_k=25, distinct_k=500)
            frames = [r3.male_top, r3.female_top, r3.distinctive_male, r3.distinctive_female]
            rows = [df.collect() for df in frames]
        return Outcome([fingerprint(df.columns, r) for df, r in zip(frames, rows)], frames)

    def _save_model(self, ctx: Context, tracer) -> Outcome:
        from week5_datingnlp_big_data_spark.sources import sinks

        out = ctx.out_dir / "model"
        with tracer.span("sinks.write"):
            sinks.save_model(ctx.state["ep1"].model, str(out))
        return Outcome((out / "metadata").is_dir())

    def check(self, ctx: Context, name: str, value: object, expected: object) -> str | None:
        if name == "ep1_classification":
            acc, confusion = value
            lo, hi = ACCURACY_BAND
            if not lo < acc < hi:
                return f"accuracy {acc:.4f} outside ({lo}, {hi})"
            r = ctx.state["ep1"]
            test_rows = r.test.count()
            total = sum(n for _, _, n in confusion)
            if total != test_rows:
                return f"confusion counts sum to {total}, test split has {test_rows}"
            # the first pass pins the trimmed DFM's size for this seed
            ctx.pins.setdefault("dfm_rows", r.counts.count())
        elif name == "ep2_tfidf_write":
            written = _parquet_rows(ctx.out_dir / "tfidf.parquet")
            if not value == written == ctx.pins["dfm_rows"]:
                return (
                    f"{value} TF-IDF rows ({written} written), "
                    f"pinned {ctx.pins['dfm_rows']}"
                )
        elif name == "ep3_word_analysis":
            top_rows = [n for n, _ in value[:2]]
            if top_rows != [25, 25] or not all(0 < n <= 500 for n, _ in value[2:]):
                return f"word-analysis row counts {[n for n, _ in value]}"
        elif name == "save_model" and value is not True:
            return "model metadata was not written"
        return None


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in path.glob("*.parquet"))


def _documents(seed: int) -> dict:
    return {"documents": inputs.documents_table(seed)}


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        PaperPipeline(),
        QueryWorkload("text_queries", TEXT_QUERIES, _documents),
        QueryWorkload("relational_queries", RELATIONAL_QUERIES, inputs.relational_tables),
        QueryWorkload("media_codecs", MEDIA_QUERIES, _documents),
    )
}
