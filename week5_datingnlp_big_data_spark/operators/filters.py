"""Rule-based pretraining-corpus filters: the C4 line-level cleaning
cascade (Raffel et al. 2020, "Exploring the Limits of Transfer Learning
with a Unified Text-to-Text Transformer", JMLR — §2.2 heuristics) and
the Gopher/MassiveText document-level quality rules (Rae et al. 2021,
"Scaling Language Models: Methods, Analysis & Insights from Training
Gopher", §A1.1).

Scale shape: every rule is a Catalyst higher-order-function expression
over the text column — ``split``/``filter``/``transform``/``aggregate``
— so the whole cascade is a shuffle-free scan-speed map with no Python
in the loop. At 100 TB this runs at parquet-read speed inside one
WholeStageCodegen span; the only downstream cost is whatever consumes
the verdict columns.

The rule THRESHOLDS are parameters (papers differ and corpora differ);
the defaults are the published C4/Gopher values. No analog in the
reference (`Week5_datingNLP.R` filters by language only, line 44-47);
this module is north-star training-data surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import in_set

# C4's line filter requires a terminal punctuation mark (period,
# exclamation, question mark, closing quote).
TERMINAL_PUNCT_PAT = "[.!?”\"']\\s*$"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def c4_line_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words_per_line: int = 5,
    require_terminal_punct: bool = True,
    line_blocklist: tuple[str, ...] = ("javascript",),
    doc_blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning, reported as per-document stats plus
    the cleaned text: split on newlines, keep lines that (a) have at
    least ``min_words_per_line`` words, (b) end in terminal punctuation
    (when ``require_terminal_punct``), and (c) contain no blocklisted
    word; then drop whole documents that contain a doc-level blocklist
    phrase (C4 uses "lorem ipsum" and the code brace ``{``) or retain
    fewer than ``min_kept_lines`` lines.

    Returns one row per input document — dropped docs are reported with
    ``keep = false`` rather than removed, so the same plan serves both
    the filter (``.filter("keep")``) and the audit table. Rows: id,
    ``n_lines`` (non-blank), ``n_kept_lines``, ``n_kept_words``,
    ``doc_blocked``, ``keep``, ``kept_text``.
    """
    s = F.coalesce(_col(text_col), F.lit(""))
    lines = F.filter(
        F.transform(F.split(s, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )

    def line_ok(l: Column) -> Column:
        ok = F.size(F.split(l, "\\s+")) >= min_words_per_line
        if require_terminal_punct:
            ok = ok & l.rlike(TERMINAL_PUNCT_PAT)
        low = F.lower(l)
        for w in line_blocklist:
            ok = ok & ~low.contains(w.lower())
        return ok

    kept = F.filter(lines, line_ok)
    doc_blocked = F.lit(False)
    low_doc = F.lower(s)
    for phrase in doc_blocklist:
        doc_blocked = doc_blocked | low_doc.contains(phrase.lower())
    n_kept = F.size(kept)
    return docs.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        F.aggregate(
            kept,
            F.lit(0).cast("long"),
            lambda acc, l: acc + F.size(F.split(l, "\\s+")),
        ).alias("n_kept_words"),
        doc_blocked.alias("doc_blocked"),
        (~doc_blocked & (n_kept >= min_kept_lines)).alias("keep"),
        F.array_join(kept, "\n").alias("kept_text"),
    )


# Gopher §A1.1 "required words": a document must contain at least
# ``min_stop_hits`` of these to survive (filters word-salad pages that
# pass the length rules).
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    stop_words: tuple[str, ...] = GOPHER_STOP_WORDS,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher/MassiveText document-level quality rules as one scan:
    word-count window, mean-word-length window, symbol-to-word ratio
    (``#`` and ``...``/``…``), bullet-start and ellipsis-end line
    fractions, fraction of words with an alphabetic character, and the
    required-stop-word rule. Emits the measured features, one boolean
    per rule, and the conjunction ``keep``.

    Features are rounded to 6 dp so the verdict is reproducible across
    engines (the oracle twin computes the identical arithmetic in
    DuckDB).
    """
    s = F.coalesce(_col(text_col), F.lit(""))
    words = F.filter(F.split(F.trim(s), "\\s+"), lambda w: F.length(w) > 0)
    n_words = F.size(words)
    lw = F.transform(words, lambda w: F.lower(w))
    mean_wl = F.when(
        n_words > 0,
        F.round(
            F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
            / n_words,
            6,
        ),
    ).otherwise(F.lit(0.0))
    n_symbols = (
        F.size(F.split(s, "#", -1))
        - 1
        + F.size(F.split(s, "\\.\\.\\.", -1))
        - 1
        + F.size(F.split(s, "…", -1))
        - 1
    )
    sym_ratio = F.when(
        n_words > 0, F.round(n_symbols / n_words, 6)
    ).otherwise(F.lit(0.0))
    lines = F.filter(
        F.transform(F.split(s, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.round(
            F.size(
                F.filter(lines, lambda l: l.rlike("^[\\u2022\\u2023\\u25e6*-]"))
            )
            / n_lines,
            6,
        ),
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.round(
            F.size(F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)$")))
            / n_lines,
            6,
        ),
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_words > 0,
        F.round(
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words,
            6,
        ),
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(F.filter(lw, lambda w: w.isin(*stop_words)))

    ok_words = n_words.between(min_words, max_words)
    ok_mean_wl = mean_wl.between(min_mean_word_len, max_mean_word_len)
    ok_symbols = sym_ratio <= max_symbol_word_ratio
    ok_bullets = bullet_frac <= max_bullet_line_frac
    ok_ellipsis = ellipsis_frac <= max_ellipsis_line_frac
    ok_alpha = alpha_frac >= min_alpha_word_frac
    ok_stops = stop_hits >= min_stop_hits
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        ok_words.alias("ok_words"),
        ok_mean_wl.alias("ok_mean_word_len"),
        ok_symbols.alias("ok_symbols"),
        ok_bullets.alias("ok_bullets"),
        ok_ellipsis.alias("ok_ellipsis"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stops.alias("ok_stop_words"),
        (
            ok_words
            & ok_mean_wl
            & ok_symbols
            & ok_bullets
            & ok_ellipsis
            & ok_alpha
            & ok_stops
        ).alias("keep"),
    )


# ----------------------------------------------------------------------
# Boilerplate / main-content extraction (jusText-style, DOM-free).
# ----------------------------------------------------------------------

# anchor tags: the only markup the DOM-free heuristic needs to see.
# [^<]* instead of a non-greedy .*? keeps the pattern's behavior
# engine-independent (Java regex vs RE2 in the DuckDB twin).
_ANCHOR_PAT = "<[aA]\\b[^>]*>[^<]*</[aA]>"


def classify_lines(
    lines: DataFrame,
    id_col: str = "doc_id",
    line_col: str = "_line",
    *,
    min_words: int = 5,
    min_stopword_ratio: float = 0.05,
    max_link_density: float = 0.4,
    short_words: int = 3,
    stop_words: tuple[str, ...] = None,
    with_line_text: bool = False,
) -> DataFrame:
    """Scan-side per-line feature + class stage over PRE-EXPLODED lines
    ``(id, line_idx, <line_col>)`` — the stateless half of
    :func:`boilerplate_line_stats`, factored out so the streaming twin
    (streaming/counts.py:streaming_boilerplate_stats) classifies with
    the IDENTICAL Catalyst expressions and only the cross-line context
    rule lives in state. Returns ``(id, line_idx, n_words,
    link_density, stopword_ratio, klass[, line])``."""
    from week5_datingnlp_big_data_spark.functions.stopwords import SNOWBALL_EN

    stops = list(stop_words) if stop_words is not None else list(SNOWBALL_EN)
    line = _col(line_col)
    words = F.split(line, "\\s+")
    n_words = F.size(words)
    stop_hits = F.size(
        F.filter(words, lambda w: in_set(F.lower(w), stops))
    )
    stopword_ratio = F.round(stop_hits / n_words, 6)
    delinked = F.regexp_replace(line, _ANCHOR_PAT, "")
    link_density = F.round(
        (F.length(line) - F.length(delinked)) / F.length(line), 6
    )
    n_pipes = F.length(line) - F.length(F.regexp_replace(line, "\\|", ""))
    is_boiler = (
        (link_density > F.lit(max_link_density))
        | F.lower(line).contains("copyright")
        | F.lower(line).contains("©")
        | (n_pipes >= 2)
    )
    klass = (
        F.when(is_boiler, F.lit("boiler"))
        .when(n_words < short_words, F.lit("short"))
        .when(
            (n_words >= min_words)
            & (stopword_ratio >= F.lit(min_stopword_ratio)),
            F.lit("good"),
        )
        .otherwise(F.lit("near"))
    )
    cols = [
        F.col(id_col),
        F.col("line_idx"),
        n_words.alias("n_words"),
        link_density.alias("link_density"),
        stopword_ratio.alias("stopword_ratio"),
        klass.alias("klass"),
    ]
    if with_line_text:
        cols.append(line.alias("line"))
    return lines.select(*cols)


def boilerplate_line_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 5,
    min_stopword_ratio: float = 0.05,
    max_link_density: float = 0.4,
    short_words: int = 3,
    stop_words: tuple[str, ...] = None,
    with_line_text: bool = False,
) -> DataFrame:
    """Per-line main-content classification in the style of jusText
    (Pomikálek 2011, "Removing boilerplate and duplicate content from
    web corpora", §3) without a DOM: newline-delimited lines are scored
    on link density (chars inside ``<a>…</a>``), stopword density, and
    length, classified ``boiler`` / ``good`` / ``short`` / ``near``,
    and then jusText's context rule runs — a ``near`` line adjacent to
    a ``good`` line is promoted into the kept set, while ``short`` and
    ``boiler`` lines never are. Nav strips (two or more ``|``
    separators) and copyright notices are boilerplate outright.

    Returns one row per non-blank line: id, ``line_idx`` (position in
    the raw newline split), ``n_words``, ``link_density`` (round 6),
    ``stopword_ratio`` (round 6), ``klass``, ``keep`` — plus the
    trimmed ``line`` itself when ``with_line_text`` (the rewrite
    consumer :func:`extract_main_content` needs it; the stats consumer
    shouldn't shuffle line bodies through the context window).

    Scale shape: the feature block is scan-speed HOF/regex algebra; the
    only shuffle is the lag/lead context window partitioned by the doc
    id (per-doc line counts are bounded, so no skewed partitions). The
    explode multiplies rows before the window — at 100 TB, partition
    sizing follows lines not docs, which maxPartitionBytes already
    handles since the explode is post-scan.
    """
    from pyspark.sql import Window

    s = F.coalesce(_col(text_col), F.lit(""))
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(F.split(s, "\n")).alias("line_idx", "_raw"),
    ).withColumn("_line", F.trim("_raw"))
    lines = exploded.filter(F.length("_line") > 0)
    scored = classify_lines(
        lines,
        id_col=id_col,
        min_words=min_words,
        min_stopword_ratio=min_stopword_ratio,
        max_link_density=max_link_density,
        short_words=short_words,
        stop_words=stop_words,
        with_line_text=with_line_text,
    )
    w = Window.partitionBy(id_col).orderBy("line_idx")
    prev_k = F.lag("klass").over(w)
    next_k = F.lead("klass").over(w)
    keep = (F.col("klass") == "good") | (
        (F.col("klass") == "near")
        & ((prev_k == "good") | (next_k == "good"))
    )
    return scored.withColumn("keep", keep)


def extract_main_content(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """The destructive consumer of :func:`boilerplate_line_stats` (the
    flags-then-cut pairing every filter family here ships): rebuild each
    document from its kept lines only. Returns one row per input doc —
    ``(id, n_lines, n_kept_lines, main_text)``, where docs whose every
    line was boilerplate keep an empty ``main_text`` rather than being
    dropped, so the same plan serves the rewrite and the audit. Truly
    empty docs (zero non-blank lines — NULL, empty, or all-whitespace
    text) also keep their row, with ``n_lines`` 0: the aggregation is
    left-joined back onto the distinct input ids so the "one row per
    input doc" contract holds for every input.

    One groupBy on the doc id; line order is restored by sorting the
    collected (line_idx, line) structs, not by trusting collect_list
    order (which is partition-arrival-dependent).
    """
    scored = boilerplate_line_stats(
        docs, text_col=text_col, id_col=id_col, with_line_text=True, **kwargs
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("line_idx"), F.col("line"))
    )
    agg = (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.filter(
                            F.collect_list(kept_struct),
                            lambda s: s.isNotNull(),
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("main_text"),
        )
    )
    ids = docs.select(id_col).distinct()
    return ids.join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_lines"), F.lit(0).cast("long")).alias("n_lines"),
        F.coalesce(F.col("n_kept_lines"), F.lit(0).cast("long")).alias(
            "n_kept_lines"
        ),
        F.coalesce(F.col("main_text"), F.lit("")).alias("main_text"),
    )
