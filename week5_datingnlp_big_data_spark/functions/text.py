"""Text cleaning + tokenization as pure ``pyspark.sql.functions`` column
expressions — JVM-side, codegen-friendly, no Python in the hot path.

Covers reference operators X1–X5 (regex assembly/replace/split/lower,
Week5_datingNLP.R:53–61) and N1/N2/N4 (tokenize, stop-word removal,
single-char filter, R:65–87). The tokenizer is OUR spec (SURVEY.md section
4: quanteda's boundary rules are not bit-reproducible; we pin our own with
golden tests):

  1. normalize typographic apostrophe to ASCII
  2. lowercase
  3. split on runs of characters outside ``[a-z0-9'-]``
  4. strip leading/trailing apostrophes/hyphens from each token
  5. drop tokens containing no letter (kills numbers, punct-only, empties)

All patterns are RE2-safe so the DuckDB oracle can evaluate the identical
regex (Java regex is a superset; we stay in the common subset).
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.stopwords import (
    CUSTOM_STOP_WORDS,
    HTML_PATTERNS,
    SNOWBALL_EN,
)

# X1 — reference pattern assembly (Week5_datingNLP.R:56–58), verbatim data.
HTML_PAT: str = "(" + "|".join(HTML_PATTERNS) + ")"

# Custom-stop-word boundary semantics: ASCII word boundaries, pinned.
# Java's \b is Unicode-aware while RE2's (DuckDB oracle) is ASCII-only —
# they disagree when a stop word abuts a non-ASCII letter ("élove").
# The engine spec chooses ASCII boundaries: the Spark pattern emulates
# them with lookarounds (Java supports those; RE2 does not), the SQL
# pattern uses RE2's native ASCII \b. Both derive from the same word list.
_W = "[a-zA-Z0-9_]"
CUSTOM_STOP_PAT_JAVA: str = (
    f"(?<!{_W})(" + "|".join(CUSTOM_STOP_WORDS) + f")(?!{_W})"
)
CUSTOM_STOP_PAT: str = "\\b(" + "|".join(CUSTOM_STOP_WORDS) + ")\\b"

# Tokenizer spec patterns (shared with the DuckDB oracle). The Spark side
# evaluates the POSITIVE form TOKEN_KEEP_PAT via regexp_extract_all: the
# negated class in TOKEN_SPLIT_PAT compiles (JDK 17) to a per-character
# lambda predicate (Pattern$CharPredicate.negate) that is ~15x slower than
# the positive union class — measured 38 s vs 2.4 s tokenizing a 240 MB
# corpus on 32 cores. Extracting maximal [a-z0-9'-] runs yields exactly
# the split-on-separators token list minus the boundary empty strings,
# which the has-letter filter dropped anyway; the DuckDB twin keeps the
# split form (RE2 has no such pathology) and the fuzz suite pins equality.
TOKEN_SPLIT_PAT = "[^a-z0-9'-]+"
TOKEN_KEEP_PAT = "[a-z0-9'-]+"
TOKEN_TRIM_PAT = "^['-]+|['-]+$"
TOKEN_HAS_LETTER_PAT = "[a-z]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def has_content(c: Column | str) -> Column:
    """True unless the text is NULL, empty or whitespace-only. Contentless
    docs have no words or shingles, so the operators drop or zero them."""
    return F.length(F.trim(F.coalesce(_col(c), F.lit("")))) > 0


def clean_html(c: Column | str) -> Column:
    """X2 — replace HTML artifacts with a space (R:60)."""
    return F.regexp_replace(_col(c), HTML_PAT, " ")


def remove_custom_stopwords(c: Column | str) -> Column:
    """X3 — replace the reference's 31 custom stop words with a space,
    ASCII-word-boundary anchored (R:61; boundary dialect note above)."""
    return F.regexp_replace(_col(c), CUSTOM_STOP_PAT_JAVA, " ")


def split_raw(c: Column | str) -> Column:
    """X4 — raw single-space split, KEEPING empty tokens from runs of
    spaces (R:259: the reference's word-frequency path counts ``""`` as its
    top 'word'; reproduce exactly for golden parity)."""
    return F.split(_col(c), " ", -1)


def tokenize(c: Column | str) -> Column:
    """N1 (+X5) — lowercasing word tokenizer per the spec above. Returns
    ``array<string>``. Pure higher-order functions: stays JVM-side."""
    s = F.lower(F.regexp_replace(_col(c), "’", "'"))
    toks = F.regexp_extract_all(s, F.lit(TOKEN_KEEP_PAT), F.lit(0))
    toks = F.transform(toks, lambda t: F.regexp_replace(t, TOKEN_TRIM_PAT, ""))
    return F.filter(toks, lambda t: t.rlike(TOKEN_HAS_LETTER_PAT))


def in_set(c: Column | str, values: list[str]) -> Column:
    """``c IN values`` for a list of strings, built in a fixed number of
    JVM calls. ``Column.isin`` sends one py4j ``lit`` per value: for the
    182 stop words that was 756 of the 1,060 round trips of building
    ``wordcount_top100``. Here the values cross as one string, are split
    JVM-side and go to ``Column.isInCollection``, which gives the same
    ``In`` that the optimizer turns into the same ``InSet`` hash lookup.
    The values are sorted, so a leading empty string survives the split."""
    values = sorted(set(values))
    if not values:
        return _col(c).isin()
    if any(not isinstance(v, str) or "\n" in v for v in values):
        raise ValueError("in_set takes strings without newlines")
    jvm = SparkContext._active_spark_context._jvm
    jvalues = jvm.java.util.regex.Pattern.compile("\n").splitAsStream("\n".join(values)).toList()
    return Column(_col(c)._jc.isInCollection(jvalues))


def remove_stopwords(tokens: Column | str, words: list[str] | None = None) -> Column:
    """N2 — drop stop-list tokens, preserving duplicates of survivors
    (unlike ``array_except``, which would dedup). Default list is snowball
    English for quanteda parity (R:78)."""
    words = SNOWBALL_EN if words is None else words
    return F.filter(_col(tokens), lambda t: ~in_set(t, words))


def filter_min_length(tokens: Column | str, min_len: int = 2) -> Column:
    """N4 — drop tokens shorter than ``min_len`` (the reference drops
    single-letter tokens post-stem, R:86–87)."""
    return F.filter(_col(tokens), lambda t: F.length(t) >= min_len)


def make_names(names: list[str]) -> list[str]:
    """X6 — R ``make.names`` analog (R:133): make column names valid,
    unique identifiers. Invalid chars → '.', leading digit → 'X' prefix,
    duplicates suffixed '.1', '.2', …. Only needed for wide/pivoted
    layouts where terms become column names."""
    import re

    out: list[str] = []
    used: set[str] = set()
    next_suffix: dict[str, int] = {}
    for n in names:
        s = re.sub(r"[^0-9a-zA-Z._]", ".", n)
        if not s or s[0].isdigit() or (s[0] == "." and len(s) > 1 and s[1].isdigit()):
            s = "X" + s
        if s in used:
            # R make.unique: keep bumping the suffix until the candidate is
            # itself unused (so ['X.1','X','X'] -> ['X.1','X','X.2'], never
            # a duplicate out of the uniquifier).
            k = next_suffix.get(s, 1)
            while f"{s}.{k}" in used:
                k += 1
            next_suffix[s] = k + 1
            s = f"{s}.{k}"
        used.add(s)
        out.append(s)
    return out


def sanitize_columns(df):
    """Apply ``make_names`` to a DataFrame's columns (driver-side rename —
    metadata only, no job)."""
    return df.toDF(*make_names(df.columns))
