"""Seeded input generation for the benchmark.

Every table is drawn from ``numpy.random.default_rng`` seeded by the run
seed and the table's name, then written with pyarrow, so the same seed
always gives byte-identical parquet files. The shapes follow the tables
the engine reads (``sources/schemas.py``): a TPC-H-like star schema plus
``events`` for the relational workload, a ``documents`` corpus with planted
near-duplicates for the text and codec workloads, and an okcupid-shaped
``profiles`` corpus with overlapping sex-marker words for the paper
pipeline.

This module imports neither pyspark nor the engine package.
"""

from __future__ import annotations

import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes. ``RELATIONAL_SCALE`` multiplies the TPC-H base row counts
# (scale 1 = 150k customers, 6M line items).
RELATIONAL_SCALE = 0.01
N_DOCUMENTS = 500
N_PROFILES = 300

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]

# Profiles: marker words overlap between the classes (presence rates
# P_OWN for the doc's own sex, P_CROSS for the other), so a depth-5 tree
# lands well inside (0.62, 0.95) accuracy instead of at 1.0.
MALE_WORDS = ["guy", "guys", "sports", "engineering", "beard", "whiskey"]
FEMALE_WORDS = ["girl", "girls", "dancing", "yoga", "sparkle", "brunch"]
P_OWN, P_CROSS = 0.5, 0.15
PROFILE_COMMON = [
    "think", "kind", "intellectual", "either", "music", "coffee", "travel",
    "books", "hiking", "movies", "food", "friends", "work", "life", "ocean",
    "sunset", "guitar", "kitchen", "garden", "city",
]
PROFILE_NOISE = [
    "<br />", "&amp;", "42", "mid-century", "don't", "x", "---", "the",
    "love", "i'm",
]
ESSAYS = [f"essay{i}" for i in range(10)]

_EPOCH_US = {
    "1995-01-01": 788918400 * 10**6,
    "2024-01-01": 1704067200 * 10**6,
}
_DAY_US = 86400 * 10**6


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(start: str, days: np.ndarray) -> pa.Array:
    us = _EPOCH_US[start] + (days * _DAY_US).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def _dates(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, span_days, n))


def relational_tables(seed: int) -> dict[str, pa.Table]:
    """TPC-H-like tables plus ``events``, keys dense from 0."""
    scale = RELATIONAL_SCALE
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    n_users = max(15, int(15_000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[r.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[r.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })

    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(r, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _dates(r, "1995-01-01", 2499, n_line),
    })

    r = _rng(seed, "events")
    # sorted instants over 30 days, microsecond resolution
    offs = np.sort(r.integers(0, 30 * _DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_EPOCH_US["2024-01-01"] + offs, type=pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_events)],
        "value": np.round(r.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })
    return out


def documents_table(seed: int) -> pa.Table:
    """Word-soup documents over a 30-word vocabulary. About 5% carry a
    trailing ``dup`` marker and about 3% copy an earlier document plus
    ``dup dup dup``, so the near-duplicate operators have pairs to find."""
    r = _rng(seed, "documents")
    n_docs = N_DOCUMENTS
    words = np.array(DOC_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.03:
            texts.append(texts[int(r.integers(0, i))] + " dup dup dup")
            continue
        toks = list(words[r.integers(0, len(words), int(r.integers(10, 100)))])
        if r.random() < 0.05:
            toks.append("dup")
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


_COMMON = np.array(PROFILE_COMMON)
_MID = np.array([f"mid{i}" for i in range(400)])
_RARE = np.array([f"rare{i}" for i in range(20_000)])
_NOISE = np.array(PROFILE_NOISE)


def _essay_words(r: np.random.Generator, n: int) -> np.ndarray:
    """``n`` essay words: half common, 30% from a skewed mid-frequency
    band that survives the 25/35 trim, 10% rare words the trim drops, 10%
    HTML/punctuation noise."""
    band = r.random(n)
    return np.select(
        [band < 0.5, band < 0.8, band < 0.9],
        [
            _COMMON[r.integers(0, len(_COMMON), n)],
            _MID[(r.random(n) ** 2 * len(_MID)).astype(np.int64)],
            _RARE[r.integers(0, len(_RARE), n)],
        ],
        _NOISE[r.integers(0, len(_NOISE), n)],
    )


def profiles_table(seed: int, n_rows: int = N_PROFILES) -> pa.Table:
    """okcupid-shaped profiles (``PROFILES_SCHEMA``): ~60/40 m/f, ten
    essays of HTML-laced word soup (10% empty), marker words planted by
    presence in a random essay of the profile."""
    r = _rng(seed, "profiles")
    n_essays = n_rows * len(ESSAYS)
    male = r.random(n_rows) < 0.6
    lengths = np.where(r.random(n_essays) < 0.1, 0, r.integers(30, 90, n_essays))
    words = _essay_words(r, int(lengths.sum())).tolist()
    bounds = np.concatenate([[0], np.cumsum(lengths)]).tolist()
    texts = [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    n_mark = len(MALE_WORDS)
    own = r.random((n_rows, n_mark)) < P_OWN
    cross = r.random((n_rows, n_mark)) < P_CROSS
    slots = r.integers(0, len(ESSAYS), (n_rows, 2 * n_mark))
    for i in range(n_rows):
        mine, theirs = (MALE_WORDS, FEMALE_WORDS) if male[i] else (FEMALE_WORDS, MALE_WORDS)
        planted = [w for w, hit in zip(mine, own[i]) if hit]
        planted += [w for w, hit in zip(theirs, cross[i]) if hit]
        for w, slot in zip(planted, slots[i]):
            k = i * len(ESSAYS) + int(slot)
            texts[k] = (texts[k] + " " + w).strip()
    essays = [texts[j::len(ESSAYS)] for j in range(len(ESSAYS))]

    def const(v: str) -> list[str]:
        return [v] * n_rows

    cols: dict[str, object] = {
        "doc_id": np.arange(n_rows, dtype=np.int64),
        "age": r.integers(18, 71, n_rows).astype(np.int32),
        "status": const("single"),
        "sex": np.where(male, "m", "f"),
        "orientation": const("straight"),
        "body_type": const("fit"),
        "diet": const("anything"),
        "drinks": const("socially"),
        "drugs": const(""),
        "education": const("college"),
        "ethnicity": const("white"),
        "height": np.round(66.0 + r.random(n_rows) * 12, 1),
        "income": pa.array([-1] * n_rows, pa.int32()),
        "job": const("engineer"),
        "last_online": const("2012-06-28-20-30"),
        "location": const("san francisco, california"),
        "offspring": const(""),
        "pets": const("likes dogs"),
        "religion": const(""),
        "sign": const("gemini"),
        "smokes": const("no"),
        "speaks": const("english"),
    }
    cols.update(zip(ESSAYS, essays))
    return pa.table(cols)


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> int:
    """Write ``<out_dir>/<name>.parquet`` per table; returns bytes written."""
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path, compression="snappy")
        total += path.stat().st_size
    return total
