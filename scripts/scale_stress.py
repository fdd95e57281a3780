#!/usr/bin/env python
"""Reference-scale stress run: the FULL EP-1 pipeline (clean → tokenize →
stopword-remove → STEM → trimmed DFM (25/35, the reference's thresholds) →
CountVectorizer → stratified split → decision tree → confusion matrix) on
a 59,946-row synthetic profiles corpus — the reference's exact corpus size,
where it needs ~30 min of training time and 33 GB of RAM
(BASELINE.md). Prints one JSON line with per-stage wall-clock, the
local core count and the shuffle partition count.

Usage: python scripts/scale_stress.py [n_rows]
"""

from __future__ import annotations

import json
import random
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

DEFAULT_N_ROWS = 59_946
OUT = "/tmp/scale_stress_profiles.parquet"


def generate(spark, n_rows: int):
    """60k-row profiles corpus, generated distributed (driver-side loops
    at this size would dominate the measurement): seed-per-row on
    executors via mapInPandas."""
    import numpy as np
    import pandas as pd

    from week5_datingnlp_big_data_spark.sources.schemas import PROFILES_SCHEMA

    # Sex-marker words OVERLAP between classes (presence rates P_OWN vs
    # P_CROSS below): a disjoint vocabulary made EP-1 accuracy exactly 1.0,
    # which can't distinguish a broken tree from a working one. The
    # reference's own golden is 64.2% on a genuinely overlapping corpus
    # (Week5_datingNLP.out.txt:1 confusion matrix); these rates put the
    # Bayes ceiling near ~0.85 and a depth-5 tree in the 0.65–0.92 band
    # that the assertion at the bottom pins.
    male = ["guy", "guys", "sports", "engineering", "beard", "whiskey"]
    female = ["girl", "girls", "dancing", "yoga", "sparkle", "brunch"]
    P_OWN, P_CROSS = 0.5, 0.15
    common = [
        "think", "kind", "intellectual", "either", "music", "coffee",
        "travel", "books", "hiking", "movies", "food", "friends", "work",
        "life", "ocean", "sunset", "guitar", "kitchen", "garden", "city",
    ]
    noise = ["<br />", "&amp;", "42", "mid-century", "don't", "x", "---", "the", "love", "i'm"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                rng = random.Random(1234 + int(doc_id))
                sex = "m" if rng.random() < 0.6 else "f"
                own, cross = (male, female) if sex == "m" else (female, male)
                essays = []
                for _ in range(10):
                    if rng.random() < 0.1:
                        essays.append("")
                        continue
                    words = []
                    for _ in range(rng.randint(30, 90)):
                        r = rng.random()
                        if r < 0.5:
                            words.append(rng.choice(common))
                        elif r < 0.8:
                            # mid-frequency band: ~20k distinct terms with
                            # doc-freq well above the 25/35 trim → a
                            # realistically WIDE surviving vocabulary
                            # (reference: 12,857 features post-trim)
                            words.append(f"mid{int(rng.random() ** 2 * 20_000)}")
                        elif r < 0.9:
                            # rare band: ~200k distinct terms with df ≈ 1-3
                            # → trimmed away (reference: 91.6 % of 153k
                            # features removed)
                            words.append(f"rare{rng.randint(0, 200_000)}")
                        else:
                            words.append(rng.choice(noise))
                    essays.append(" ".join(words))
                # Presence-based markers: each marker word appears at most
                # once per doc (the tree's splits are presence thresholds,
                # as in the reference's guy<0.5 / girl>=0.5 tree).
                markers = [w for w in own if rng.random() < P_OWN]
                markers += [w for w in cross if rng.random() < P_CROSS]
                for w in markers:
                    slot = rng.randrange(10)
                    essays[slot] = (essays[slot] + " " + w).strip()
                rows.append((
                    int(doc_id), rng.randint(18, 70), "single", sex, "straight",
                    "fit", "anything", "socially", "", "college", "white",
                    66.0 + rng.random() * 12, -1, "engineer",
                    "2012-06-28-20-30", "san francisco, california", "",
                    "likes dogs", "", "gemini", "no", "english", *essays,
                ))
            yield pd.DataFrame(rows, columns=[f.name for f in PROFILES_SCHEMA.fields])

    ids = spark.range(n_rows).repartition(64)
    return ids.mapInPandas(gen, PROFILES_SCHEMA)


def main() -> None:
    from week5_datingnlp_big_data_spark.plans import pipelines
    from week5_datingnlp_big_data_spark.session import get_spark
    from week5_datingnlp_big_data_spark.sources import sinks

    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else DEFAULT_N_ROWS
    spark = get_spark("scale-stress", extra_conf={"spark.driver.memory": "24g"})
    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    generate(spark, n_rows).write.mode("overwrite").parquet(OUT)
    timings["generate_write"] = round(time.perf_counter() - t0, 1)

    profiles = spark.read.parquet(OUT)

    t0 = time.perf_counter()
    ep1_stages: dict[str, float] = {}
    r = pipelines.ep1_classification(
        profiles, min_docfreq=25, min_termfreq=35, max_depth=5,
        stage_timings=ep1_stages,
    )
    n_vocab = len(r.vocabulary)
    confusion = {(row["predicted"], row["actual"]): row["n"] for row in r.confusion.collect()}
    timings["ep1_full"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    # EP-2 reuses EP-1's trimmed DFM (the reference reuses all.tokens the
    # same way, R:234) rather than re-tokenizing from raw text.
    from week5_datingnlp_big_data_spark.operators import tfidf as tfidf_op

    tfidf_rows = tfidf_op.tf_idf(r.counts).count()
    timings["ep2_tfidf"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    r3 = pipelines.ep3_word_analysis(profiles, top_k=25, distinct_k=500)
    male_top = [x["word"] for x in r3.distinctive_male.take(5)]
    timings["ep3_freq"] = round(time.perf_counter() - t0, 1)

    timings["total"] = round(sum(timings.values()), 1)
    # Discriminating band: majority baseline is 0.6 (class prior), Bayes
    # ceiling ~0.85 for the overlapping marker rates above. A tree at 1.0
    # means the corpus degenerated back to separable; at <=0.62 the model
    # learned nothing beyond the prior. Either way the stress run can no
    # longer detect a broken pipeline — fail loudly.
    if not 0.62 < r.accuracy < 0.95:
        raise SystemExit(
            f"EP-1 accuracy {r.accuracy:.4f} outside the discriminating "
            "band (0.62, 0.95) — stress corpus or tree pipeline broke"
        )
    print(json.dumps({
        "n_docs": n_rows,
        "cores": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "vocab_after_trim": n_vocab,
        "accuracy": round(r.accuracy, 4),
        "confusion": {f"{k[0]}/{k[1]}": v for k, v in confusion.items()},
        "tfidf_rows": tfidf_rows,
        "distinctive_male_top5": male_top,
        "timings_sec": timings,
        "ep1_stage_sec": ep1_stages,
        "reference_baseline": "27-30 min train, 33 GB RAM, single R process",
    }))


if __name__ == "__main__":
    main()
