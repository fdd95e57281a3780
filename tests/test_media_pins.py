"""Output pins for rows-only query outputs: queries whose rows no DuckDB
twin checks, so without a pin only their row counts were checked.

- Seven media queries build their payloads from documents and have no
  twin (no WAV, YUV4MPEG2, JPEG or GIF parser in SQL);
  ``media_png_decode_stats`` is pinned too because it shares the same
  document→payload encoder.
- The seeded embedding top-k queries (BRP-LSH join, IVF, PQ, IVF-PQ), the
  MMR rerank over ``cosine_topk``'s pool and the k-means-celled semantic
  dedup pairs are not SQL-expressible.

Each pin is the row count plus a sha256 over the name-sorted columns and
the sorted, normalized rows at sf0.001. The pins hold on any BLAS kernel:
the grayscale JPEG paths settle exact .5 rounding ties on the exact DCT
value (functions/jpegcodec.py), not on the float product, whose last
ulp depends on the kernel."""

from __future__ import annotations

import hashlib

import pytest

from week5_datingnlp_big_data_spark.registry import QUERIES

from tests.conftest import _norm

PINS = {
    "media_audio_stats": (500, "c89840eb449b53df"),
    "media_audio_dup_pairs": (1000, "dde4bcfddb5d1e92"),
    "media_scene_change_stats": (500, "7b205ee3c04eb0d0"),
    "media_jpeg_decode_stats": (500, "eee9151e777b8510"),
    "media_png_decode_stats": (500, "de8e07ce53b7c951"),
    "media_gif_decode_stats": (500, "aaac0ce18c212536"),
    "media_jpeg_color_stats": (500, "4c5b1a6336eda649"),
    "media_jpeg_progressive_stats": (500, "ade2629a5a183fef"),
    "embedding_lsh_join_topk": (40, "91fe01735f03f74b"),
    "embedding_ivf_topk": (40, "0aa1cbb61a4150a9"),
    "embedding_pq_topk": (25, "76808c38469b75a4"),
    "embedding_ivfpq_topk": (25, "734a32415481580c"),
    "embedding_mmr_rerank": (10, "10dec78331bcb7c9"),
    "embedding_semantic_dedup": (121, "de6c0bfae9edbaa6"),
}


def fingerprint(df) -> tuple[int, str]:
    cols = sorted(df.columns)
    keyed = sorted(
        repr(tuple(_norm(r[c]) for c in cols)) for r in df.select(*cols).collect()
    )
    h = hashlib.sha256("\n".join([repr(cols), *keyed]).encode()).hexdigest()
    return len(keyed), h[:16]


@pytest.mark.parametrize("name", sorted(PINS))
def test_media_query_output_pinned(name, spark, sf_dir):
    assert fingerprint(QUERIES[name](spark, sf_dir)) == PINS[name]
