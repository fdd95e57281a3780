"""Output pins for the media queries that build their payloads from
documents. Seven of them have no DuckDB twin (no WAV, YUV4MPEG2, JPEG or
GIF parser in SQL), so without these pins only their row counts were
checked; ``media_png_decode_stats`` is pinned too because it shares the
same document→payload encoder. Each pin is the row count plus a sha256
over the name-sorted columns and the sorted, normalized rows at sf0.001."""

from __future__ import annotations

import hashlib

import pytest

from week5_datingnlp_big_data_spark.registry import QUERIES

from tests.conftest import _norm

PINS = {
    "media_audio_stats": (500, "c89840eb449b53df"),
    "media_audio_dup_pairs": (1000, "dde4bcfddb5d1e92"),
    "media_scene_change_stats": (500, "7b205ee3c04eb0d0"),
    "media_jpeg_decode_stats": (500, "5e3490e349b3555d"),
    "media_png_decode_stats": (500, "de8e07ce53b7c951"),
    "media_gif_decode_stats": (500, "aaac0ce18c212536"),
    "media_jpeg_color_stats": (500, "4c5b1a6336eda649"),
    "media_jpeg_progressive_stats": (500, "0536a3d46e96deda"),
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
