"""Round-5 multimodal operators: audio spectral fingerprints + Hamming
near-dups (the audio analog of image dHash) and video scene-change
detection over real decoded frames."""

from __future__ import annotations

import numpy as np
import pytest

from week5_datingnlp_big_data_spark.functions import audiocodec, videocodec
from week5_datingnlp_big_data_spark.operators import multimodal as mm


def _tone_wav(frac_seq, phase=0.0, amp=0.5, rate=8000, block=100):
    wave = np.concatenate(
        [
            amp * np.sin(2 * np.pi * f * np.arange(block) + phase)
            for f in frac_seq
        ]
    )
    return audiocodec.encode_wav((wave * 32767).astype(np.int16), rate)


def _media(spark, rows):
    return spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )


def _seq(seed):
    return [
        mm.AFP_PROBE_FRACS[(seed + b) % mm.AFP_PROBES]
        for b in range(mm.AFP_BLOCKS)
    ]


def test_audio_fingerprint_phase_and_amplitude_invariant(spark):
    seq = _seq(0)
    media = _media(
        spark,
        [
            (0, "audio", _tone_wav(seq)),
            (1, "audio", _tone_wav(seq, phase=1.3)),
            (2, "audio", _tone_wav(seq, amp=0.1)),
            (3, "audio", _tone_wav(_seq(1))),
        ],
    )
    fp = {
        r["media_id"]: list(r["afp"])
        for r in mm.audio_fingerprint(media).collect()
    }
    assert fp[0] == fp[1] == fp[2]  # phase + gain invariant
    assert fp[0] != fp[3]           # different tone sequence
    assert all(
        len(v) == mm.AFP_BLOCKS and all(0 <= s < mm.AFP_PROBES for s in v)
        for v in fp.values()
    )


def test_audio_fingerprint_rate_invariant(spark):
    seq = _seq(2)
    media = _media(
        spark,
        [
            (0, "audio", _tone_wav(seq, rate=8000)),
            (1, "audio", _tone_wav(seq, rate=16000)),
        ],
    )
    fp = [
        list(r["afp"])
        for r in mm.audio_fingerprint(media)
        .orderBy("media_id")
        .collect()
    ]
    assert fp[0] == fp[1]


def test_audio_near_dups_tolerates_block_detune(spark):
    seq = _seq(3)
    detuned = list(seq)
    detuned[0] = mm.AFP_PROBE_FRACS[
        (mm.AFP_PROBE_FRACS.index(seq[0]) + 1) % mm.AFP_PROBES
    ]
    far = _seq(1)
    media = _media(
        spark,
        [
            (0, "audio", _tone_wav(seq)),
            (1, "audio", _tone_wav(seq, phase=0.7)),
            (2, "audio", _tone_wav(detuned)),
            (3, "audio", _tone_wav(far)),
        ],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_mismatch"]
        for r in mm.audio_near_dups(media, max_block_mismatch=2).collect()
    }
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 2)] == 1 and pairs[(1, 2)] == 1
    assert not any(3 in p for p in pairs)


def test_audio_near_dups_rejects_wide_tolerance(spark):
    media = _media(spark, [(0, "audio", _tone_wav(_seq(0)))])
    with pytest.raises(ValueError, match="pigeonhole"):
        mm.audio_near_dups(media, max_block_mismatch=8)


def test_audio_pigeonhole_key_entropy_defeats_random_corpus(spark):
    # The round-5 hazard: nibble-window join keys took ≤256 values, so
    # ANY corpus produced ~n²/256 candidate pairs. The group-hash keys
    # span AFP_PROBES^(AFP_BLOCKS/3) ≈ 1.7e7 values, so 400 random
    # audio-shaped fingerprints (expected pairwise mismatch ≈ 21 of 24
    # blocks) produce ZERO pairs at the audio_near_dups tolerance.
    from week5_datingnlp_big_data_spark.operators import dedup

    assert mm.AFP_PROBES ** (mm.AFP_BLOCKS // 3) >= 1_000_000
    rng = np.random.default_rng(5)
    syms = rng.integers(0, mm.AFP_PROBES, size=(400, mm.AFP_BLOCKS))
    sig = spark.createDataFrame(
        [(i, [int(x) for x in row]) for i, row in enumerate(syms)],
        "media_id long, afp array<int>",
    )
    pairs = dedup.symbol_near_dup_pairs(
        sig, "afp", n_symbols=mm.AFP_BLOCKS, id_col="media_id", max_mismatch=2
    )
    assert pairs.count() == 0


def test_symbol_pigeonhole_recovers_planted_near_dups(spark):
    from week5_datingnlp_big_data_spark.operators import dedup

    base = [(i * 3 + 1) % 8 for i in range(24)]
    mut1 = list(base)
    mut1[5] = (mut1[5] + 1) % 8                      # 1 mismatch
    mut2 = list(base)
    mut2[0], mut2[23] = (mut2[0] + 3) % 8, (mut2[23] + 5) % 8  # 2
    mut3 = list(base)
    for j in (2, 9, 17):                              # 3: past tolerance
        mut3[j] = (mut3[j] + 1) % 8
    sig = spark.createDataFrame(
        [(0, base), (1, mut1), (2, mut2), (3, mut3)],
        "doc_id long, syms array<int>",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_mismatch"]
        for r in dedup.symbol_near_dup_pairs(
            sig, "syms", n_symbols=24, max_mismatch=2
        ).collect()
    }
    assert pairs[(0, 1)] == 1 and pairs[(0, 2)] == 2
    assert (0, 3) not in pairs
    # mut1 vs mut2: 3 mismatches -> out; mut1 vs mut3: 4 -> out
    assert (1, 2) not in pairs and (1, 3) not in pairs


def test_audio_real_codec_gates_non_wav(spark):
    media = _media(spark, [(0, "audio", b"not a wav")])
    with pytest.raises(Exception, match="PCM WAV|NotImplementedError"):
        mm.audio_fingerprint(media).collect()


def _scene_video(grays, frames_per_scene=3, hw=8):
    frames = np.stack(
        [
            np.full((hw, hw), g, dtype=np.uint8)
            for g in grays
            for _ in range(frames_per_scene)
        ]
    )
    return videocodec.encode_y4m_mono(frames, fps=(10, 1))


def test_scene_changes_counts_cuts_exactly(spark):
    media = _media(
        spark,
        [
            (0, "video", _scene_video([40, 200, 35])),   # 2 cuts
            (1, "video", _scene_video([100])),           # constant: 0 cuts
            (2, "video", _scene_video([10, 240])),       # 1 cut
        ],
    )
    out = {
        r["media_id"]: r
        for r in mm.scene_changes(media, threshold=25.0).collect()
    }
    assert out[0]["n_cuts"] == 2 and out[0]["n_frames"] == 9
    assert out[1]["n_cuts"] == 0 and out[1]["max_diff"] == 0.0
    assert out[2]["n_cuts"] == 1 and out[2]["max_diff"] == 230.0
    # within-scene diffs are zero: mean = cut mass / n_diffs
    assert out[2]["mean_diff"] == round(230.0 / 5, 6)


def test_scene_changes_single_frame(spark):
    one = videocodec.encode_y4m_mono(
        np.full((1, 4, 4), 7, dtype=np.uint8)
    )
    media = _media(spark, [(0, "video", one)])
    row = mm.scene_changes(media).first()
    assert row["n_frames"] == 1 and row["n_cuts"] == 0
