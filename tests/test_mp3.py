"""MPEG audio frame-walk triage (mp3.py): header parse across
version/layer/bitrate tables, ID3v2 skip, resync over junk prefixes,
CBR/VBR detection, duration arithmetic, and the ValueError guard."""

import numpy as np
import pytest

from medical_ocr_pipeline_spark.mp3 import (
    _parse_header,
    encode_mp3_skeleton,
    mp3_container_features,
    mp3_info,
)


def test_cbr_chain_with_id3():
    pl = encode_mp3_skeleton(20, [128], id3=True)
    info = mp3_info(pl)
    assert info["n_frames"] == 20
    assert info["sample_rate"] == 44100
    assert info["layer"] == 3 and info["channels"] == 1
    assert not info["vbr"]
    assert info["id3_bytes"] == 48
    # 20 frames x 1152 samples at 44100 Hz = 522.4 ms
    assert info["duration_ms"] == 20 * 1152 * 1000 // 44100


def test_vbr_detection_and_bitrate_stats():
    pl = encode_mp3_skeleton(30, [96, 128, 160])
    info = mp3_info(pl)
    assert info["vbr"]
    assert info["kbps_min"] == 96 and info["kbps_max"] == 160
    assert info["kbps_mean"] == pytest.approx(128.0)


def test_resync_over_junk_prefix():
    """A lone sync-looking byte pair inside junk must not start the
    chain: the walker requires the successor frame to parse too."""
    junk = b"\x00\xffj\xff\xe3garbage\x01\x02" * 3
    pl = junk + encode_mp3_skeleton(8, [64])
    assert mp3_info(pl)["n_frames"] == 8


def test_trailing_tag_tolerated():
    pl = encode_mp3_skeleton(6, [128]) + b"TAG" + b"\x00" * 124  # ID3v1
    assert mp3_info(pl)["n_frames"] == 6


def test_header_field_decode():
    pl = encode_mp3_skeleton(1, [192], sample_rate=32000)
    size, kbps, sr, ch, vbits, layer = _parse_header(pl, 0)
    assert (kbps, sr, ch, layer) == (192, 32000, 1, 3)
    assert size == 144 * 192000 // 32000


def test_features_shape_and_dispatch():
    from medical_ocr_pipeline_spark.multimodal import real_decode_features

    pl = encode_mp3_skeleton(16, [96, 320])
    feats = mp3_container_features(pl)
    assert len(feats) == 16
    assert feats[7] == 1.0  # VBR flag
    assert real_decode_features("audio", pl) == feats
    # WAV audio still routes to the sample decoder
    from medical_ocr_pipeline_spark.audio import encode_wav

    wav = encode_wav([0] * 160, 8000, 1, codec="ulaw")
    assert real_decode_features("audio", wav) != feats


def test_features_walk_frame_chain_once(monkeypatch):
    from medical_ocr_pipeline_spark import mp3

    calls = []
    walk = mp3._walk
    monkeypatch.setattr(mp3, "_walk", lambda pl: calls.append(1) or walk(pl))
    mp3.mp3_container_features(encode_mp3_skeleton(16, [96, 320]))
    assert len(calls) == 1


def test_garbage_raises_value_error():
    with pytest.raises(ValueError):
        mp3_info(b"not an mpeg stream at all" * 10)
    with pytest.raises(ValueError):
        mp3_info(b"")
