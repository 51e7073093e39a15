"""MPEG audio (MP3/MP2/MP1) frame-walk triage — container-level
features without sample decode, the audio sibling of mp4.py / webm.py's
box/element-tree triage.

An MPEG audio stream is a sequence of self-describing frames: 11-bit
sync, version (MPEG1/2/2.5), layer (I/II/III), bitrate index, sample
rate index, padding.  Walking the frame headers yields everything a
corpus curator filters on — duration, bitrate shape (CBR vs VBR),
sample rate, channel mode, frame count — at parse cost O(frames) with
zero DSP.  The polyphase filterbank + IMDCT sample decode remains the
documented external-codec extension point (decode_audio raises
NotImplementedError for MPEG payloads).

Layer III frame size = 144 * bitrate / sample_rate + padding (MPEG1;
72 * for MPEG2/2.5 whose granule halves), Layer I =
(12 * bitrate / sample_rate + padding) * 4, Layer II = 144 * always.
ID3v2 prefix tags are skipped via their syncsafe size."""

from __future__ import annotations

# bitrate tables in kbps, index 1..14 (0 = free, 15 = bad)
_BITRATES = {
    # (version_group, layer): [kbps per index]
    ("1", 1): [0, 32, 64, 96, 128, 160, 192, 224,
               256, 288, 320, 352, 384, 416, 448],
    ("1", 2): [0, 32, 48, 56, 64, 80, 96, 112,
               128, 160, 192, 224, 256, 320, 384],
    ("1", 3): [0, 32, 40, 48, 56, 64, 80, 96,
               112, 128, 160, 192, 224, 256, 320],
    ("2", 1): [0, 32, 48, 56, 64, 80, 96, 112,
               128, 144, 160, 176, 192, 224, 256],
    ("2", 2): [0, 8, 16, 24, 32, 40, 48, 56,
               64, 80, 96, 112, 128, 144, 160],
    ("2", 3): [0, 8, 16, 24, 32, 40, 48, 56,
               64, 80, 96, 112, 128, 144, 160],
}

_SAMPLE_RATES = {
    # version bits (11 = MPEG1, 10 = MPEG2, 00 = MPEG2.5)
    3: [44100, 48000, 32000],
    2: [22050, 24000, 16000],
    0: [11025, 12000, 8000],
}

_SAMPLES_PER_FRAME = {
    # (version_group, layer)
    ("1", 1): 384, ("1", 2): 1152, ("1", 3): 1152,
    ("2", 1): 384, ("2", 2): 1152, ("2", 3): 576,
}


def _skip_id3v2(payload: bytes) -> int:
    """Byte offset past a leading ID3v2 tag (syncsafe 28-bit size)."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return 0
    size = 0
    for b in payload[6:10]:
        size = (size << 7) | (b & 0x7F)
    return 10 + size


def _parse_header(payload: bytes, pos: int):
    """Parse one frame header at pos -> (frame_size, kbps, sample_rate,
    channels, version_bits, layer) or None if not a valid frame."""
    if pos + 4 > len(payload):
        return None
    b0, b1, b2, b3 = payload[pos:pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    vbits = (b1 >> 3) & 0x3
    if vbits == 1:  # reserved
        return None
    layer = 4 - ((b1 >> 1) & 0x3)
    if layer == 4:  # reserved layer bits 00
        return None
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format / invalid
    vgroup = "1" if vbits == 3 else "2"
    kbps = _BITRATES[(vgroup, layer)][br_idx]
    sr = _SAMPLE_RATES[vbits][sr_idx]
    padding = (b2 >> 1) & 1
    channels = 1 if ((b3 >> 6) & 0x3) == 3 else 2
    if layer == 1:
        size = (12 * kbps * 1000 // sr + padding) * 4
    else:
        per = 144 if (vgroup, layer) in (("1", 2), ("1", 3), ("2", 2)) \
            else 72
        size = per * kbps * 1000 // sr + padding
    if size < 4:
        return None
    return size, kbps, sr, channels, vbits, layer


def _walk(payload: bytes):
    """Find the first coherent frame chain (a frame whose successor
    also parses) and walk it to the end.  Returns (id3_bytes,
    [(kbps, sr, ch, layer, samples_per_frame), ...])."""
    pos = _skip_id3v2(payload)
    id3_bytes = pos
    start = None
    scan = pos
    while scan < len(payload) - 4 and scan < pos + 65536:
        hdr = _parse_header(payload, scan)
        if hdr is not None:
            nxt = scan + hdr[0]
            if nxt >= len(payload) or _parse_header(payload, nxt):
                start = scan
                break
        scan += 1
    if start is None:
        raise ValueError("no MPEG audio frame chain found")
    frames = []
    pos = start
    while pos + 4 <= len(payload):
        hdr = _parse_header(payload, pos)
        if hdr is None:
            break  # trailing tag (ID3v1/APE) or truncation
        size, kbps, sr, ch, vbits, layer = hdr
        frames.append((
            kbps, sr, ch, layer,
            _SAMPLES_PER_FRAME[("1" if vbits == 3 else "2", layer)],
        ))
        pos += size
    return id3_bytes, frames


def mp3_info(payload: bytes) -> dict:
    """Frame-walk summary: {sample_rate, channels, layer, n_frames,
    duration_ms, kbps_mean, kbps_min, kbps_max, vbr, id3_bytes}.
    Raises ValueError when no coherent frame chain exists (so the media
    path's per-row catch costs one row, not the task)."""
    return _summary(*_walk(payload))


def _summary(id3_bytes: int, frames: list) -> dict:
    kbps = [f[0] for f in frames]
    sr = frames[0][1]
    return {
        "sample_rate": sr,
        "channels": frames[0][2],
        "layer": frames[0][3],
        "n_frames": len(frames),
        "duration_ms": sum(f[4] for f in frames) * 1000 // sr,
        "kbps_mean": sum(kbps) / len(kbps),
        "kbps_min": min(kbps),
        "kbps_max": max(kbps),
        "vbr": len(set(kbps)) > 1,
        "id3_bytes": id3_bytes,
    }


def mp3_container_features(payload: bytes) -> list[float]:
    """16 triage floats from the frame walk (same normalization
    conventions as mp4.py's container features): duration, rate,
    channels, layer, frame count, bitrate stats, VBR flag, an 8-point
    bitrate-over-time profile."""
    id3_bytes, frames = _walk(payload)
    info = _summary(id3_bytes, frames)
    kbps = [f[0] for f in frames]
    prof = []
    for i in range(8):
        seg = kbps[i * len(kbps) // 8:(i + 1) * len(kbps) // 8] or [0]
        prof.append(sum(seg) / len(seg) / 320.0)
    out = [
        info["duration_ms"] / 60000.0,
        (info["sample_rate"] or 0) / 48000.0,
        (info["channels"] or 0) / 2.0,
        (info["layer"] or 0) / 3.0,
        info["n_frames"] / 65536.0,
        info["kbps_mean"] / 320.0,
        info["kbps_max"] / 320.0,
        1.0 if info["vbr"] else 0.0,
        *prof,
    ]
    import numpy as np

    return [float(np.float32(v)) for v in out]


def encode_mp3_skeleton(n_frames: int, kbps_pattern: list[int],
                        sample_rate: int = 44100,
                        id3: bool = False) -> bytes:
    """Valid MPEG1 Layer III frame chain with zeroed audio payloads —
    the fixture builder for triage tests (headers are real; the codec
    data is silence-shaped zeros, which a frame walker never reads)."""
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    out = bytearray()
    if id3:
        body = b"\x00" * 38
        out += b"ID3\x04\x00\x00" + bytes(
            [(len(body) >> 21) & 0x7F, (len(body) >> 14) & 0x7F,
             (len(body) >> 7) & 0x7F, len(body) & 0x7F]
        ) + body
    table = _BITRATES[("1", 3)]
    for i in range(n_frames):
        kbps = kbps_pattern[i % len(kbps_pattern)]
        br_idx = table.index(kbps)
        hdr = bytes([
            0xFF,
            0xE0 | (3 << 3) | (1 << 1) | 1,  # MPEG1, Layer III, no CRC
            (br_idx << 4) | (sr_idx << 2),
            0xC0,  # mono
        ])
        size = 144 * kbps * 1000 // sample_rate
        out += hdr + b"\x00" * (size - 4)
    return bytes(out)
