"""Audio payload handling for the multimodal column model — the audio
axis of SURVEY §1.1's opaque-binary-plus-typed-metadata design, next
to ops/imaging.py's image/video codecs.

The codec is a from-scratch pure-stdlib implementation of the public
RIFF/WAVE PCM-16 container (header layout per the Microsoft/IBM WAVE
spec): ``wav_encode`` writes the canonical 44-byte header + little-
endian int16 samples, ``wav_decode`` parses and validates it. The
fixture has no audio corpus, so ``waveform`` derives a DETERMINISTIC
integer waveform from the doc id — s(i) = ((id·31 + i·17) mod 2048)
− 1024, a full-scale sawtooth-like signal that is a closed-form
function both engines can compute, which is what lets the windowed
ENERGY analysis (sum of squares per frame window) hash-match a DuckDB
oracle even though only the Spark side ever touches real bytes: if
header parsing, sample decoding, or window slicing dropped or skewed
anything, the energies would diverge.

At 100 TB: audio payloads dominate I/O like any binary modality —
scan once, featurize in Arrow batches (mapInPandas), keep the feature
frame narrow, never collect payloads.
"""

from __future__ import annotations

import struct

SAMPLE_RATE = 16_000  # nominal; carried in the header, not the math


def waveform(doc_id: int, n_samples: int) -> list[int]:
    """Deterministic int16 waveform — closed form shared with the
    DuckDB oracle."""
    return [((doc_id * 31 + i * 17) % 2048) - 1024 for i in range(n_samples)]


def wav_encode(samples: list[int], rate: int = SAMPLE_RATE) -> bytes:
    """Canonical 44-byte RIFF/WAVE header + PCM-16LE payload."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,          # PCM fmt chunk size
        1,           # audio format: PCM
        1,           # channels
        rate,
        rate * 2,    # byte rate (mono 16-bit)
        2,           # block align
        16,          # bits per sample
        b"data",
        len(data),
    )
    return hdr + data


def wav_decode(payload: bytes) -> tuple[int, list[int]]:
    """Parse a PCM-16 mono WAV; returns (rate, samples). Raises on any
    malformed header — quarantine path, never silent skew."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (
        _,
        _,
        _,
        _,
        fmt_size,
        fmt,
        channels,
        rate,
        _,
        _,
        bits,
        data_tag,
        data_len,
    ) = struct.unpack("<4sI4s4sIHHIIHH4sI", payload[:44])
    # fmt_size must be 16 for plain PCM — an extended fmt chunk (18-byte
    # WAVE_FORMAT_EXTENSIBLE) shifts the data chunk, so every field read
    # from the fixed 44-byte layout after it would be garbage; reject
    # explicitly rather than relying on the downstream data_tag check
    # (ADVICE r9).
    if (
        fmt_size != 16
        or fmt != 1
        or channels != 1
        or bits != 16
        or data_tag != b"data"
    ):
        raise ValueError("unsupported WAV layout")
    n = data_len // 2
    return rate, list(struct.unpack(f"<{n}h", payload[44 : 44 + data_len]))
