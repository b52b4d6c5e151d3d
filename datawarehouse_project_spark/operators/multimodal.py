"""Multimodal audio: a pure-python WAV/PCM codec over one Arrow stage.

Media lives as a ``binary`` payload; the codec (RIFF container, 8/16-bit
PCM, no external libraries) turns it into integer-exact energy features.
Foreign formats (mp3/ogg/flac) fall back to a deterministic stub row, and
a decode that raises becomes a stub row too, never a task failure: that
is the quarantine contract.

The registered row ``multimodal_audio_features`` runs as ONE ``mapInPandas``
that synthesizes each document's WAV and decodes it in the same batch.
The codec and the stage are built from closures (as
``operators/bpe.py::_trainer`` is), so cloudpickle ships them by value
and a Python worker needs no import of this package.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import table
from ..plans.registry import register
from ..session import prepare

AUDIO_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),  # per channel
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("sum_sq", T.LongType(), True),  # exact int64
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_crossings", T.IntegerType(), True),
        T.StructField("decoded", T.BooleanType(), True),
    ]
)


def _wav_codec():
    """The codec as ``(synth_wav, parse_wav, wav_decoder)``, built from
    closures so that a Python worker unpickles it without importing this
    package."""
    import hashlib
    import struct as st

    def synth_wav(
        samples: list[int], sample_rate: int = 8000, n_channels: int = 1
    ) -> bytes:
        """Deterministic 16-bit PCM WAV writer (the parser's inverse)."""
        raw = st.pack(f"<{len(samples)}h", *samples)
        byte_rate = sample_rate * n_channels * 2
        fmt = st.pack("<HHIIHH", 1, n_channels, sample_rate, byte_rate,
                      n_channels * 2, 16)
        body = b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
        body += b"data" + st.pack("<I", len(raw)) + raw
        return b"RIFF" + st.pack("<I", len(body)) + body

    def parse_wav(data: bytes) -> dict | None:
        """Minimal RIFF/WAVE reader: PCM format code 1, 8- or 16-bit.
        Returns None on anything that is not a well-formed PCM WAV (the
        caller falls back to the stub) — never raises on truncation."""
        if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            return None
        pos, fmt, raw = 12, None, None
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            (csize,) = st.unpack("<I", data[pos + 4 : pos + 8])
            body = data[pos + 8 : pos + 8 + csize]
            if len(body) < csize:
                return None  # truncated chunk
            if cid == b"fmt " and csize >= 16:
                audio_format, n_ch, rate = st.unpack("<HHI", body[:8])
                bits = st.unpack("<H", body[14:16])[0]
                if audio_format != 1 or n_ch < 1 or bits not in (8, 16):
                    return None  # compressed / exotic PCM: not ours
                fmt = (n_ch, rate, bits)
            elif cid == b"data":
                raw = body
            pos += 8 + csize + (csize & 1)  # chunks are word-aligned
        if fmt is None or raw is None:
            return None
        n_ch, rate, bits = fmt
        if bits == 16:
            n = len(raw) // 2
            samples = list(st.unpack(f"<{n}h", raw[: 2 * n]))
        else:  # 8-bit WAV is UNSIGNED, centered at 128
            samples = [b - 128 for b in raw]
        frames = len(samples) // n_ch
        samples = samples[: frames * n_ch]
        return {
            "n_channels": n_ch,
            "sample_rate": rate,
            "bits": bits,
            "samples": samples,
            "n_samples": frames,
        }

    def wav_decoder(payload: bytes, kind: str) -> dict:
        """Audio feature extraction: integer-exact energy (sum of squares
        in int64 — |s| <= 32768 so even hour-long audio stays far inside
        range), peak, RMS over all channels interleaved, and mono
        zero-crossings (first channel, sign changes ignoring zeros).
        Non-WAV payloads get the deterministic stub (decoded=False,
        digest-derived peak)."""
        parsed = parse_wav(payload) if kind == "audio" else None
        if parsed is None:
            digest = hashlib.md5(payload).digest()
            h = int.from_bytes(digest[:8], "big")
            return {
                "n_bytes": len(payload),
                "n_channels": None,
                "sample_rate": None,
                "n_samples": None,
                "duration_ms": None,
                "peak": int(h % 32768),
                "sum_sq": None,
                "rms": None,
                "zero_crossings": None,
                "decoded": False,
            }
        samples = parsed["samples"]
        n = len(samples)
        sum_sq = sum(s * s for s in samples)
        peak = max((abs(s) for s in samples), default=0)
        ch0 = samples[:: parsed["n_channels"]]
        zc = 0
        prev = 0
        for s in ch0:
            if s != 0:
                if prev != 0 and (s > 0) != (prev > 0):
                    zc += 1
                prev = s
        rate = parsed["sample_rate"]
        return {
            "n_bytes": len(payload),
            "n_channels": parsed["n_channels"],
            "sample_rate": rate,
            "n_samples": parsed["n_samples"],
            "duration_ms": int(parsed["n_samples"] * 1000 // rate) if rate else None,
            "peak": int(peak),
            "sum_sq": int(sum_sq),
            "rms": (sum_sq / n) ** 0.5 if n else None,
            "zero_crossings": int(zc),
            "decoded": True,
        }

    return synth_wav, parse_wav, wav_decoder


synth_wav, _parse_wav, wav_decoder = _wav_codec()


def _audio_stage():
    """The row's ``mapInPandas`` function over ``(media_id, text)``
    batches: each document's utf-8 bytes become 8 kHz PCM samples (every
    third document keeps its raw bytes, a foreign payload that takes the
    stub fallback), and the payload is decoded in the same batch. A
    decode that raises gives a stub row."""
    synth, _, decode = _wav_codec()
    columns = [f.name for f in AUDIO_DECODED_SCHEMA]
    failed = dict.fromkeys(columns[2:], None) | {"decoded": False}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, text in zip(pdf["media_id"], pdf["text"]):
                data = text.encode("utf-8")
                if media_id % 3 == 0:
                    payload = data
                else:
                    samples = [(b - 128) * 256 for b in data[:256]] or [0]
                    payload = synth(samples, sample_rate=8000)
                row = {"media_id": media_id, "kind": "audio"}
                try:
                    row.update(decode(payload, "audio"))
                except Exception:
                    row.update(failed)
                out.append(row)
            yield pd.DataFrame(out, columns=columns)

    return run


@register("multimodal_audio_features")  # rows-only (no oracle: Python
# codec path); the codec is pinned by golden tests in tests/test_multimodal.py
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audio pipeline over synthetic WAV media: one
    mapInPandas stage synthesizes deterministic PCM waveforms from
    document bytes (the stand-in for reading real audio blobs) and
    decodes them back through the REAL wav codec into integer-exact
    energy features. Every third document ships a deliberately foreign
    payload to exercise the stub fallback inline."""
    prepare(spark)
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )
    return docs.mapInPandas(_audio_stage(), schema=AUDIO_DECODED_SCHEMA)
