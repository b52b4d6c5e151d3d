"""Audio codec and the registered audio row: WAV round trip and golden
features, foreign and truncated payloads, the end-to-end row as a kept
plan, and a stage that a Python worker loads without this package."""

from __future__ import annotations

import io
import math
import pickle
import struct as st
import subprocess
import sys
import wave

import pandas as pd
from pyspark import cloudpickle

from datawarehouse_project_spark.catalog import all_queries
from datawarehouse_project_spark.io import session_state
from datawarehouse_project_spark.operators.bpe import _trainer
from datawarehouse_project_spark.operators.multimodal import (
    _audio_stage,
    _parse_wav,
    synth_wav,
    wav_decoder,
)


def test_wav_codec_round_trip_and_golden_features():
    """synth_wav -> _parse_wav is the identity on samples/rate/channels,
    and wav_decoder's features match an independent computation (the
    stdlib `wave` module writes the golden bytes, proving container
    compatibility beyond our own writer)."""
    samples = [0, 1000, -2000, 3000, -3000, 32767, -32768, 5, -5, 0]
    data = synth_wav(samples, sample_rate=16000)
    parsed = _parse_wav(data)
    assert parsed is not None
    assert parsed["samples"] == samples
    assert parsed["sample_rate"] == 16000 and parsed["n_channels"] == 1

    # golden bytes via the stdlib writer (independent container impl)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(st.pack(f"<{len(samples)}h", *samples))
    golden = buf.getvalue()
    feats = wav_decoder(golden, "audio")
    assert feats["decoded"] is True
    assert feats["n_samples"] == len(samples)
    assert feats["sum_sq"] == sum(s * s for s in samples)
    assert feats["peak"] == 32768
    assert math.isclose(
        feats["rms"], (sum(s * s for s in samples) / len(samples)) ** 0.5
    )
    # sign pattern of nonzero samples: + - + - + - + - => 7 crossings
    assert feats["zero_crossings"] == 7
    assert feats["duration_ms"] == len(samples) * 1000 // 16000


def test_wav_codec_rejects_foreign_and_truncated():
    ok = synth_wav([100, -100] * 50)
    assert _parse_wav(ok) is not None
    assert _parse_wav(ok[: len(ok) // 2]) is None  # truncated data chunk
    assert _parse_wav(b"ID3\x04rest-of-an-mp3") is None
    stub = wav_decoder(b"ID3\x04rest-of-an-mp3", "audio")
    assert stub["decoded"] is False and stub["sum_sq"] is None
    # 8-bit unsigned PCM decodes centered at 128
    raw = bytes([128, 228, 28, 128])
    fmt = st.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
        + b"data" + st.pack("<I", len(raw)) + raw
    )
    wav8 = b"RIFF" + st.pack("<I", len(body)) + body
    parsed = _parse_wav(wav8)
    assert parsed is not None and parsed["samples"] == [0, 100, -100, 0]


def test_audio_pipeline_end_to_end(spark, sf_dir):
    """The registered synthetic-audio row: WAV rows decode with
    integer-exact features, foreign rows (every third doc) fall back to
    the stub, the run is deterministic, and the row is a kept plan whose
    second build launches no job."""
    build = all_queries()["multimodal_audio_features"]
    rows = {r.media_id: r for r in build(spark, sf_dir).collect()}
    assert len(rows) > 0
    sc = spark.sparkContext
    sc.setJobGroup("audio-build", "second build")
    try:
        second = build(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("audio-build") == []
    assert "multimodal_audio_features" in {
        e["name"]
        for e in session_state(spark).inventory()
        if e["kind"] == "plan" and e["sf_dir"] == sf_dir
    }
    again = {r.media_id: r for r in second.collect()}
    assert {k: str(v) for k, v in rows.items()} == {
        k: str(v) for k, v in again.items()
    }
    for mid, r in rows.items():
        if mid % 3 == 0:
            assert r.decoded is False and r.sum_sq is None
        else:
            assert r.decoded is True
            assert r.sample_rate == 8000 and r.n_channels == 1
            assert r.n_samples >= 1 and r.peak <= 32768
            assert r.sum_sq >= 0 and r.rms is not None


def test_stages_run_in_a_worker_that_cannot_import_the_package(tmp_path):
    """Spark's cloudpickle ships the audio stage and the BPE trainer by
    value: a Python started in another directory, with no path to this
    checkout, loads and runs both and gets the in-process results."""
    batch = pd.DataFrame(
        {"media_id": [1, 2, 3, 4], "text": ["low lower", "", "newest", "wide"]}
    )
    wf = pd.DataFrame({"word": ["low", "lower", "newest", "wide"], "n": [5, 2, 6, 3]})
    stage, train = _audio_stage(), _trainer(12)
    (tmp_path / "in.pkl").write_bytes(cloudpickle.dumps((stage, train, batch, wf)))
    code = (
        "import importlib.util, pickle\n"
        "import pandas as pd\n"
        "assert importlib.util.find_spec('datawarehouse_project_spark') is None\n"
        "stage, train, batch, wf = pickle.load(open('in.pkl', 'rb'))\n"
        "out = (pd.concat(stage(iter([batch]))), train(wf))\n"
        "pickle.dump(out, open('out.pkl', 'wb'))\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True, cwd=str(tmp_path),
        env={"PATH": "/usr/bin:/bin"},
    )
    frame, trained = pickle.loads((tmp_path / "out.pkl").read_bytes())
    pd.testing.assert_frame_equal(frame, pd.concat(stage(iter([batch]))))
    assert trained == train(wf)
    assert frame["decoded"].tolist() == [True, True, False, True]
