"""Multimodal audio operator tests: frame sampling, feature extraction,
resampling — schema, batch shape, and numeric sanity."""

import numpy as np
import pytest

from datasketches_pig_spark.data.clips import generate_clips_pandas


@pytest.fixture(scope="module")
def clips(spark):
    pdf, _, _ = generate_clips_pandas(15, seed=21)
    return spark.createDataFrame(pdf).cache(), pdf


def test_frame_sample(spark, clips):
    from datasketches_pig_spark.audioops.features import frame_sample

    df, pdf = clips
    out = frame_sample(df, n_frames=4, frame_ms=50).toPandas()
    assert set(out.columns) == {"clip_id", "frame_idx", "t_ms", "frame", "sr_hz"}
    per_clip = out.groupby("clip_id").size()
    assert (per_clip <= 4).all() and (per_clip >= 1).all()
    row = out.iloc[0]
    frame = np.frombuffer(row["frame"], dtype="<f4")
    assert len(frame) == int(row["sr_hz"] * 0.05)
    assert np.abs(frame).max() <= 1.01


def test_extract_features(spark, clips):
    from datasketches_pig_spark.audioops.features import extract_features

    df, pdf = clips
    out = extract_features(df).toPandas().set_index("clip_id")
    assert len(out) == len(pdf)
    assert (out["rms"] > 0).all()
    # synth notes live in 110 Hz .. ~2.9 kHz
    assert (out["dominant_freq_hz"] >= 50).all()
    assert (out["dominant_freq_hz"] <= 4000).all()
    assert (out["spectral_rolloff_hz"] >= out["dominant_freq_hz"] * 0.5).all()


def test_resample(spark, clips):
    from datasketches_pig_spark.audioops.features import resample_stage

    df, pdf = clips
    out = resample_stage(df, target_sr=16000).toPandas().set_index("clip_id")
    assert (out["sr_hz"] == 16000).all()
    for _, row in pdf.iterrows():
        n_out = out.loc[row.clip_id, "n_samples"]
        expected = row.dur_ms / 1000 * 16000
        assert abs(n_out - expected) / expected < 0.05


def test_g711_all_256_codes_idempotent():
    """The canonical G.711 self-consistency check: encode(decode(c)) == c
    for every code — exactly, for all 256 A-law codes; for µ-law all codes
    except 0x7F, the spec's 'negative zero' alias (decodes to 0, which the
    encoder canonically emits as 0xFF)."""
    from datasketches_pig_spark.audioops.codecs import (
        g711_alaw_decode,
        g711_alaw_encode,
        g711_ulaw_decode,
        g711_ulaw_encode,
    )

    codes = np.arange(256, dtype=np.uint8)
    a_back = np.frombuffer(
        g711_alaw_encode(g711_alaw_decode(codes.tobytes())), dtype=np.uint8
    )
    assert (a_back == codes).all()

    u_back = np.frombuffer(
        g711_ulaw_encode(g711_ulaw_decode(codes.tobytes())), dtype=np.uint8
    )
    mismatch = np.flatnonzero(u_back != codes)
    assert mismatch.tolist() == [0x7F]
    assert g711_ulaw_decode(bytes([0x7F]))[0] == 0.0
    assert u_back[0x7F] == 0xFF


def test_g711_spec_anchors_and_snr():
    """Spec anchor bytes (silence → 0xD5 A-law / 0xFF µ-law), output range
    inside [-1, 1], and telephony-grade SNR (≥ 35 dB) on sine content."""
    from datasketches_pig_spark.audioops.codecs import (
        g711_alaw_decode,
        g711_alaw_encode,
        g711_ulaw_decode,
        g711_ulaw_encode,
    )

    z = np.zeros(4, dtype=np.float32)
    assert g711_alaw_encode(z) == b"\xd5" * 4
    assert g711_ulaw_encode(z) == b"\xff" * 4

    t = np.linspace(0, 1, 8000, endpoint=False)
    x = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    for enc, dec in (
        (g711_alaw_encode, g711_alaw_decode),
        (g711_ulaw_encode, g711_ulaw_decode),
    ):
        y = dec(enc(x))
        assert (np.abs(y) <= 1.0).all()
        snr = 10 * np.log10((x**2).mean() / ((x - y) ** 2).mean())
        assert snr >= 35.0


def test_g711_decode_monotone_in_code_magnitude():
    """Within each sign, decoded linear values are strictly monotone in the
    (de-toggled) code's (segment, mantissa) ordinal — the staircase property
    of both companding laws."""
    from datasketches_pig_spark.audioops.codecs import (
        g711_alaw_decode,
        g711_ulaw_decode,
    )

    # A-law positive codes: toggled byte has bit7 set after ^0x55 → raw
    # bytes where (b ^ 0x55) & 0x80; ordinal = (b ^ 0x55) & 0x7F
    raw = np.arange(256, dtype=np.uint8)
    vals = g711_alaw_decode(raw.tobytes())
    pos = (raw ^ 0x55) & 0x80 > 0
    ordinal = (raw[pos] ^ 0x55) & 0x7F
    order = np.argsort(ordinal)
    assert (np.diff(vals[pos][order]) > 0).all()

    # µ-law positive codes: complement has bit7 clear → bytes ≥ 0x80;
    # larger complement ordinal = larger magnitude
    vals_u = g711_ulaw_decode(raw.tobytes())
    posu = raw >= 0x80
    ordu = (~raw[posu]) & 0x7F
    order = np.argsort(ordu)
    d = np.diff(vals_u[posu][order])
    assert (d >= 0).all() and (d > 0).sum() >= 125


def test_g711_dispatch_through_decode_clip():
    """decode_clip routes the new codec names and the SNR invariant holds
    through the dispatch layer."""
    from datasketches_pig_spark.audioops.codecs import (
        decode_clip,
        g711_alaw_encode,
        g711_ulaw_encode,
    )

    t = np.linspace(0, 0.25, 2000, endpoint=False)
    x = (0.6 * np.sin(2 * np.pi * 220 * t)).astype(np.float32)
    for codec, enc in (("g711_alaw", g711_alaw_encode), ("g711_ulaw", g711_ulaw_encode)):
        y = decode_clip(enc(x), codec, 8000)
        assert y.dtype == np.float32 and len(y) == len(x)
        snr = 10 * np.log10((x**2).mean() / ((x - y) ** 2).mean())
        assert snr >= 30.0, f"{codec}: SNR {snr:.1f}"


def test_g711_transcode_preserves_audio_shingles():
    """A G.711 transcode of a clip is a near-duplicate: the audio shingle
    sets of the raw and companded versions overlap at near-exact Jaccard
    (the invariance the `ulaw` dup class already proves; G.711's ~38 dB SNR
    is far above the feature path's noise floor)."""
    from datasketches_pig_spark.audioops.codecs import (
        decode_clip,
        g711_alaw_encode,
        g711_ulaw_encode,
        wav_encode_pcm16,
    )
    from datasketches_pig_spark.config import DedupConfig
    from datasketches_pig_spark.operators.shingle import audio_shingle_hashes

    cfg = DedupConfig()
    clips_pdf, _, _ = generate_clips_pandas(6, seed=31)
    raw = clips_pdf[clips_pdf["codec"] == "pcm_s16le"].head(4)
    assert len(raw) >= 2
    for _, row in raw.iterrows():
        pcm = decode_clip(row["bytes"], row["codec"], int(row["sr_hz"]))
        for enc, codec in (
            (g711_alaw_encode, "g711_alaw"),
            (g711_ulaw_encode, "g711_ulaw"),
        ):
            pcm2 = decode_clip(enc(pcm), codec, int(row["sr_hz"]))
            values, counts = audio_shingle_hashes(
                [pcm, pcm2], [int(row["sr_hz"])] * 2, cfg
            )
            h1, h2 = np.split(values, [counts[0]])
            assert len(h2) == counts[1]
            s1, s2 = set(h1.tolist()), set(h2.tolist())
            assert s1 and s2
            j = len(s1 & s2) / len(s1 | s2)
            assert j >= 0.95, f"{codec}: transcode Jaccard {j:.3f}"
