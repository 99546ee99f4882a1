"""WAV/RIFF codec + audio operators: round trips, G.711 conformance
against the JDK's converter, exact-feature brute-force checks, the
errors-as-data taxonomy, and row conservation."""

import struct

import numpy as np
import pytest

from segment_rtree_spark.audioio import (
    _ALAW_DEC,
    _MULAW_DEC,
    audio_fingerprint64,
    audio_stats_exact,
    decode_audio,
    encode_wav,
    parse_wav,
)
from segment_rtree_spark.codec_errors import DimensionMismatchError


def _sig(n, ch, seed, amp=30000):
    rng = np.random.default_rng(seed)
    return rng.integers(-amp, amp, size=(n, ch)).astype(np.int32)


def test_pcm_roundtrips_all_widths():
    x = _sig(777, 2, 1)
    for codec, scale in (("i16", 1), ("i24", 200), ("i32", 60000)):
        v = x * scale
        back = decode_audio(encode_wav(v, 16000, codec), "wav", 16000, 777, 2)
        assert np.array_equal(back, v), codec
    v8 = x[:, :1] >> 8
    back = decode_audio(encode_wav(v8, 16000, "u8"), "wav", 16000, 777, 1)
    assert np.array_equal(back, v8)


def test_float_wav_roundtrip():
    x = (_sig(512, 2, 2) / 32768.0).astype(np.float32)
    back = decode_audio(encode_wav(x, 44100, "f32"), "wav", 44100, 512, 2)
    assert back.dtype == np.float32 and np.array_equal(back, x)


def test_g711_roundtrip_quantizes_to_nearest_level():
    x = _sig(2000, 1, 3, amp=32700)
    for name, table in (("mulaw", _MULAW_DEC), ("alaw", _ALAW_DEC)):
        back = decode_audio(encode_wav(x, 8000, name), "wav", 8000, 2000, 1)
        # nearest-level contract: no representable value is closer
        levels = np.sort(np.unique(table.astype(np.int32)))
        idx = np.searchsorted(levels, x[:, 0]).clip(1, len(levels) - 1)
        best = np.minimum(
            np.abs(levels[idx] - x[:, 0]), np.abs(levels[idx - 1] - x[:, 0])
        )
        assert (np.abs(back[:, 0] - x[:, 0]) <= best).all(), name
        # idempotent on representable levels
        again = decode_audio(
            encode_wav(back, 8000, name), "wav", 8000, 2000, 1
        )
        assert np.array_equal(back, again), name


def test_g711_tables_match_jdk_converter(spark):
    """All 256 mu-law and A-law decode levels, bit-exact against
    javax.sound.sampled's G.711 converter (the foreign-implementation
    discipline of the image codecs, applied to audio)."""
    jvm = spark.sparkContext._jvm
    AudioFormat = jvm.javax.sound.sampled.AudioFormat
    AudioSystem = jvm.javax.sound.sampled.AudioSystem
    AudioInputStream = jvm.javax.sound.sampled.AudioInputStream
    for enc_name, table in (("ULAW", _MULAW_DEC), ("ALAW", _ALAW_DEC)):
        enc = getattr(AudioFormat.Encoding, enc_name)
        src = AudioFormat(enc, 8000.0, 8, 1, 1, 8000.0, False)
        stream = AudioInputStream(
            jvm.java.io.ByteArrayInputStream(bytearray(range(256))), src, 256
        )
        dst = AudioFormat(8000.0, 16, 1, True, False)
        out = AudioSystem.getAudioInputStream(dst, stream)
        pcm = bytes(out.readAllBytes())
        jv = np.frombuffer(pcm, "<i2").astype(np.int32)
        assert np.array_equal(jv, table.astype(np.int32)), enc_name


def test_jdk_reads_our_wav(spark):
    """javax.sound parses engine-written WAV containers and returns
    the same PCM (16-bit lane; the container-level interop check)."""
    jvm = spark.sparkContext._jvm
    x = _sig(300, 1, 4)
    buf = encode_wav(x, 22050, "i16")
    stream = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
        jvm.java.io.ByteArrayInputStream(bytearray(buf))
    )
    fmt = stream.getFormat()
    assert int(fmt.getSampleRate()) == 22050
    assert fmt.getChannels() == 1 and fmt.getSampleSizeInBits() == 16
    pcm = bytes(stream.readAllBytes())
    assert np.array_equal(np.frombuffer(pcm, "<i2").astype(np.int32), x[:, 0])


def test_pcm_headerless_lane():
    x = _sig(400, 2, 5)
    buf = x.astype("<i2").tobytes()
    back = decode_audio(buf, "pcm", 16000, 400, 2)
    assert np.array_equal(back, x)
    with pytest.raises(ValueError, match="pcm payload"):
        decode_audio(buf[:-2], "pcm", 16000, 400, 2)


def test_taxonomy_corrupt_declined_dims():
    x = _sig(100, 1, 6)
    buf = encode_wav(x, 8000, "i16")
    # corrupt container
    with pytest.raises(ValueError, match="RIFF"):
        decode_audio(b"JUNK" + buf[4:], "wav", 8000, 100, 1)
    with pytest.raises(ValueError):
        decode_audio(buf[:30], "wav", 8000, 100, 1)
    # valid-but-declined codec tag (MP3 inside WAV)
    b = bytearray(buf)
    b[20:22] = struct.pack("<H", 0x55)
    with pytest.raises(NotImplementedError, match="MP3"):
        decode_audio(bytes(b), "wav", 8000, 100, 1)
    # header/metadata disagreement: pre-allocation guard tier
    for bad in ((8000, 99, 1), (8001, 100, 1), (8000, 100, 2)):
        with pytest.raises(DimensionMismatchError):
            decode_audio(buf, "wav", *bad)
    with pytest.raises(DimensionMismatchError):
        decode_audio(buf, "wav", 8000, -5, 1)


def test_wave_extensible_resolves_subformat():
    """WAVE_FORMAT_EXTENSIBLE (0xFFFE) rows resolve the real codec
    from the subformat GUID's leading tag bytes."""
    x = _sig(64, 1, 7)
    buf = bytearray(encode_wav(x, 8000, "i16"))
    # rebuild fmt chunk as extensible: tag 0xFFFE, cbSize 22, GUID
    # leading with PCM tag 0x0001
    body = buf[20:36]
    ext = struct.pack("<H", 0xFFFE) + body[2:16]
    ext += struct.pack("<HHI", 22, 16, 0x3)  # cbSize, valid bits, mask
    ext += struct.pack("<H", 0x0001)  # subformat GUID: leading tag...
    ext += b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    new = buf[:16] + struct.pack("<I", len(ext)) + ext + buf[36:]
    back = decode_audio(bytes(new), "wav", 8000, 64, 1)
    assert np.array_equal(back, x)


def test_stats_and_fingerprint_brute_force():
    x = _sig(64 * 50, 1, 8)
    st = audio_stats_exact(x)
    assert st["peak"] == int(np.abs(x[:, 0]).max())
    assert st["energy"] == int(
        (x[:, 0].astype(np.int64) ** 2).sum()
    )
    s = np.sign(x[:, 0])
    nz = s[s != 0]
    assert st["zcross"] == int((nz[1:] != nz[:-1]).sum())
    fp = audio_fingerprint64(x)
    w = x[: 64 * 50, 0].astype(np.int64).reshape(64, 50)
    e = (w * w).sum(axis=1)
    want = 0
    for j in range(64):
        want = (want << 1) | int(e[j] * 64 > e.sum())
    want = want - (1 << 64) if want >= (1 << 63) else want
    assert fp == want


def test_energy_overflow_guard():
    x = np.full((8, 1), 2**31 - 1, np.int32)
    with pytest.raises(ValueError, match="overflow"):
        audio_stats_exact(x)


def test_parse_wav_odd_chunk_padding():
    """Odd-sized chunks carry a pad byte (RIFF word alignment); a
    3-byte junk chunk before fmt must not desync the walk."""
    x = _sig(32, 1, 9)
    buf = encode_wav(x, 8000, "i16")
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc\x00"
    spliced = buf[:12] + junk + buf[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    hdr = parse_wav(spliced)
    assert hdr["sr"] == 8000 and hdr["channels"] == 1
    assert np.array_equal(
        decode_audio(spliced, "wav", 8000, 32, 1), x
    )


def test_validate_audio_row_conservation(spark):
    """One verdict per input row across every lane and error class
    (the invariant the image validator's webp gap taught us to pin)."""
    from segment_rtree_spark.operators.audio import validate_audio

    x = _sig(128, 1, 10)
    rows = [
        ("c_wav_i16", encode_wav(x, 8000, "i16"), 8000, 128, 1, "wav"),
        ("c_wav_i24", encode_wav(x * 9, 8000, "i24"), 8000, 128, 1, "wav"),
        ("c_wav_mulaw", encode_wav(x, 8000, "mulaw"), 8000, 128, 1, "wav"),
        ("c_wav_ima", encode_wav(x, 8000, "ima"), 8000, 128, 1, "wav"),
        ("c_wav_f32", encode_wav((x / 32768).astype(np.float32), 8000, "f32"),
         8000, 128, 1, "wav"),
        ("c_pcm", x.astype("<i2").tobytes(), 8000, 128, 1, "pcm"),
        ("e_null", None, 8000, 128, 1, "wav"),
        ("e_meta", encode_wav(x, 8000, "i16"), None, 128, 1, "wav"),
        ("e_dims", encode_wav(x, 8000, "i16"), -1, 128, 1, "wav"),
        ("e_declined", b"ID3\x04" + bytes(60), 8000, 128, 1, "mp3"),
        ("e_unknown", bytes(10), 8000, 128, 1, "au"),
        ("e_trunc", x.astype("<i2").tobytes()[:-2], 8000, 128, 1, "pcm"),
        ("e_sig", bytes(60), 8000, 128, 1, "wav"),
        ("e_corrupt", encode_wav(x, 8000, "i16")[:30], 8000, 128, 1, "wav"),
        ("e_mismatch", encode_wav(x, 8000, "i16"), 8000, 127, 1, "wav"),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b) if b is not None else None, sr, n, ch, f)
         for i, b, sr, n, ch, f in rows],
        "audio_id string, bytes binary, sr int, n_samples int, "
        "channels int, fmt string",
    )
    got = {r["audio_id"]: r for r in validate_audio(df).collect()}
    assert sorted(got) == sorted(r[0] for r in rows)
    for k in got:
        assert got[k]["ok"] == k.startswith("c_"), (k, got[k])
    assert got["e_declined"]["err_code"] == "CodecUnavailable"
    assert got["e_unknown"]["err_code"] == "UnknownFormat"
    assert got["e_trunc"]["err_code"] == "TruncatedPayload"
    assert got["e_sig"]["err_code"] == "BadSignature"
    assert got["e_corrupt"]["err_code"] == "CorruptStream"
    assert got["e_mismatch"]["err_code"] == "DimensionMismatch"
    assert got["e_dims"]["err_code"] == "DimensionMismatch"


def test_audio_neardup_matches_brute_force(spark):
    from segment_rtree_spark.operators.audio import (
        audio_features,
        audio_neardup_pairs,
    )

    rng = np.random.default_rng(12)
    n_clips, wlen = 40, 20
    rows = []
    base = rng.integers(0, 2, size=64).astype(np.int64)
    for i in range(n_clips):
        bits = base.copy()
        # flip 0-3 bits
        for b in rng.choice(64, size=i % 4, replace=False):
            bits[b] ^= 1
        amps = np.where(bits, 9000, 100)
        signs = np.where(np.arange(64) % 2 == 0, 1, -1)
        x = np.repeat(amps * signs, wlen).astype(np.int32)[:, None]
        rows.append((f"c{i:02d}", bytearray(encode_wav(x, 8000, "i16")),
                     8000, 64 * wlen, 1, "wav"))
    df = spark.createDataFrame(
        rows, "audio_id string, bytes binary, sr int, n_samples int, "
        "channels int, fmt string",
    )
    feats = {r["audio_id"]: r["afp"] for r in audio_features(df).collect()}
    want = set()
    ids = sorted(feats)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            h = bin((feats[ids[a]] ^ feats[ids[b]]) & (2**64 - 1)).count("1")
            if h <= 2:
                want.add((ids[a], ids[b], h))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in audio_neardup_pairs(df, max_hamming=2, n_bands=4).collect()
    }
    assert got == want and want  # nonempty by construction


def test_sample_audio_clips_roundtrip(spark):
    from segment_rtree_spark.operators.audio import sample_audio_clips

    x = _sig(1000, 2, 13)
    df = spark.createDataFrame(
        [("a", bytearray(encode_wav(x, 16000, "i16")), 16000, 1000, 2, "wav"),
         ("short", bytearray(encode_wav(x[:50], 16000, "i16")),
          16000, 50, 2, "wav")],
        "audio_id string, bytes binary, sr int, n_samples int, "
        "channels int, fmt string",
    )
    clips = sample_audio_clips(df, clip_samples=100, n_clips=3).collect()
    assert sorted(c["clip_idx"] for c in clips) == [0, 1, 2]  # short skipped
    for c in clips:
        assert c["audio_id"] == "a" and c["n_samples"] == 100
        t0 = 900 * c["clip_idx"] // 2  # span * k // (n_clips - 1)
        assert c["t0"] == t0 and c["t0_ms"] == t0 * 1000 // 16000
        back = decode_audio(bytes(c["bytes"]), "wav", 16000, 100, 2)
        assert np.array_equal(back, x[t0 : t0 + 100])


def test_ima_core_matches_audioop_both_directions():
    """The IMA-ADPCM core against CPython's independent audioop C
    implementation: (1) any nibble stream expands to identical
    samples from state (0,0); (2) audioop-ENCODED streams decode in
    our core to exactly audioop's own reconstruction."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from segment_rtree_spark.audioio import _ima_core_decode

    rng = np.random.default_rng(17)
    nib = rng.integers(0, 16, size=(1, 500)).astype(np.uint8)
    packed = bytes(
        (int(nib[0, 2 * i]) << 4) | int(nib[0, 2 * i + 1])
        for i in range(250)
    )  # audioop packs HIGH nibble first
    ref = np.frombuffer(
        audioop.adpcm2lin(packed, 2, None)[0], "<i2"
    ).astype(np.int32)
    ours = _ima_core_decode(
        nib, np.zeros(1, np.int32), np.zeros(1, np.int32)
    )[0]
    assert np.array_equal(ours, ref)

    x = np.cumsum(rng.integers(-2000, 2000, size=800)).clip(
        -32000, 32000
    ).astype(np.int16)
    enc = audioop.lin2adpcm(x.tobytes(), 2, None)[0]
    ref2 = np.frombuffer(
        audioop.adpcm2lin(enc, 2, None)[0], "<i2"
    ).astype(np.int32)
    b = np.frombuffer(enc, np.uint8)
    nib2 = np.stack([b >> 4, b & 0xF], axis=-1).reshape(1, -1)
    ours2 = _ima_core_decode(
        nib2, np.zeros(1, np.int32), np.zeros(1, np.int32)
    )[0]
    assert np.array_equal(ours2, ref2)


def test_ima_container_roundtrip_and_guards():
    rng = np.random.default_rng(19)
    for ch in (1, 2):
        v = np.cumsum(
            rng.integers(-1500, 1500, size=(3000, ch)), axis=0
        ).clip(-32000, 32000).astype(np.int32)
        buf = encode_wav(v, 16000, "ima")
        back = decode_audio(buf, "wav", 16000, 3000, ch)
        assert back.shape == (3000, ch)
        # ADPCM is lossy: bounded tracking error, deterministic
        assert np.abs(back - v).max() < 4096
        assert np.array_equal(back, decode_audio(buf, "wav", 16000, 3000, ch))
        # metadata must land inside the last block (fact-chunk truth)
        with pytest.raises(DimensionMismatchError):
            decode_audio(buf, "wav", 16000, 200, ch)
    # corrupt block header index -> CorruptStream tier
    buf = encode_wav(
        np.zeros((2100, 1), np.int32), 8000, "ima"
    )
    b = bytearray(buf)
    data_at = buf.index(b"data") + 8
    b[data_at + 2] = 99  # step index > 88
    with pytest.raises(ValueError, match="header"):
        decode_audio(bytes(b), "wav", 8000, 2100, 1)


def test_norm16_scale_invariance_across_widths():
    """decode_audio_norm16 recovers the SAME 16-bit-scale signal from
    every integer container width — the contract audio_features'
    lane-independent oracle rides on."""
    from segment_rtree_spark.audioio import decode_audio_norm16

    x = _sig(500, 1, 21, amp=32000)
    base = decode_audio_norm16(encode_wav(x, 8000, "i16"), "wav", 8000, 500, 1)
    assert np.array_equal(base, x)
    for codec, scale in (("i24", 256), ("i32", 65536)):
        got = decode_audio_norm16(
            encode_wav(x * scale, 8000, codec), "wav", 8000, 500, 1
        )
        assert np.array_equal(got, x), codec
    got8 = decode_audio_norm16(
        encode_wav(x >> 8, 8000, "u8"), "wav", 8000, 500, 1
    )
    assert np.array_equal(got8, (x >> 8) << 8)


def test_features_and_clips_survive_full_scale_deep_pcm(spark):
    """The review-pass regressions: (1) a long full-scale 32-bit PCM
    clip must produce features (native-scale energy would overflow
    int64 and kill the kernel); (2) sample_audio_clips must emit the
    normalized signal, not +-32767 saturation; (3) a sub-64-sample
    clip emits afp=NULL and near-dup skips it without failing."""
    from segment_rtree_spark.operators.audio import (
        audio_features,
        audio_neardup_pairs,
        sample_audio_clips,
    )

    x16 = _sig(5000, 1, 22, amp=32000)
    rows = [
        ("deep", encode_wav(x16 * 65536, 8000, "i32"), 8000, 5000, 1, "wav"),
        ("base", encode_wav(x16, 8000, "i16"), 8000, 5000, 1, "wav"),
        ("short", encode_wav(x16[:40], 8000, "i16"), 8000, 40, 1, "wav"),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b), sr, n, ch, f) for i, b, sr, n, ch, f in rows],
        "audio_id string, bytes binary, sr int, n_samples int, "
        "channels int, fmt string",
    )
    feats = {r["audio_id"]: r for r in audio_features(df).collect()}
    assert len(feats) == 3
    # scale invariance end-to-end: 32-bit row == 16-bit row
    for c in ("peak", "energy", "zcross", "afp"):
        assert feats["deep"][c] == feats["base"][c], c
    assert feats["short"]["afp"] is None  # data outcome, not a crash
    assert feats["short"]["peak"] == int(np.abs(x16[:40]).max())
    # near-dup: deep and base are identical signals -> one pair at 0
    got = audio_neardup_pairs(df, max_hamming=2).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in got} == {
        ("base", "deep", 0)
    }
    # clip sampling from the 32-bit row returns the normalized window
    clips = {
        c["clip_idx"]: c
        for c in sample_audio_clips(
            df.filter("audio_id = 'deep'"), clip_samples=64, n_clips=2
        ).collect()
    }
    w0 = decode_audio(bytes(clips[0]["bytes"]), "wav", 8000, 64, 1)
    assert np.array_equal(w0, x16[:64])  # faithful, not saturated


def test_full_clip_fingerprints_exact_beside_a_short_clip(spark):
    """A sub-n_windows clip (afp NULL) in the same Arrow batch as full
    clips must not round their 64-bit fingerprints: every full clip's
    afp equals audio_fingerprint64 of its decoded signal, bit for bit
    (a mixed int/NULL column widened to float64 loses the low bits)."""
    from segment_rtree_spark.audioio import decode_audio_norm16
    from segment_rtree_spark.operators.audio import audio_features

    rows = [(f"a{i}", encode_wav(_sig(4000, 1, 40 + i), 8000, "i16"), 8000, 4000)
            for i in range(5)]
    rows.append(("short", encode_wav(_sig(20, 1, 49), 8000, "i16"), 8000, 20))
    df = spark.createDataFrame(
        [(i, bytearray(b), sr, n, 1, "wav") for i, b, sr, n in rows],
        "audio_id string, bytes binary, sr int, n_samples int, "
        "channels int, fmt string",
    ).coalesce(1)  # one partition: every clip shares one Arrow batch
    got = {r["audio_id"]: r["afp"] for r in audio_features(df).collect()}
    assert got.pop("short") is None
    want = {i: audio_fingerprint64(decode_audio_norm16(b, "wav", sr, n, 1), 64)
            for i, b, sr, n in rows[:-1]}
    assert got == want
