"""Audio-table operators: validation, exact features, fingerprint
near-dup, clip sampling — the audio leg of the multimodal ingest
pipeline, mirroring the image operators' contracts.

Table shape (the audio analog of the image input_hint): audio_id
string, bytes binary, sr int, n_samples int, channels int, fmt
string ('wav' container rows, 'pcm' headerless interleaved LE int16
— the analog of fmt='raw').

Design carried over from operators/images.py:
* `validate_audio` runs the same two-tier payload validator as
  `validate_images` (operators/validate.py): every metadata-decidable
  verdict (NULLs, positive metadata, format whitelist, pcm length
  equation, RIFF/WAVE signature) is a pure Catalyst column
  expression; only structurally-plausible WAV rows enter the Arrow
  kernel, and a clean pcm corpus pays ZERO Python. Errors are DATA
  (the image validator's codes; reference errors.rs:5-47).
* `audio_features` and `sample_audio_clips` are row functions of the
  image operators' per-row driver (arrow_map.row_map):
  one mapInArrow UDF over the six table columns, values read as
  exact Python ints (a NULL afp beside 64-bit ones stays exact).
* `audio_features` returns EXACT integer features (duration_ms,
  peak, energy = sum of squares, zcross, afp fingerprint), so the
  Spark/DuckDB oracle hash compare is bit-stable — no float
  thresholds anywhere.
* `audio_neardup_pairs` is a CONFIG of the shared banded core
  (dedup.phash_neardup_pairs on the 64-bit energy fingerprint):
  banding, two-sided tiling, skew caps and drop observability all
  inherit — a new modality is a column name, not a new join.
* `sample_audio_clips` slices fixed-length windows as standalone WAV
  rows (the audio analog of sample_video_frames: byte/array slicing
  only, decode of the sampled subset happens downstream).

Row conservation (learned from the webp route gap): the whitelist,
the signature checks and the kernel route are all read from one
format table, and the pytest suite pins output ids == input ids
across all formats and error classes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .arrow_map import row_map
from .validate import (
    IMG_ERR_DIMENSION_MISMATCH,
    IMG_ERR_NULL_METADATA,
    _payload_verdicts,
)

_COLS = ("audio_id", "bytes", "fmt", "sr", "n_samples", "channels")


def validate_audio(audio: DataFrame) -> DataFrame:
    """(audio_id, ok, err_code, err_detail) — one verdict per input
    row, errors as data. One run of the two-tier payload validator
    (validate._payload_verdicts): pcm is the headerless lane (length
    n_samples * channels * 2), wav names its RIFF/WAVE signature, and
    the entropy-coded formats are declined (CodecUnavailable). The
    codes are shared with validate_images so a mixed-modality
    curation job filters one vocabulary."""
    from ..audioio import decode_audio

    fmt, sr, n, ch = (F.col(c) for c in ("fmt", "sr", "n_samples", "channels"))
    rules = [
        (
            fmt.isNull() | sr.isNull() | n.isNull() | ch.isNull(),
            IMG_ERR_NULL_METADATA,
            F.format_string(
                "fmt=%s sr=%s n=%s ch=%s",
                F.coalesce(fmt, F.lit("None")),
                F.coalesce(sr.cast("string"), F.lit("None")),
                F.coalesce(n.cast("string"), F.lit("None")),
                F.coalesce(ch.cast("string"), F.lit("None")),
            ),
        ),
        (
            (sr <= 0) | (n <= 0) | (ch <= 0),
            IMG_ERR_DIMENSION_MISMATCH,
            F.format_string(
                "sr=%d n_samples=%d channels=%d must be positive", sr, n, ch
            ),
        ),
    ]
    riff = (F.expr("substring(bytes, 1, 4)") != F.lit(b"RIFF")) | (
        F.expr("substring(bytes, 9, 4)") != F.lit(b"WAVE")
    )
    formats = {"wav": (riff, "missing RIFF/WAVE signature"), "pcm": None}

    def check(buf, fmt, sr, n, ch):
        decode_audio(buf, fmt, sr, n, ch)
        return None, None

    # entropy-coded audio: valid formats with no decoder here
    declined = ("mp3", "aac", "opus", "flac", "ogg")
    return _payload_verdicts(
        audio.select(*_COLS),
        "audio_id", rules, declined, formats,
        n.cast("long") * ch.cast("long") * 2, False, check,
    )


def audio_features(audio: DataFrame, n_windows: int = 64) -> DataFrame:
    """Exact integer features per clip: (audio_id, sr, n_samples,
    duration_ms, peak, energy, zcross, afp).

    The metadata columns (sr, n_samples, and duration_ms =
    n_samples * 1000 // sr) ride THROUGH the kernel rather than
    re-joining the table afterwards — a join-back would be an extra
    exchange of the full (id, metadata) projection at 10^12 rows,
    the exact shape the crossmodal carried-column verify replaced.

    Features are computed on the 16-BIT-NORMALIZED signal
    (audioio.decode_audio_norm16): scale-invariant across container
    widths — a clip has the same peak/energy/zcross/afp whether it
    shipped as 16/24/32-bit PCM, float, G.711 or ADPCM — and the
    int64 energy accumulator is exact to ~8.6e9 samples (native
    32-bit-scale energy is unstorable in a long at all).
    peak/energy/zcross are channel-0 integer stats
    (audioio.audio_stats_exact); afp is the 64-bit energy
    fingerprint (audioio.audio_fingerprint64), the banding column
    for audio_neardup_pairs. Clips shorter than n_windows cannot
    fingerprint: they emit afp = NULL (a data outcome, not a stage
    failure) and near-dup skips them."""
    from ..audioio import (
        audio_fingerprint64,
        audio_stats_exact,
        decode_audio_norm16,
    )

    schema = ("audio_id string, sr int, n_samples int, duration_ms long, "
              "peak long, energy long, zcross long, afp long")

    def row(audio_id, buf, fmt, sr, n, ch):
        x = decode_audio_norm16(buf, fmt, sr, n, ch)
        st = audio_stats_exact(x)
        afp = audio_fingerprint64(x, n_windows) if n >= n_windows else None
        return [(audio_id, sr, n, n * 1000 // sr, st["peak"], st["energy"],
                 st["zcross"], afp)]

    return row_map(audio, _COLS, row, schema)


def audio_neardup_pairs(
    audio: DataFrame,
    max_hamming: int = 2,
    n_bands: int = 4,
    n_windows: int = 64,
    hot_threshold: int | None = 4096,
    max_bucket: int | None = None,
    drop_observation=None,
) -> DataFrame:
    """Near-duplicate clips by energy-fingerprint Hamming distance:
    (id_a, id_b, hamming). A pure CONFIG of the shared banded core —
    fingerprint column in, phash_neardup_pairs machinery (banding,
    guaranteed recall for max_hamming < n_bands, adaptive two-sided
    tiling, armed caps with drop observability) unchanged."""
    from .dedup import phash_neardup_pairs

    feats = audio_features(audio, n_windows).select("audio_id", "afp") \
        .filter(F.col("afp").isNotNull())  # sub-n_windows clips: no fp
    return phash_neardup_pairs(
        feats, max_hamming=max_hamming, id_col="audio_id", phash="afp",
        n_bands=n_bands, hot_threshold=hot_threshold,
        max_bucket=max_bucket, drop_observation=drop_observation,
    )


def sample_audio_clips(
    audio: DataFrame, clip_samples: int, n_clips: int = 4
) -> DataFrame:
    """Fixed-length clip sampling (the audio analog of
    sample_video_frames): n_clips windows of clip_samples frames at
    deterministic evenly-spaced offsets, re-emitted as standalone
    16-bit WAV rows (audio_id, clip_idx, t0 = exact sample offset,
    t0_ms, bytes, sr, n_samples, channels, fmt='wav') the rest of
    the audio suite decodes. Sources decode through the 16-bit
    NORMALIZED path (deep PCM shifts down rather than saturating at
    +-32767 — re-encoding native 24/32-bit values into an i16
    container would square-wave anything above -48 dBFS). Clips
    shorter than clip_samples emit nothing (same posture as frame
    sampling past EOF)."""
    from ..audioio import decode_audio_norm16, encode_wav

    schema = ("audio_id string, clip_idx int, t0 long, t0_ms long, "
              "bytes binary, sr int, n_samples int, channels int, "
              "fmt string")

    def row(audio_id, buf, fmt, sr, n, ch):
        if n < clip_samples:
            return []
        x = decode_audio_norm16(buf, fmt, sr, n, ch)
        span = n - clip_samples
        t0s = [span * k // (n_clips - 1) if n_clips > 1 else 0
               for k in range(n_clips)]
        return [(audio_id, k, t0, t0 * 1000 // sr,
                 encode_wav(x[t0 : t0 + clip_samples], sr, "i16"), sr,
                 clip_samples, ch, "wav") for k, t0 in enumerate(t0s)]

    return row_map(audio, _COLS, row, schema)
