"""Streaming ingest near-dup filter: incoming images vs the kept corpus.

The batch operator `phash_neardup_against` answers "which of these new
images near-duplicate something we already keep" over a fixed batch;
an ingest pipeline wants the same answer continuously as images
arrive. Structured Streaming covers this with NO custom state: the
banded-hash candidate join is a stream-STATIC equi-join (the kept
corpus is the static side), and the exact Hamming verify is a
stateless filter — so the whole operator is append-mode, scales by
the band key, and restarts from the stream checkpoint like any other
source->join->sink query.

Contrast with `dedup_stream.streaming_first_seen` (exact dedup WITHIN
the stream, which genuinely needs per-key state): near-dup-vs-corpus
needs none, because the corpus side is fixed for the query's lifetime.
Corpus updates are a planned restart (re-read the static side), the
same operational model as any dimension-table refresh.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation

from ..operators.dedup import (
    crossmodal_neardup_against,
    lsh_pairs_against,
    phash_neardup_against,
)

log = logging.getLogger(__name__)

__all__ = [
    "streaming_neardup_matches",
    "streaming_crossmodal_matches",
    "streaming_audio_matches",
    "streaming_text_matches",
    "streaming_embed_matches",
    "streaming_ingest_pass_through",
    "streaming_crossmodal_pass_through",
    "streaming_text_pass_through",
]


def _auto_cap(corpus: DataFrame) -> int:
    """Corpus-scaled band-bucket cap: max(1024, 1% of corpus rows).

    The stream-static band join cannot tile at runtime (sizing is an
    action a micro-batch plan cannot run), so the corpus-side cap is
    the stream path's ONLY skew guard — it must be armed by default,
    not documented. The corpus is static for the query's lifetime, so
    this is one count() job at query build, the same price
    `ngram_jaccard_pairs` pays for max_df='auto'. At the default a
    band bucket must hold over 1024 members AND over 1% of the corpus
    before it drops — no discriminating signature does; buckets that
    big are boilerplate/constant payloads whose members are
    exact-dup-shaped and belong to exact_dups anyway."""
    return max(1024, int(0.01 * corpus.count()))


def _logged_drops(build, cap: int | None, warn: bool, tag: str,
                  buckets: str = "band bucket(s)",
                  rows: str = "corpus rows") -> DataFrame:
    """Build the match query as build(drop_observation) and log what
    the armed corpus-side cap will silently drop for the stream's
    whole lifetime. The operator fills the observation EAGERLY at
    query build (dedup._cap_buckets, which embed._bucketed_vectors also
    calls — the cap's own sizing job over the static corpus; for minhash and
    embeddings it also materializes the corpus checkpoint the stream
    reuses), so the price is known before the first micro-batch
    without a second stats pass over the corpus. warn=False (or no cap) passes no
    observation and skips the job."""
    obs = Observation() if warn and cap is not None else None
    out = build(obs)
    if obs is not None and obs.get["dropped_buckets"]:
        log.warning(
            "%s: corpus-side skew cap max_bucket=%d drops %d %s (%d %s) "
            "from the stream join — matches against those rows will NOT "
            "be reported (their members are exact-dup-shaped; handle via "
            "exact dedup). Pass max_bucket=None to opt out, or "
            "warn_drops=False to skip this check.",
            tag, cap, obs.get["dropped_buckets"], buckets,
            obs.get["dropped_rows"], rows,
        )
    return out


def streaming_neardup_matches(
    stream_images: DataFrame,
    corpus: DataFrame,
    max_hamming: int = 8,
    id_col: str = "image_id",
    phash: str = "phash",
    n_bands: int = 4,
    max_bucket: int | str | None = "auto",
    warn_drops: bool = True,
) -> DataFrame:
    """(new_id, corpus_id, hamming) append stream of corpus near-dups.

    `stream_images` is a streaming DataFrame (readStream source with at
    least (id_col, phash)); `corpus` is a static DataFrame of the kept
    images. Every arriving image joins the static corpus through the
    same 64/n_bands-bit band split as the batch operator — identical
    output rows to `phash_neardup_against` over the same input set
    (asserted stream==batch in tests).

    Downstream: sink the matches and anti-join them against the raw
    arrivals in the consumer (static-vs-static per micro-batch window
    or via foreachBatch) to get the pass-through set; emitting matches
    keeps THIS query stateless and append-only.

    `max_bucket` is the stream path's skew guard: over-cap CORPUS band
    buckets are dropped whole before the join (the adaptive tiling the
    batch operator uses needs a sizing action a stream cannot run).
    Default 'auto' ARMS the guard at a corpus-scaled cap (one corpus
    count() at query build — see `_auto_cap`): a hot corpus bucket
    would otherwise put |bucket| x |micro-batch∩bucket| pairs in one
    task EVERY micro-batch, forever, and the guarded path must be the
    default path. Pass None to opt out explicitly. With a cap set, a
    matching pair may emit once per surviving shared band — harmless
    to consumers keying on new_id.
    """
    if max_bucket == "auto":
        max_bucket = _auto_cap(corpus)
    return _logged_drops(
        lambda obs: phash_neardup_against(
            stream_images, corpus, max_hamming=max_hamming, id_col=id_col,
            phash=phash, n_bands=n_bands, max_bucket=max_bucket,
            drop_observation=obs,
        ),
        max_bucket, warn_drops, "streaming_neardup_matches",
    )


def streaming_crossmodal_matches(
    stream_images: DataFrame,
    corpus: DataFrame,
    max_hamming: int = 8,
    id_col: str = "image_id",
    phash: str = "phash",
    caption: str = "caption",
    n_bands: int = 4,
    max_bucket: int | str | None = "auto",
    warn_drops: bool = True,
) -> DataFrame:
    """(new_id, corpus_id, hamming, <caption>) append stream of joint
    caption+image near-dups vs the kept corpus — the streaming form of
    crossmodal_neardup_against (identical rows to the batch operator
    over the same input set; asserted stream==batch in tests).

    Stays stateless/append-only like streaming_neardup_matches: the
    caption fingerprint folds into the stream-static band join's
    bucket keys, and the exact-caption verify is a carried-column
    filter, not a join-back (a join-back onto the pair stream would be
    stream-stream). The corpus-side `max_bucket` guard ('auto' =
    corpus-scaled, see _auto_cap) caps band buckets AFTER the caption
    split — so a hot bucket here means many near-identical images
    under ONE caption, the precise pile exact dedup should have
    collapsed upstream.
    """
    if max_bucket == "auto":
        max_bucket = _auto_cap(corpus)
    # the operator's observation counts the caption-split buckets the
    # join actually uses
    return _logged_drops(
        lambda obs: crossmodal_neardup_against(
            stream_images, corpus, max_hamming=max_hamming, id_col=id_col,
            phash=phash, caption=caption, n_bands=n_bands,
            max_bucket=max_bucket, drop_observation=obs,
        ),
        max_bucket, warn_drops, "streaming_crossmodal_matches",
    )


def streaming_audio_matches(
    stream_audio: DataFrame,
    corpus: DataFrame,
    max_hamming: int = 2,
    n_bands: int = 4,
    n_windows: int = 64,
    max_bucket: int | str | None = "auto",
    warn_drops: bool = True,
) -> DataFrame:
    """(new_id, corpus_id, hamming) append stream of audio near-dups
    vs a kept corpus — the fifth ingest-filter modality (round 7).

    Both sides carry full audio rows (audio_id, bytes, sr, n_samples,
    channels, fmt); the energy fingerprint is computed IN the stream
    (audio_features' mapInArrow kernel runs per micro-batch — Arrow
    kernels are stream-safe) and on the static corpus once at build.
    From there it IS streaming_neardup_matches configured on the afp
    column: stateless stream-static band join, corpus-side 'auto'
    skew cap, append mode. Identical rows to
    phash_neardup_against(features, features) over the same arrivals
    (asserted stream==batch in tests)."""
    from ..operators.audio import audio_features

    feats = audio_features(corpus, n_windows).select("audio_id", "afp")
    stream_feats = audio_features(stream_audio, n_windows).select(
        "audio_id", "afp"
    )
    return streaming_neardup_matches(
        stream_feats,
        feats,
        max_hamming=max_hamming,
        id_col="audio_id",
        phash="afp",
        n_bands=n_bands,
        max_bucket=max_bucket,
        warn_drops=warn_drops,
    )


def streaming_text_matches(
    stream_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    rows_per_band: int = 4,
    max_bucket: int | str | None = "auto",
    warn_drops: bool = True,
) -> DataFrame:
    """(new_id, corpus_id) append stream of corpus near-dup DOCUMENTS —
    the minhash twin of streaming_neardup_matches, so text ingest gets
    the same continuous filter images have.

    `stream_docs` is a streaming DataFrame with at least (id_col,
    text); `corpus` is the static kept-document table. Each arriving
    document's minhash signature (the Arrow kernel runs per
    micro-batch) band-joins the corpus's banded signatures — identical
    output rows to `lsh_pairs_against` over the same input set
    (asserted stream==batch in tests). Stateless stream-static
    equi-join on the band key: no custom state, restarts from the
    stream checkpoint, corpus refresh = planned restart.

    `max_bucket` drops over-cap CORPUS band buckets whole (the
    stream-side skew guard, ARMED by default at the corpus-scaled
    'auto' cap — see streaming_neardup_matches for the rationale and
    the per-surviving-band emission caveat under a cap; None opts
    out).
    """
    if max_bucket == "auto":
        max_bucket = _auto_cap(corpus)
    return _logged_drops(
        lambda obs: lsh_pairs_against(
            stream_docs, corpus, id_col=id_col, text=text,
            rows_per_band=rows_per_band, max_bucket=max_bucket,
            drop_observation=obs,
        ),
        max_bucket, warn_drops, "streaming_text_matches",
    )


def streaming_embed_matches(
    stream_vecs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_bits: int | None = None,
    target_bucket: int | None = None,
    n_probe: int = 1,
    max_bucket: int | str | None = "auto",
    warn_drops: bool = True,
) -> DataFrame:
    """(new_id, corpus_id, score) append stream of corpus
    embedding-cosine near-dups — the EMBEDDING member of the ingest
    filter family (phash: streaming_neardup_matches; minhash:
    streaming_text_matches), so all three dedup modalities have a
    continuous filter.

    Stateless stream-static bucket equi-join: the corpus is bucketed
    once at query build (sign-LSH, n_bits auto-scaled from the STATIC
    corpus count), each arriving vector's bucket computes per
    micro-batch map-side, multi-probe explodes stream-side. The
    corpus-side max_bucket cap is the stream path's skew guard —
    ARMED by default at the ANN 'auto' cap (32 x target_bucket), with
    the same build-time drop warning as the other wrappers
    (warn_drops=False skips the one-job check; max_bucket=None opts
    out of the guard)."""
    from ..operators.embed import TARGET_BUCKET, _bucket_cap, embedding_neardup_against

    tb = TARGET_BUCKET if target_bucket is None else target_bucket
    cap = _bucket_cap(max_bucket, tb)
    return _logged_drops(
        lambda obs: embedding_neardup_against(
            stream_vecs, corpus, threshold=threshold, id_col=id_col,
            vec=vec, n_bits=n_bits, target_bucket=tb, n_probe=n_probe,
            max_bucket=cap, drop_observation=obs,
        ),
        cap, warn_drops, "streaming_embed_matches",
        buckets="bucket(s)", rows="corpus vectors",
    )


def streaming_ingest_pass_through(
    stream_images: DataFrame,
    corpus: DataFrame,
    path: str,
    checkpoint: str,
    max_hamming: int = 8,
    id_col: str = "image_id",
    phash: str = "phash",
    n_bands: int = 4,
    max_bucket: int | None = None,
    hot_threshold: int = 4096,
    trigger_available_now: bool = False,
):
    """End-to-end ingest filter: continuously append to `path` the
    arriving images that are NOT near-dups of the kept corpus.

    foreachBatch turns each micro-batch into a STATIC DataFrame, so
    the match step runs the full BATCH operator — including the
    adaptive hot-bucket tiling and two-sided caps the stream-static
    join cannot plan (its sizing pass is an action) — then anti-joins
    the arrivals against their matched ids. Exactly-once output comes
    from the stream checkpoint + parquet append semantics
    (re-delivered batches re-run with the same epoch id; downstream
    dedup-by-id absorbs replays, the standard foreachBatch contract).

    Returns the started StreamingQuery; callers own awaitTermination.
    """
    def matcher(batch_df):
        return phash_neardup_against(
            batch_df, corpus, max_hamming=max_hamming, id_col=id_col,
            phash=phash, n_bands=n_bands, max_bucket=max_bucket,
            hot_threshold=hot_threshold,
        )

    return _pass_through(
        stream_images, matcher, id_col, path, checkpoint, trigger_available_now
    )


def streaming_crossmodal_pass_through(
    stream_images: DataFrame,
    corpus: DataFrame,
    path: str,
    checkpoint: str,
    max_hamming: int = 8,
    id_col: str = "image_id",
    phash: str = "phash",
    caption: str = "caption",
    n_bands: int = 4,
    max_bucket: int | None = None,
    hot_threshold: int = 4096,
    trigger_available_now: bool = False,
):
    """Joint caption+image twin of streaming_ingest_pass_through:
    continuously append to `path` the arriving images that are NOT
    joint caption+image near-dups of the kept corpus (identical
    caption AND phash within the Hamming ball — an image is kept if
    EITHER modality differs). foreachBatch makes each micro-batch
    static, so the full batch operator runs, including the
    caption-folded band keys and adaptive tiling the stream-static
    join cannot plan."""
    def matcher(batch_df):
        return crossmodal_neardup_against(
            batch_df, corpus, max_hamming=max_hamming, id_col=id_col,
            phash=phash, caption=caption, n_bands=n_bands,
            max_bucket=max_bucket, hot_threshold=hot_threshold,
        )

    return _pass_through(
        stream_images, matcher, id_col, path, checkpoint, trigger_available_now
    )


def streaming_text_pass_through(
    stream_docs: DataFrame,
    corpus: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text: str = "text",
    rows_per_band: int = 4,
    max_bucket: int | None = None,
    hot_threshold: int = 4096,
    trigger_available_now: bool = False,
):
    """Text twin of streaming_ingest_pass_through: continuously append
    to `path` the arriving documents that are NOT minhash near-dups of
    the kept corpus (full tiled batch operator per micro-batch via
    foreachBatch — see the image variant for the semantics)."""
    def matcher(batch_df):
        return lsh_pairs_against(
            batch_df, corpus, id_col=id_col, text=text,
            rows_per_band=rows_per_band, max_bucket=max_bucket,
            hot_threshold=hot_threshold,
        )

    return _pass_through(
        stream_docs, matcher, id_col, path, checkpoint, trigger_available_now
    )


def _pass_through(stream, matcher, id_col, path, checkpoint,
                  trigger_available_now):
    from pyspark.sql import functions as F

    def write_batch(batch_df, _epoch):
        keep = batch_df.join(
            matcher(batch_df).select(F.col("new_id").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
        keep.write.mode("append").parquet(path)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
