"""End-to-end training-data curation pipelines.

The composition layer: each stage is an operator this engine already
oracles individually (tile/PIP region filter, caption filters, phash
near-dup clustering); `curate_images` chains them in the order a
100 TB curation job runs them — cheap row-local filters first, the
clustering join last over the already-reduced survivor set.

Plan shape at scale: the PIP region filter is a broadcast join (zero
image-side shuffle), the caption filter is pure Catalyst, and the
near-dup stage shuffles only the REGION-PASSING subset on the 64-bit
phash (distinct-value collapse first, so degenerate corpora stay
linear) — the full-width image bytes are never shuffled at all.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

from .layer import PolygonLayer
from .operators.pip_join import _resolve_how, pip_count_broadcast, pip_join

__all__ = [
    "curate_images",
    "curate_images_checkpointed",
    "curate_multimodal",
    "curate_multimodal_checkpointed",
    "curate_images_against",
    "curate_images_against_checkpointed",
]


def curate_images(images: DataFrame, layer: PolygonLayer,
                  min_caption_tokens: int = 2,
                  max_hamming: int = 8,
                  how: str = "broadcast",
                  n_bands: int = 4,
                  materialize: bool = True,
                  hot_threshold: int | None = 4096,
                  max_bucket: int | None = None,
                  drop_observation=None,
                  id_col: str = "image_id",
                  caption: str = "caption",
                  phash: str = "phash",
                  x: str = "lng",
                  y: str = "lat") -> DataFrame:
    """Region filter -> caption filter -> near-dup cluster -> keep one
    representative per cluster.

    Returns the curated set: (id_col, caption, n_regions,
    cluster_size) where n_regions counts containing/boundary polygons
    and cluster_size is how many surviving images the kept
    representative stands for (1 = unique).

    `how` selects the PIP strategy like SpatialFrame.pip_join:
    'broadcast' (default — layer pack ships to executors, zero
    image-side shuffle), 'partitioned' (cell-cover equi-join for
    layers too big to broadcast), or 'auto'. Column names default to
    the input_hint schema (image_id, caption, phash, lng, lat) and
    thread through to the composed operators.

    `max_bucket` / `drop_observation` thread to the near-dup band
    join (phash_components): pass a pyspark Observation and a 100 TB
    curation run can read dropped_buckets / dropped_rows directly
    from the pipeline call — filled EAGERLY at build (zeros when the
    cap is unarmed), so observation.get never blocks and never loses
    the metric to AQE empty-relation pruning (see _cap_buckets).
    dropped_rows counts DISTINCT phash values whose bucket exceeded
    the cap (the clustering runs over distinct hashes).
    """
    # Narrow projection FIRST: nothing downstream needs the pixel
    # bytes, and projecting here keeps every subsequent shuffle at a
    # few dozen bytes/row instead of the full payload (at the scan,
    # parquet column pruning makes this free).
    narrow = images.select(id_col, caption, phash, y, x)
    # caption+phash ride THROUGH the PIP kernel (keep=), and on the
    # broadcast path the containment count is computed in-kernel
    # (pip_count_broadcast), so the survivor stage shuffles NOTHING —
    # lat/lng are dead after the PIP and are dropped here. The
    # survivor set feeds three consumers (clustering, the size agg,
    # and the final representative join); without materialization
    # each one would re-execute the PIP join. localCheckpoint runs it
    # once (on a cluster: .checkpoint() against the durable dir).
    keep = [id_col, caption, phash]
    ok = _survivors_multimodal(
        narrow, layer, min_caption_tokens, how, keep, id_col, caption, x, y
    )
    if materialize:
        # (materialize=False keeps the full lineage — used by the plan
        # audit test to inspect the scan, and by callers who prefer
        # their own persistence strategy)
        ok = ok.localCheckpoint()
    return _collapse_by_phash(
        ok, id_col, caption, phash, max_hamming, n_bands,
        hot_threshold, max_bucket, drop_observation,
    )


def _collapse_by_phash(ok: DataFrame, id_col: str, caption: str,
                       phash: str, max_hamming: int, n_bands: int,
                       hot_threshold: int | None,
                       max_bucket: int | None,
                       drop_observation=None) -> DataFrame:
    """One representative per phash near-dup cluster with its
    cluster_size, in ONE partial-agged groupBy: the cluster group key
    folds onto the survivor rows map-side (phash_group_labels —
    sparse label fold over distinct hashes) and min_by(struct, id)
    recovers the representative row while count(*) sizes the cluster.
    The earlier phash_components + rejoin formulation materialized a
    per-image (id, component) frame — a window at image cardinality —
    then joined the survivors against it and aggregated AGAIN for the
    sizes; grouping by the label key directly deletes the window and
    both joins (the output never exposes the component id, only the
    representative row, whose id IS the cluster minimum)."""
    from .operators.dedup import phash_group_labels

    okx = phash_group_labels(
        ok, id_col=id_col, phash=phash, max_hamming=max_hamming,
        n_bands=n_bands, hot_threshold=hot_threshold,
        max_bucket=max_bucket, drop_observation=drop_observation,
    )
    return (
        okx.groupBy("_plabel")
        .agg(
            F.min_by(
                F.struct(id_col, caption, "n_regions"), F.col(id_col)
            ).alias("_rep"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select("_rep.*", "cluster_size")
    )


def curate_images_checkpointed(images: DataFrame, layer: PolygonLayer,
                               root: str, job_id: str = "curate",
                               min_caption_tokens: int = 2,
                               max_hamming: int = 8,
                               n_bands: int = 4,
                               hot_threshold: int | None = 4096,
                               max_bucket: int | None = None,
                               drop_observation=None,
                               res: int = 4,
                               keys_per_batch: int = 8,
                               max_batches: int | None = None,
                               id_col: str = "image_id",
                               caption: str = "caption",
                               phash: str = "phash",
                               x: str = "lng",
                               y: str = "lat"):
    """Durable, resumable curate_images: the north rule's per-partition
    checkpointing applied to the flagship composed pipeline.

    Two stages:
      1. SURVIVOR stage, resumable per spatial cell (CheckpointJob):
         work is keyed by the res-`res` quadtree cell of the geotag;
         each key batch runs the row-local part of the pipeline
         (narrow projection -> broadcast PIP -> n_regions -> caption
         filter) and its output commits atomically under the key's
         parquet partition with a progress/lineage row. A killed job
         re-runs only the keys with no progress row.
      2. CLUSTER stage, global: phash near-dup clustering + one
         representative per cluster over the (much smaller) survivor
         set read back from the checkpoint — clusters span cells, so
         this stage is inherently global; it is cheap relative to
         stage 1 and simply re-runs on resume.

    Returns (n_keys_processed, curated DataFrame | None): None while
    stage 1 is incomplete (resume by calling again with the same
    root/job_id; `max_batches` exists for tests to simulate a kill).
    Matches curate_images() exactly when complete.

    `max_bucket` / `drop_observation` behave as in curate_images, but
    the cluster stage (where the band join lives) only runs once
    stage 1 is complete — on an incomplete invocation the observation
    is NOT filled (observation.get would block), so read it only when
    the curated frame is returned.
    """
    return _resumable(
        images.select(id_col, caption, phash, y, x), layer,
        [id_col, caption, phash], min_caption_tokens,
        lambda ok: _collapse_by_phash(
            ok, id_col, caption, phash, max_hamming, n_bands,
            hot_threshold, max_bucket, drop_observation,
        ),
        root, job_id, res, keys_per_batch, max_batches, id_col, caption, x, y,
    )


def _resumable(narrow: DataFrame, layer: PolygonLayer, keep: list,
               min_caption_tokens: int, cluster, root: str, job_id: str,
               res: int, keys_per_batch: int, max_batches: int | None,
               id_col: str, caption: str, x: str, y: str):
    """The one resumable path every *_checkpointed curation form runs.

    `narrow` is the form's narrow projection (geotag included) and
    `keep` the columns the survivor stage carries through the PIP
    kernel. Stage 1 (survivors: broadcast PIP -> n_regions -> caption
    filter) runs under a CheckpointJob keyed by the res-`res`
    quadtree cell; stage 2 is `cluster`, the form's global dedup stage,
    applied to the survivor set read back from the checkpoint once
    every key has a progress row.

    Returns (n_keys_processed, cluster(survivors) | None): None while
    stage 1 is incomplete."""
    from .checkpoint import CheckpointJob
    from .operators.tile_ops import assign_tiles

    spark = narrow.sparkSession
    tiled = assign_tiles(narrow, res=res, y=y, x=x)
    job = CheckpointJob(spark, job_id, root)

    def survivors(batch: DataFrame) -> DataFrame:
        # same zero-shuffle shape as the one-shot forms: payload rides
        # the kernel and the containment count is computed in-kernel
        # (cell kept — it is the checkpoint partition key)
        return _survivors_multimodal(
            batch, layer, min_caption_tokens, "broadcast", keep + ["cell"],
            id_col, caption, x, y,
        )

    done = job.run(tiled, "cell", survivors,
                   keys_per_batch=keys_per_batch, max_batches=max_batches)
    # run() already computed the remaining key set — re-deriving it via
    # progress_remaining() would repeat the same distinct+collect pass
    # over the full input every invocation
    if job.remaining_keys:
        return done, None

    try:
        ok = job.output().drop("cell")
    except AnalysisException:
        # every key produced zero survivors: the output dir holds no
        # parquet files, so the read cannot infer a schema — the
        # correct survivor set is EMPTY, not an error, and `cluster`
        # turns it into an empty curated frame (schema from the
        # transform's plan; no action runs). ONLY
        # AnalysisException means "nothing to read" — permissions,
        # corrupt footers, and transient FS failures propagate instead
        # of masquerading as an empty result
        ok = spark.createDataFrame(
            [], survivors(tiled.limit(0)).schema
        ).drop("cell")
    return done, cluster(ok)


# -- multimodal curation (exact -> crossmodal -> optional embedding) ------

def _multimodal_cluster(ok: DataFrame,
                        max_hamming: int, n_bands: int,
                        hot_threshold: int | None, max_bucket: int | None,
                        drop_observation,
                        embedding: str | None, embed_threshold: float,
                        embed_n_bits: int | None, embed_n_probe: int,
                        embed_refine: str, embed_bit_exact: bool,
                        embed_max_bucket, embed_drop_observation,
                        materialize: bool,
                        id_col: str, caption: str, phash: str) -> DataFrame:
    """Shared dedup cascade for the multimodal curation forms.

    Input: the survivor frame (id, caption, phash, _content,
    [embedding], n_regions) after the region+caption filters. Three
    stages, each collapsing the previous stage's REPRESENTATIVES only
    (cheapest collapse first, each join runs over an already-reduced
    set — the cascade a 100 TB curation actually schedules):

      1. EXACT: identical content hash (_content, computed map-side at
         the scan — the bytes themselves never shuffle) collapses to
         the min id in ONE window shuffle on the hash; the group size
         rides forward as n_exact.
      2. CROSSMODAL: identical caption AND phash Hamming <=
         max_hamming, via the caption-folded band join + min-label
         propagation (crossmodal_components — distinct (caption,
         phash) nodes, so degenerate corpora stay linear). Cluster
         sizes accumulate: each crossmodal cluster's size is the SUM
         of its members' exact-group sizes.
      3. EMBEDDING (optional, `embedding` = column name): cosine
         near-dup pairs over the crossmodal representatives
         (embedding_neardup_pairs — sign-LSH buckets, never
         all-pairs) feed one more min-label propagation; sizes
         accumulate again. NULL embeddings are singletons (they join
         the node list but no pair can touch them).

    Returns (id_col, caption, n_regions, cluster_size) with
    cluster_size = TOTAL surviving images the representative stands
    for across every stage."""

    from .operators.dedup import (
        _fold_labels,
        crossmodal_group_labels,
        label_map,
    )

    # 1. exact collapse: one hash-agg on the content hash. min_by on
    # the whole row (keyed by id) beats the window form: partial
    # aggregation collapses duplicate content map-side BEFORE the
    # exchange (a window would shuffle every survivor row, then sort
    # each partition), so the shuffle carries one row per distinct
    # hash and there is no sort at all — the difference is most of
    # the stage's serial fraction in the N-vs-4N scaling profile.
    rep_cols = [c for c in ok.columns if c != "_content"]
    s1 = (
        ok.groupBy("_content")
        .agg(
            F.min_by(F.struct(*rep_cols), F.col(id_col)).alias("_rep"),
            F.count(F.lit(1)).alias("n_exact"),
        )
        .select("_rep.*", "n_exact")
    )
    if materialize:
        # s1 feeds the crossmodal band join AND the label fold —
        # without the checkpoint the collapse re-runs per consumer
        s1 = s1.localCheckpoint(eager=False)

    # 2. crossmodal collapse over exact representatives: the cluster
    # GROUP KEY folds onto s1 map-side (crossmodal_group_labels —
    # sparse label fold, no per-row component frame) and one
    # partial-agged min_by recovers the representative row. The
    # earlier form materialized crossmodal_components' (id,
    # component) — a window at image cardinality — and shuffle-joined
    # s1 against it before the same groupBy; grouping by the label
    # key directly deletes the window AND the join (the output never
    # exposes the component id, only the representative row).
    s1x = crossmodal_group_labels(
        s1, id_col=id_col, phash=phash, caption=caption,
        max_hamming=max_hamming, n_bands=n_bands,
        hot_threshold=hot_threshold, max_bucket=max_bucket,
        drop_observation=drop_observation,
    )
    rep2 = [c for c in s1.columns if c != "n_exact"]
    s2 = (
        s1x.groupBy("_xlabel")
        .agg(
            F.min_by(F.struct(*rep2), F.col(id_col)).alias("_rep"),
            F.sum("n_exact").alias("_csize"),
        )
        .select("_rep.*", "_csize")
    )
    if embedding is None:
        return s2.select(
            id_col, caption, "n_regions", F.col("_csize").alias("cluster_size")
        )

    # 3. embedding collapse over crossmodal representatives
    if materialize:
        s2 = s2.localCheckpoint(eager=False)
    from .operators.embed import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(
        s2.filter(F.col(embedding).isNotNull()).select(id_col, embedding),
        threshold=embed_threshold, id_col=id_col, vec=embedding,
        n_bits=embed_n_bits, n_probe=embed_n_probe,
        max_bucket=embed_max_bucket, refine=embed_refine,
        bit_exact=embed_bit_exact,
        drop_observation=embed_drop_observation,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # label == min member id (label_map contract) and IS the output
    # representative id here, so the sparse fold + one partial-agged
    # min_by replaces the comp2 node-frame join of the earlier form
    mapping, bc = label_map(edges)
    return (
        _fold_labels(s2, F.col(id_col), mapping, bc)
        .groupBy("label")
        .agg(
            F.min_by(F.struct(caption, "n_regions"), F.col(id_col)).alias("_rep"),
            F.sum("_csize").alias("cluster_size"),
        )
        .select(F.col("label").alias(id_col), "_rep.*", "cluster_size")
    )


def _survivors_multimodal(narrow: DataFrame, layer: PolygonLayer,
                          min_caption_tokens: int, how: str,
                          keep: list, id_col: str, caption: str,
                          x: str, y: str) -> DataFrame:
    """Region filter + per-image aggregate + caption filter — the
    row-local stage every curation form shares.

    Broadcast path: the containment count is computed INSIDE the PIP
    kernel (pip_count_broadcast — np.bincount over the hit stream),
    so the survivor stage has ZERO shuffle; image ids are unique per
    row (the curation contract), so this equals the groupBy-on-hits
    form exactly. Partitioned path: the hits fan out across cell
    tasks, so the per-image aggregate still needs its one groupBy.
    `how` may be 'auto' (operators.pip_join._resolve_how)."""
    how = _resolve_how(how, layer)
    if how == "broadcast":
        surv = pip_count_broadcast(narrow, layer, x=x, y=y, keep=keep)
    else:
        hits = pip_join(narrow, layer, how=how, x=x, y=y, keep=keep)
        aggs = [
            F.first(c).alias(c) for c in keep if c != id_col
        ] + [F.count(F.lit(1)).alias("n_regions")]
        surv = hits.groupBy(id_col).agg(*aggs)
    return surv.filter(
        F.size(F.split(F.col(caption), " ")) >= min_caption_tokens
    )


def _multimodal_narrow(images: DataFrame, embedding: str | None,
                       id_col: str, caption: str, phash: str,
                       content: str, x: str, y: str):
    """The multimodal forms' narrow projection and PIP keep list: the
    content md5 is computed HERE, map-side at the scan, so the pixel
    payload never shuffles; NULL content hashes to the row's own id."""
    cols = [
        F.col(id_col), F.col(caption), F.col(phash), F.col(y), F.col(x),
        F.coalesce(F.md5(F.col(content)), F.col(id_col)).alias("_content"),
    ]
    keep = [id_col, caption, phash, "_content"]
    if embedding is not None:
        cols.append(F.col(embedding))
        keep.append(embedding)
    return images.select(*cols), keep


def curate_multimodal(images: DataFrame, layer: PolygonLayer,
                      min_caption_tokens: int = 2,
                      max_hamming: int = 8,
                      how: str = "broadcast",
                      n_bands: int = 4,
                      materialize: bool = True,
                      hot_threshold: int | None = 4096,
                      max_bucket: int | None = None,
                      drop_observation=None,
                      embedding: str | None = None,
                      embed_threshold: float = 0.95,
                      embed_n_bits: int | None = None,
                      embed_n_probe: int = 1,
                      embed_refine: str = "kernel",
                      embed_bit_exact: bool = False,
                      embed_max_bucket="auto",
                      embed_drop_observation=None,
                      id_col: str = "image_id",
                      caption: str = "caption",
                      phash: str = "phash",
                      content: str = "bytes",
                      x: str = "lng",
                      y: str = "lat") -> DataFrame:
    """The flagship composed curation a 100 TB training-data run
    executes: region filter -> caption filter -> EXACT content dedup
    -> CROSSMODAL (caption+image) near-dup dedup -> optional EMBEDDING
    near-dup dedup, one representative per final cluster.

    curate_images dedups by phash alone; this composes every dedup
    modality the engine owns, in cheapest-first cascade order (see
    _multimodal_cluster). Returns (id_col, caption, n_regions,
    cluster_size) with cluster_size = total surviving images folded
    into the representative across all stages.

    `content` names the raw-bytes column: its md5 is computed INSIDE
    the first narrow projection (map-side at the scan), so the pixel
    payload never shuffles anywhere in the pipeline. NULL content
    hashes to the row's own id (a NULL-bytes row is a singleton, not
    a mega-group of all NULLs).

    `max_bucket` / `drop_observation` thread to the crossmodal band
    join; `embed_max_bucket` / `embed_drop_observation` to the
    embedding bucket join — one pipeline call exposes every stage's
    drop counts (filled eagerly at build; zeros when unarmed)."""
    narrow, keep = _multimodal_narrow(
        images, embedding, id_col, caption, phash, content, x, y
    )
    ok = _survivors_multimodal(
        narrow, layer, min_caption_tokens, how, keep, id_col, caption, x, y
    )
    # No survivor checkpoint here (round 8): the survivor frame has
    # exactly ONE consumer — the exact collapse s1 — and s1 itself
    # checkpoints under `materialize`, so pinning ok too just wrote
    # and re-read the full survivor set (payload + embedding) once
    # for nothing. curate_images/curate_against keep their survivor
    # checkpoints: their survivor frames feed multiple subtrees.
    return _multimodal_cluster(
        ok, max_hamming, n_bands, hot_threshold, max_bucket,
        drop_observation, embedding, embed_threshold, embed_n_bits,
        embed_n_probe, embed_refine, embed_bit_exact, embed_max_bucket,
        embed_drop_observation, materialize, id_col, caption, phash,
    )


def curate_multimodal_checkpointed(images: DataFrame, layer: PolygonLayer,
                                   root: str, job_id: str = "curate_mm",
                                   min_caption_tokens: int = 2,
                                   max_hamming: int = 8,
                                   n_bands: int = 4,
                                   hot_threshold: int | None = 4096,
                                   max_bucket: int | None = None,
                                   drop_observation=None,
                                   embedding: str | None = None,
                                   embed_threshold: float = 0.95,
                                   embed_n_bits: int | None = None,
                                   embed_n_probe: int = 1,
                                   embed_refine: str = "kernel",
                                   embed_bit_exact: bool = False,
                                   embed_max_bucket="auto",
                                   embed_drop_observation=None,
                                   res: int = 4,
                                   keys_per_batch: int = 8,
                                   max_batches: int | None = None,
                                   id_col: str = "image_id",
                                   caption: str = "caption",
                                   phash: str = "phash",
                                   content: str = "bytes",
                                   x: str = "lng",
                                   y: str = "lat"):
    """Durable, resumable curate_multimodal — same two-stage shape as
    curate_images_checkpointed: the row-local survivor stage (narrow
    projection incl. the map-side content hash -> broadcast PIP ->
    n_regions -> caption filter) checkpoints per spatial cell; the
    global dedup cascade (exact -> crossmodal -> optional embedding)
    runs once stage 1 completes, over the much smaller survivor set
    read back from the checkpoint.

    Returns (n_keys_processed, curated DataFrame | None): None while
    stage 1 is incomplete (call again with the same root/job_id to
    resume; `max_batches` simulates a kill for tests). Matches
    curate_multimodal() exactly when complete. Drop observations are
    only filled on the completing invocation (see
    curate_images_checkpointed)."""
    narrow, keep = _multimodal_narrow(
        images, embedding, id_col, caption, phash, content, x, y
    )
    return _resumable(
        narrow, layer, keep, min_caption_tokens,
        lambda ok: _multimodal_cluster(
            ok, max_hamming, n_bands, hot_threshold, max_bucket,
            drop_observation, embedding, embed_threshold, embed_n_bits,
            embed_n_probe, embed_refine, embed_bit_exact, embed_max_bucket,
            embed_drop_observation, True, id_col, caption, phash,
        ),
        root, job_id, res, keys_per_batch, max_batches, id_col, caption, x, y,
    )


# -- incremental curation (new batch vs kept corpus) ----------------------

def curate_images_against(new_images: DataFrame, corpus: DataFrame,
                          layer: PolygonLayer,
                          min_caption_tokens: int = 2,
                          max_hamming: int = 8,
                          how: str = "broadcast",
                          n_bands: int = 4,
                          materialize: bool = True,
                          hot_threshold: int = 4096,
                          max_bucket: int | None = None,
                          drop_observation=None,
                          id_col: str = "image_id",
                          caption: str = "caption",
                          phash: str = "phash",
                          x: str = "lng",
                          y: str = "lat") -> DataFrame:
    """Incremental curation — the form every ONGOING ingest runs:
    curate only the NEW batch against the already-kept corpus, never
    re-clustering the corpus itself.

      1. region + caption filter the new batch (same row-local stage
         as curate_images; cost scales with |batch|);
      2. drop every new survivor that near-dups ANYTHING in the kept
         corpus (phash_neardup_against band join — new-vs-corpus,
         two-sided tiling, cost |batch| x collision rate, never
         |corpus|^2 — then one broadcast-friendly anti join on the
         matched new ids);
      3. dedup the REMAINDER internally (phash_components over the
         fresh survivors only) and keep one representative per new
         cluster.

    Returns (id_col, caption, n_regions, cluster_size) for the kept
    NEW representatives; cluster_size counts fresh batch members only
    (corpus members are already represented in the corpus). `corpus`
    needs only (id_col, phash) columns.

    `max_bucket` / `drop_observation` thread to the new-vs-corpus
    band join (corpus-side drops observed, the phash_neardup_against
    contract)."""
    narrow = new_images.select(id_col, caption, phash, y, x)
    keep = [id_col, caption, phash]
    ok = _survivors_multimodal(
        narrow, layer, min_caption_tokens, how, keep, id_col, caption, x, y
    )
    if materialize:
        # ok feeds the against-join, the anti join, the internal
        # components AND the representative rejoin
        ok = ok.localCheckpoint()
    return _against_cluster(
        ok, corpus, materialize, max_hamming, n_bands, hot_threshold,
        max_bucket, drop_observation, id_col, caption, phash,
    )


def _against_cluster(ok: DataFrame, corpus: DataFrame, materialize: bool,
                     max_hamming: int, n_bands: int, hot_threshold: int,
                     max_bucket: int | None, drop_observation,
                     id_col: str, caption: str, phash: str) -> DataFrame:
    """The incremental forms' cluster stage: drop every survivor that
    near-dups the kept corpus (phash_neardup_against + one anti join
    on the matched new ids), then collapse the fresh remainder to one
    representative per cluster. Only the corpus band join observes
    drops."""
    from .operators.dedup import phash_neardup_against

    matches = phash_neardup_against(
        ok, corpus.select(id_col, phash), max_hamming=max_hamming,
        id_col=id_col, phash=phash, n_bands=n_bands,
        max_bucket=max_bucket, hot_threshold=hot_threshold,
        drop_observation=drop_observation,
    )
    fresh = ok.join(
        matches.select(F.col("new_id").alias(id_col)), id_col, "left_anti"
    )
    if materialize:
        fresh = fresh.localCheckpoint(eager=False)
    return _collapse_by_phash(
        fresh, id_col, caption, phash, max_hamming, n_bands,
        hot_threshold, max_bucket,
    )


def curate_images_against_checkpointed(new_images: DataFrame,
                                       corpus: DataFrame,
                                       layer: PolygonLayer,
                                       root: str,
                                       job_id: str = "curate_against",
                                       min_caption_tokens: int = 2,
                                       max_hamming: int = 8,
                                       n_bands: int = 4,
                                       hot_threshold: int = 4096,
                                       max_bucket: int | None = None,
                                       drop_observation=None,
                                       res: int = 4,
                                       keys_per_batch: int = 8,
                                       max_batches: int | None = None,
                                       id_col: str = "image_id",
                                       caption: str = "caption",
                                       phash: str = "phash",
                                       x: str = "lng",
                                       y: str = "lat"):
    """Durable, resumable curate_images_against: the survivor stage
    (the per-row dominant cost) checkpoints per spatial cell exactly
    like curate_images_checkpointed; the corpus anti-join + internal
    dedup run once stage 1 completes. Returns (n_keys_processed,
    DataFrame | None); matches curate_images_against() when complete."""
    return _resumable(
        new_images.select(id_col, caption, phash, y, x), layer,
        [id_col, caption, phash], min_caption_tokens,
        # the parquet read-back feeds the corpus join, the anti join
        # and the collapse: pin it once, lazily
        lambda ok: _against_cluster(
            ok.localCheckpoint(eager=False), corpus, True, max_hamming,
            n_bands, hot_threshold, max_bucket, drop_observation,
            id_col, caption, phash,
        ),
        root, job_id, res, keys_per_batch, max_batches, id_col, caption, x, y,
    )
