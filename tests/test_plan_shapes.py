"""Physical-plan audits: the scale claims, asserted.

Each test pins a plan property that matters at 100 TB — no shuffle on
the probe side, broadcast on the small side, filter/column pushdown
reaching the parquet scan, single-pass banding. A regression here is a
silent 10-100x at scale even when every row still comes out right.
"""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._sc._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_tile_assign_no_exchange_whole_stage(spark):
    """Tile assignment is a scan-local codegen'd projection: zero
    shuffles for 10^12 rows."""
    from segment_rtree_spark.operators.tile_ops import assign_tiles

    df = assign_tiles(spark.read.parquet(f"{SF}/orders.parquet"), res=8,
                      y="(cast((o_orderkey * 104729) % 18000 as double) / 100.0 - 90.0)",
                      x="(cast((o_orderkey * 7919) % 36000 as double) / 100.0 - 180.0)")
    p = plan_str(df)
    assert "Exchange" not in p
    assert "codegen id" in p  # the projection runs inside WholeStageCodegen


def _floors(df) -> int:
    return str(df._jdf.queryExecution().optimizedPlan().toString()).upper().count("FLOOR(")


def test_cell_assignment_keeps_its_stages(spark):
    """Each cell assignment computes its grid index once per axis: the
    optimized plan holds exactly 2 FLOORs per assignment, not one per
    use of the index inside the Morton spread (64 in the folded form)."""
    from segment_rtree_spark.operators.pip_join import pip_join_partitioned
    from segment_rtree_spark.operators.tile_ops import assign_tiles, tile_pyramid
    from segment_rtree_spark.plans.entry_queries import entry_layer

    pts = spark.range(1000).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 360 - 180.0).cast("double").alias("lng"),
        (F.col("id") % 180 - 90.0).cast("double").alias("lat"),
    )
    assert _floors(assign_tiles(pts, 26)) == 2
    assert _floors(assign_tiles(pts, 12).groupBy("cell").count()) == 2
    assert _floors(tile_pyramid(pts, base_res=10, min_res=4)) == 2
    assert _floors(pip_join_partitioned(pts, entry_layer(), keep=["point_id"], res=5)) == 2


def test_pip_broadcast_no_point_shuffle(spark):
    """The broadcast PIP join never shuffles the (big) point side."""
    from segment_rtree_spark.operators.pip_join import pip_join_broadcast
    from segment_rtree_spark.plans.entry_queries import entry_layer

    pts = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") % 360 - 180.0).cast("double").alias("lng"),
        (F.col("c_custkey") % 180 - 90.0).cast("double").alias("lat"),
    )
    p = plan_str(pip_join_broadcast(pts, entry_layer(), keep=["point_id"]))
    assert "Exchange" not in p


def test_bbox_join_broadcasts_small_side(spark):
    """The rect prefilter join broadcasts the dimension side — no
    shuffle of the point side."""
    from segment_rtree_spark.plans.entry_queries import q_bbox_join

    p = plan_str(q_bbox_join(spark, SF))
    assert "BroadcastExchange" in p
    assert "ShuffleExchange" not in p.replace("BroadcastExchange", "")
    assert p.count("Exchange") == p.count("BroadcastExchange")


def test_parquet_pushdown(spark):
    """Filters and column pruning must reach the parquet scan."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_linenumber") == 1)
        .select("l_orderkey")
    )
    p = plan_str(df)
    assert "PushedFilters: [IsNotNull(l_linenumber), EqualTo(l_linenumber,1)]" in p
    # ReadSchema prunes to the two touched columns
    assert "l_comment" not in p


def test_lsh_single_pass_banding(spark):
    """lsh_pairs must not recompute the signature pipeline per band or
    per join side: the exploded-signature frame is checkpointed ONCE
    and every consumer (sizing aggregate + both join sides) reads the
    materialized RDD — the pair-join plan contains NO parquet rescan
    of the documents table."""
    from segment_rtree_spark.operators.dedup import _lsh_exploded, lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(lsh_pairs(docs), "simple")
    assert p.count("Scan parquet") == 0  # signature subtree runs once, at the checkpoint
    assert p.count("Scan ExistingRDD") >= 2  # both join sides read it
    # the checkpointed subtree itself is single-pass: one table scan,
    # one banding explode (explode(array(struct...)), not union-per-band)
    sub = plan_str(_lsh_exploded(docs, "doc_id", "text", 4), "simple")
    assert sub.count("Scan parquet") == 1
    assert sub.count("Generate explode(array(struct(band") == 1


def test_simhash_single_explode_two_aggs(spark):
    """simhash64 must not explode a (doc, bit) intermediate: one
    Generate (the token explode) and one partial+final hash-agg pair —
    the map side hashes each token row once, not 60 times."""
    from segment_rtree_spark.operators.dedup import simhash64

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(simhash64(docs), "simple")
    assert p.count("Generate") == 1
    assert p.count("HashAggregate") == 2


def test_phash_banding_single_scan(spark):
    """phash banding scans its input once — the exploded frame is
    checkpointed inside the tiled self-join, so the pair-join plan
    re-reads the materialized RDD instead of rescanning parquet."""
    from segment_rtree_spark.operators.dedup import phash_neardup_pairs

    imgs = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").cast("string").alias("image_id"),
        F.col("o_orderkey").alias("phash"),
    )
    p = plan_str(phash_neardup_pairs(imgs), "simple")
    # no hot buckets -> plain equi-join, one parquet scan per side
    # (exchange reuse dedupes them at execution; no checkpoint: the
    # banding projection is cheaper to re-derive than to materialize)
    assert p.count("Scan parquet") == 2


def test_partitioned_pip_pins_partitions(spark):
    """The cogroup shuffle must be a user-pinned hashpartitioning (AQE
    byte-coalescing would starve the CPU-heavy python stage)."""
    from segment_rtree_spark.operators.pip_join import pip_join_partitioned
    from segment_rtree_spark.plans.entry_queries import entry_layer

    pts = spark.range(1000).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 360 - 180.0).cast("double").alias("lng"),
        (F.col("id") % 180 - 90.0).cast("double").alias("lat"),
    )
    df = pip_join_partitioned(pts, entry_layer(), keep=["point_id"], res=5,
                              num_partitions=48)
    p = plan_str(df)
    assert "REPARTITION_BY_NUM" in p or "hashpartitioning(cell" in p
    assert "FlatMapCoGroupsInPandas" in p or "FlatMapCoGroupsIn" in p
    assert set(re.findall(r"hashpartitioning\(cell#\d+L, (\d+)\)", p)) == {"48"}


def test_partitioned_pip_default_one_wave(spark):
    """With num_partitions unset, both cogroup sides are pinned to
    hashpartitioning(cell, defaultParallelism): one wave of tasks, no
    extra waves of fixed per-task Arrow cogroup cost."""
    from segment_rtree_spark.operators.pip_join import pip_join_partitioned
    from segment_rtree_spark.plans.entry_queries import entry_layer

    pts = spark.range(1000).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 360 - 180.0).cast("double").alias("lng"),
        (F.col("id") % 180 - 90.0).cast("double").alias("lat"),
    )
    p = plan_str(pip_join_partitioned(pts, entry_layer(), keep=["point_id"], res=5))
    n = re.findall(r"hashpartitioning\(cell#\d+L, (\d+)\)", p)
    assert len(n) >= 2  # point side and cover side
    assert set(n) == {str(spark.sparkContext.defaultParallelism)}


def test_validate_images_prefilter_pushed(spark):
    """Metadata-decidable validity checks run as Catalyst expressions;
    the Arrow decode kernel's input branch is filtered to the
    compressed-format rows only (check_phash=False), so a clean raw
    corpus never crosses to Python."""
    from segment_rtree_spark.operators.images import validate_images
    from segment_rtree_spark.synth import images_df_arith

    df = validate_images(images_df_arith(spark, 50))
    p = plan_str(df)
    # the decode kernel's input branch is gated on the compressed
    # stream formats (ALL of them — webp's absence here was the r7
    # row-drop bug); raw never crosses to Python
    assert "AND fmt" in p and "IN (png,jpeg,bmp,gif,tiff,webp))" in p
    # ... and the raw-valid verdict branch is a pure Catalyst filter
    assert "= raw)))" in p
    # prefilter verdicts (NULLs / formats / raw length / signature) are
    # CASE expressions in the plan, not kernel branches
    for code in ("NullPayload", "CodecUnavailable", "TruncatedPayload", "BadSignature"):
        assert code in p


def test_curate_pipeline_never_reads_bytes(spark, tmp_path):
    """The curation pipeline's narrow projection must reach the scan:
    a parquet-backed image table contributes only (image_id, caption,
    phash, lat, lng) — the pixel `bytes` column is pruned away and
    never scanned, let alone shuffled."""
    from segment_rtree_spark.pipelines import curate_images
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import images_df_arith

    path = str(tmp_path / "imgs.parquet")
    images_df_arith(spark, 200).write.parquet(path)
    imgs = spark.read.parquet(path)
    # materialize=False keeps full lineage so the parquet scans stay
    # visible in the plan (the default localCheckpoint would truncate
    # them to ExistingRDD and make this assertion vacuous)
    p = plan_str(curate_images(imgs, entry_layer(), max_hamming=1, materialize=False))
    schemas = p.split("ReadSchema: ")[1:]
    assert schemas, "expected at least one parquet scan in the plan"
    for schema in schemas:
        first_line = schema.splitlines()[0]
        assert "bytes" not in first_line, first_line


def test_phash_banding_prunes_wide_input(spark):
    """phash_neardup_pairs must project to (id, phash) BEFORE the
    banding Generate: Catalyst does not reliably prune columns through
    Sample+Generate over a cached relation, so a full-width image
    table (pixel bytes!) would ride through the explode (measured
    5-10x at 3M images)."""
    from segment_rtree_spark.operators.dedup import phash_neardup_pairs
    from segment_rtree_spark.synth import images_df_fast

    imgs = images_df_fast(spark, 200).cache()
    try:
        p = plan_str(phash_neardup_pairs(imgs.sample(0.5, seed=1)), "simple")
        # the cache scan node must read ONLY (image_id, phash) — the
        # InMemoryRelation line always lists the full cached schema,
        # so assert on the scan nodes specifically
        scans = [l for l in p.splitlines() if "InMemoryTableScan" in l]
        assert scans, p
        for l in scans:
            assert "image_id" in l and "phash" in l, l
            assert "bytes" not in l and "caption" not in l, l
    finally:
        imgs.unpersist()


def test_cap_buckets_plans_broadcast_anti_join(spark):
    """The bucket-cap guard must be a broadcast ANTI-join against the
    over-cap keys — never a shuffle of the guarded frame keyed by
    bucket (a regression here re-shuffles the full exploded/vector
    frame just to apply a filter verdict)."""
    from segment_rtree_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ex = D._lsh_exploded(docs, "doc_id", "text", 4)
    p = plan_str(D._cap_buckets(ex, 10))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p

    from segment_rtree_spark.operators.embed import _bucketed_vectors

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pv = plan_str(_bucketed_vectors(emb, 4, "vec_id", "embedding", 10))
    assert "BroadcastHashJoin" in pv and "LeftAnti" in pv

    # batch against: the new side and the corpus side are both capped
    from segment_rtree_spark.operators.embed import embedding_neardup_against

    pa = plan_str(embedding_neardup_against(
        emb.filter(F.col("vec_id") % 2 == 1),
        emb.filter(F.col("vec_id") % 2 == 0), n_bits=4, max_bucket=10,
    ), "simple")
    anti = [l for l in pa.splitlines()
            if "BroadcastHashJoin" in l and "LeftAnti" in l]
    assert len(anti) == 2, pa


def test_crossmodal_fully_jvm_side(spark):
    """The cross-modal path (caption fingerprint fold + band join +
    carried-column verify) must stay entirely inside Catalyst: no
    Python eval nodes anywhere (the fingerprint is a Catalyst rolling
    hash, the fold is shiftleft/or, the verify is a column filter) and
    the candidate join keyed on the folded (band, bkey)."""
    from segment_rtree_spark.operators.dedup import (
        crossmodal_neardup_against,
        crossmodal_neardup_pairs,
    )

    imgs = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").cast("string").alias("image_id"),
        F.col("o_orderkey").alias("phash"),
        F.concat(F.lit("cap "), (F.col("o_orderkey") % 13).cast("string")).alias(
            "caption"
        ),
    )
    new = imgs.filter(F.col("phash") % 2 == 0)
    corp = imgs.filter(F.col("phash") % 2 == 1)
    for df in (
        crossmodal_neardup_against(new, corp),
        crossmodal_neardup_pairs(imgs),
    ):
        p = plan_str(df, "simple")
        assert "EvalPython" not in p, p       # Batch- and Arrow-
        assert "bkey" in p, p
        # carried-column verify on BOTH forms: exactly ONE join (the
        # band equi-join) — a regression to the join-back formulation
        # (re-joining the (id, caption) projection onto the pair
        # stream for verification) adds two more join nodes and two
        # corpus-wide shuffles at scale
        n_joins = sum(1 for line in p.splitlines() if "Join" in line)
        assert n_joins == 1, p


def test_multimodal_cascade_aggregates_not_windows(spark):
    """The multimodal collapse stages must be partial-agged hash
    shuffles, not window+filter rejoins: min_by(struct, id) with
    map-side partial aggregation at exact/crossmodal/embedding
    collapse. ZERO Windows in the whole lineage (round 8): the
    crossmodal stage groups by the sparse-folded label key directly
    (crossmodal_group_labels), so even the per-row component
    materialization — the one Window round 7 still carried — is gone.
    Any Window is a regression to a full-width exchange + sort
    formulation."""
    from segment_rtree_spark.layer import PolygonLayer
    from segment_rtree_spark.pipelines import curate_multimodal

    layer = PolygonLayer.from_ring_rows(
        [(1, 0, [0.0, 40.0, 40.0, 0.0, 0.0], [0.0, 0.0, 20.0, 20.0, 0.0])]
    )
    imgs = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").cast("string").alias("image_id"),
        F.col("o_orderkey").alias("phash"),
        F.concat(F.lit("cap one two "), (F.col("o_orderkey") % 13).cast("string")).alias("caption"),
        (F.col("o_orderkey") % 37).cast("double").alias("lng"),
        (F.col("o_orderkey") % 17).cast("double").alias("lat"),
        F.col("o_orderkey").cast("string").cast("binary").alias("bytes"),
        F.expr(
            "transform(sequence(0, 7), d -> cast(pmod(o_orderkey + d, 97) as double))"
        ).alias("embedding"),
    )
    # embedding=None: with materialize=False the embed stage would
    # re-derive s2 (and its Window) once per consumer, making the
    # count ambiguous; the stage-3 collapse is the same agg shape as
    # stage 2, so the two-stage plan pins the claim.
    out = curate_multimodal(imgs, layer, materialize=False)
    import re

    p = plan_str(out, "simple")
    n_windows = len(re.findall(r"\bWindow \[", p))
    assert n_windows == 0, p
    # map-side partial aggregation of the min_by collapses — the whole
    # point of the agg formulation (duplicates fold before the exchange)
    assert "partial_min_by" in p, p
    # the only Python stage in the cascade is the embed refine kernel
    assert "BatchEvalPython" not in p, p


def test_audio_features_single_pass_no_exchange(spark, tmp_path):
    """audio_features over a parquet-backed audio table is one Arrow
    kernel pass: zero shuffles for 10^12 clips (metadata rides
    THROUGH the kernel — a join-back for duration/sr would put an
    Exchange here)."""
    from segment_rtree_spark.operators.audio import audio_features
    from segment_rtree_spark.plans.entry_queries import _audio_arith_corpus

    path = str(tmp_path / "audio.parquet")
    _audio_arith_corpus(spark, 20).write.parquet(path)
    df = audio_features(spark.read.parquet(path))
    p = plan_str(df)
    assert "Exchange" not in p  # no shuffle anywhere in the feature pass
    assert "MapInArrow" in p  # the one kernel


def test_validate_audio_two_tier_shape(spark):
    """The audio validator mirrors the image validator's plan: the
    kernel branch is filtered to fmt='wav' rows only, the pcm-valid
    branch is a pure Catalyst filter, and every prefilter verdict is
    a CASE expression — a clean pcm corpus never crosses to Python."""
    from segment_rtree_spark.operators.audio import validate_audio
    from segment_rtree_spark.plans.entry_queries import _audio_arith_corpus

    df = validate_audio(_audio_arith_corpus(spark, 20))
    p = plan_str(df)
    assert "= wav))" in p  # kernel branch gated on the container lane
    assert "= pcm)))" in p  # pcm-valid verdict: pure Catalyst filter
    for code in ("NullPayload", "CodecUnavailable", "TruncatedPayload",
                 "BadSignature", "UnknownFormat"):
        assert code in p


def _wide(df):
    return df.withColumn("wide", F.expr("repeat('x', 4096)"))


def _python_nodes(df):
    """(input columns, UDF name) of every Arrow Python node of df's plan
    (a cogroup's input is both sides' column lists)."""
    return re.findall(
        r"\(\d+\) \w+In(?:Arrow|Pandas)\w*[^\n]*\n"
        r"((?:(?:Input|Left output|Right output) \[\d+\]: \[[^\]]*\]\n)+)"
        r"Arguments: (?:\[[^\]]*\], )*(\w+)\(",
        plan_str(df),
    )


def test_payload_kernels_prune_and_name(spark):
    """Every per-row payload kernel reads only the columns it uses (a
    wide column beside the payload never crosses to Python) and its
    plan node is named after its operator, not `kernel`."""
    from segment_rtree_spark.operators import audio, images
    from segment_rtree_spark.plans.entry_queries import _audio_arith_corpus
    from segment_rtree_spark.synth import images_df_arith

    # materialized, so the fixture generators' own kernels are not in the plans
    imgs = _wide(images_df_arith(spark, 4).localCheckpoint())
    clips = _wide(_audio_arith_corpus(spark, 4).localCheckpoint())
    videos = _wide(spark.createDataFrame(
        [("v", b"\x00" * 48, "fakevid", 2, 2)],
        "video_id string, bytes binary, fmt string, w int, h int"))
    pairs = _wide(spark.createDataFrame([("a", "b")], "id_a string, id_b string"))
    ops = {
        "with_pixel_stats": images.with_pixel_stats(imgs),
        "with_pixel_stats_exact": images.with_pixel_stats_exact(imgs),
        "resize_images": images.resize_images(imgs, 4, 4),
        "sample_video_frames": images.sample_video_frames(videos),
        "psnr_refine_pairs": images.psnr_refine_pairs(pairs, imgs),
        "validate_images": images.validate_images(imgs, check_phash=True),
        "audio_features": audio.audio_features(clips),
        "sample_audio_clips": audio.sample_audio_clips(clips, 64),
        "validate_audio": audio.validate_audio(clips),
    }
    for name, df in ops.items():
        nodes = _python_nodes(df)
        assert len(nodes) == 1, (name, nodes)
        (cols, udf), = nodes
        assert udf == name
        assert "wide" not in cols and "bytes" in cols, (name, cols)


def test_batch_and_grouped_kernels_prune_and_name(spark, monkeypatch):
    """Every batch or grouped operator kernel runs in exactly one Arrow
    Python node, named after its operator, that reads no column beyond
    its inputs (a wide column beside them never crosses to Python)."""
    from segment_rtree_spark.operators import (
        clip_tiles, dedup, embed, knn_join, overlay, pip_join, validate,
    )
    from segment_rtree_spark.plans.entry_queries import (
        ENTRY_LAYER_ROWS, entry_layer, entry_layer_b,
    )

    layer = entry_layer()
    pts = _wide(spark.range(8).select(
        F.col("id").cast("string").alias("image_id"), F.col("id").alias("phash"),
        (F.col("id") * 10.0 - 40.0).alias("lng"), (F.col("id") * 5.0).alias("lat")))
    docs = _wide(spark.createDataFrame([(1, "a b c")], "doc_id long, text string"))
    rings = _wide(spark.createDataFrame(
        ENTRY_LAYER_ROWS, "polygon_id long, part_id int, xs array<double>, ys array<double>"))
    vectors = _wide(spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding")))
    # ivf_topk checkpoints its list assignment; the assignment's own plan
    # is the one its kernel runs in
    assigned = []
    checkpoint = type(vectors).localCheckpoint
    monkeypatch.setattr(type(vectors), "localCheckpoint",
                        lambda df, eager=True: assigned.append(df) or checkpoint(df, eager))
    embed.ivf_topk(vectors, k=2, n_lists=2)
    ops = {
        "knn_join_broadcast": knn_join.knn_join_broadcast(pts, layer, k=2, keep=["image_id"]),
        "minhash_signatures": dedup.minhash_signatures(docs),
        "polygon_overlap_join": overlay.polygon_overlap_join(spark, layer, entry_layer_b(), 4),
        "clip_to_tiles": clip_tiles.clip_to_tiles(spark, layer, 4),
        "ivf_topk": assigned[0],
        "cover_from_rings": pip_join.cover_from_rings(rings, 4),
        "validate_polygons": validate.validate_polygons(rings),
        "pip_join_broadcast": pip_join.pip_join_broadcast(pts, layer, keep=["image_id"]),
        "pip_count_broadcast": pip_join.pip_count_broadcast(pts, layer, keep=["image_id"]),
        # the cogrouped refines and the shared packed-pair refine carry
        # the name of the operator that calls them
        "pip_join_partitioned": pip_join.pip_join_partitioned(
            pts, layer, keep=["image_id"], res=4, salt_threshold=1, n_salt=2),
        "ann_topk": embed.ann_topk(vectors, k=2),
        "embedding_neardup_pairs": embed.embedding_neardup_pairs(vectors),
        "embedding_neardup_against": embed.embedding_neardup_against(vectors, vectors),
        "polygon_overlap_join_packed": overlay.polygon_overlap_join_packed(
            spark, layer, entry_layer_b(), 4),
    }
    ops["ivf_topk refine"] = embed.ivf_topk(vectors, k=2, n_lists=2)
    for name, df in ops.items():
        nodes = _python_nodes(df)
        assert len(nodes) == 1, (name, nodes)
        (cols, udf), = nodes
        assert udf == name.split()[0]
        assert "wide" not in cols, (name, cols)
    # the ring-table forms build their covers in cover_from_rings kernels
    for name, df in {
        "pip_join_partitioned_rings": pip_join.pip_join_partitioned_rings(
            pts, rings, 4, keep=["image_id"]),
        "polygon_overlap_join_rings": overlay.polygon_overlap_join_rings(spark, rings, rings, 4),
    }.items():
        nodes = _python_nodes(df)
        assert [udf for _, udf in nodes if udf != "cover_from_rings"] == [name], nodes
        assert all("wide" not in cols for cols, _ in nodes), nodes


def test_operators_and_plans_have_no_pandas_udf():
    """No operator, registry query or tool hand-writes a pandas UDF round
    trip: every kernel crosses to Python through operators/arrow_map."""
    from pathlib import Path

    import segment_rtree_spark

    pkg = Path(segment_rtree_spark.__file__).parent
    root = pkg.parent
    hits = [
        f"{p.relative_to(root)}:{i}"
        for d in (pkg / "operators", pkg / "plans", root / "tools")
        for p in sorted(d.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "mapInPandas" in line or "applyInPandas" in line
    ]
    assert not hits, hits
