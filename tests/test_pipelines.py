"""End-to-end curation pipeline invariants (stage composition; each
stage's value-level correctness is oracled via the curate_images
registry query)."""

import pytest
from pyspark.sql import functions as F


def test_curate_images_invariants(spark):
    from segment_rtree_spark.pipelines import curate_images
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 600, skew_frac=0.1)
    layer = entry_layer()
    out = curate_images(imgs, layer, max_hamming=1).collect()
    assert out, "curation must keep at least one representative"

    # representatives only, each with >=1 containing region
    assert all(r["n_regions"] >= 1 for r in out)
    # cluster sizes account for exactly the region-passing survivors
    from segment_rtree_spark.operators.pip_join import pip_join_broadcast

    n_pass = (
        pip_join_broadcast(imgs, layer, keep=["image_id"])
        .select("image_id").distinct().count()
    )
    assert sum(r["cluster_size"] for r in out) == n_pass
    # keeping only representatives means ids are unique
    ids = [r["image_id"] for r in out]
    assert len(ids) == len(set(ids))


def test_curate_images_partitioned_equals_broadcast(spark):
    """The curation output is strategy-invariant: the partitioned PIP
    path (the too-big-to-broadcast layer shape) produces exactly the
    broadcast result."""
    from segment_rtree_spark.pipelines import curate_images
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 400, skew_frac=0.1)
    layer = entry_layer()
    a = sorted(map(tuple, curate_images(imgs, layer, max_hamming=1).collect()))
    b = sorted(map(tuple, curate_images(
        imgs, layer, max_hamming=1, how="partitioned").collect()))
    assert a == b


def _assert_resume_complete(spark, job_id, root, done1, done2, n_rows, rerun):
    """Every key has exactly one progress row, and a third call runs no
    key and returns the same number of rows."""
    from segment_rtree_spark.checkpoint import CheckpointJob

    prog = CheckpointJob(spark, job_id, root).progress().toPandas()
    assert prog["partition_key"].is_unique
    assert done2 == len(prog) - done1
    done3, final3 = rerun()
    assert done3 == 0
    assert final3.count() == n_rows


def test_curate_checkpointed_kill_resume_matches_oneshot(spark, tmp_path):
    """Durable-checkpoint curation: a job killed after one batch and
    resumed must produce exactly the one-shot curate_images result,
    and the resume must NOT re-run completed keys."""
    from segment_rtree_spark.pipelines import (
        curate_images,
        curate_images_checkpointed,
    )
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 600).cache()
    layer = entry_layer()
    root = str(tmp_path / "curate_ckpt")

    # simulated kill: only the first batch of keys commits
    done1, final1 = curate_images_checkpointed(
        imgs, layer, root, max_hamming=1, n_bands=2,
        keys_per_batch=4, max_batches=1,
    )
    assert final1 is None and done1 == 4

    # resume: completes the remaining keys only
    done2, final2 = curate_images_checkpointed(
        imgs, layer, root, max_hamming=1, n_bands=2, keys_per_batch=4,
    )
    assert final2 is not None

    oneshot = curate_images(imgs, layer, max_hamming=1, n_bands=2).toPandas()
    got = final2.toPandas()
    cols = ["image_id", "caption", "n_regions", "cluster_size"]
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = oneshot[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b)

    # lineage: every key has exactly one progress row (no double work);
    # idempotent third call: nothing left to do, result unchanged
    _assert_resume_complete(
        spark, "curate", root, done1, done2, len(got),
        lambda: curate_images_checkpointed(
            imgs, layer, root, max_hamming=1, n_bands=2,
        ),
    )


@pytest.mark.parametrize("form", ["images", "multimodal", "against"])
def test_curate_checkpointed_all_empty(spark, tmp_path, form):
    """Every key producing zero survivors must yield an EMPTY curated
    frame, not an unreadable output dir (ADVICE r3) — through each
    checkpointed form's own cluster stage."""
    from segment_rtree_spark import pipelines as P
    from segment_rtree_spark.plans.entry_queries import entry_layer

    imgs = _mm_corpus(spark, 60).withColumn("caption", F.lit("x"))
    layer, root = entry_layer(), str(tmp_path / "job")
    if form == "images":
        done, curated = P.curate_images_checkpointed(
            imgs, layer, root, min_caption_tokens=99
        )
    elif form == "multimodal":
        done, curated = P.curate_multimodal_checkpointed(
            imgs, layer, root, min_caption_tokens=99,
            embedding="embedding", content="content",
        )
    else:
        done, curated = P.curate_images_against_checkpointed(
            imgs, imgs, layer, root, min_caption_tokens=99
        )
    assert curated is not None
    assert curated.count() == 0
    assert {"image_id", "caption", "n_regions", "cluster_size"} <= set(curated.columns)


def test_curate_drop_observation_surfaces_capped_buckets(spark):
    """r5 verdict item 3: a curation run can read what the armed
    max_bucket cap dropped FROM THE PIPELINE CALL itself — no
    separate stats job — and the unarmed default fills zeros eagerly
    (the AQE empty-relation-prune gotcha, see _cap_buckets)."""
    from pyspark.sql import Observation

    from segment_rtree_spark.pipelines import curate_images, curate_images_against
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import HOT_CELL_LAT, HOT_CELL_LNG

    n = 40
    rows = [
        (f"img{i:03d}", "two tokens", (i << 32) | 0x0F0F0F0F,
         HOT_CELL_LNG, HOT_CELL_LAT)
        for i in range(n)
    ]
    imgs = spark.createDataFrame(
        rows, "image_id string, caption string, phash long, lng double, lat double"
    )
    layer = entry_layer()
    obs = Observation("curate_drops")
    got = curate_images(
        imgs, layer, max_hamming=1, n_bands=2,
        max_bucket=10, drop_observation=obs,
    ).collect()
    # all 40 DISTINCT hashes share the low-32 band-0 bucket (> cap
    # 10): that bucket drops whole; every band-1 bucket is a
    # singleton and survives, so no pairs form and each image stands
    # as its own cluster — and the drop is visible in-band
    assert obs.get == {"dropped_buckets": 1, "dropped_rows": 40}
    assert len(got) == n and all(r["cluster_size"] == 1 for r in got)

    # unarmed default: zeros fill at BUILD, before any action on the
    # curated frame, so observation.get cannot block — for the
    # incremental form's corpus band join too
    obs2 = Observation("no_cap")
    curate_images(imgs, layer, max_hamming=1, n_bands=2, drop_observation=obs2)
    assert obs2.get == {"dropped_buckets": 0, "dropped_rows": 0}
    obs3 = Observation("no_cap_against")
    curate_images_against(
        imgs, imgs, layer, max_hamming=1, n_bands=2, drop_observation=obs3
    )
    assert obs3.get == {"dropped_buckets": 0, "dropped_rows": 0}


def test_curate_checkpointed_threads_drop_observation(spark, tmp_path):
    """The checkpointed pipeline threads the same drop observability;
    filled when the cluster stage runs (job complete)."""
    from pyspark.sql import Observation

    from segment_rtree_spark.pipelines import curate_images_checkpointed
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import HOT_CELL_LAT, HOT_CELL_LNG

    rows = [
        (f"img{i:03d}", "two tokens", (i << 32) | 0x0F0F0F0F,
         HOT_CELL_LNG, HOT_CELL_LAT)
        for i in range(30)
    ]
    imgs = spark.createDataFrame(
        rows, "image_id string, caption string, phash long, lng double, lat double"
    )
    obs = Observation("ckpt_drops")
    done, curated = curate_images_checkpointed(
        imgs, entry_layer(), str(tmp_path), max_hamming=1, n_bands=2,
        max_bucket=10, drop_observation=obs,
    )
    assert curated is not None
    assert curated.count() == 30
    assert obs.get == {"dropped_buckets": 1, "dropped_rows": 30}


# -- round 7: composed multimodal curation --------------------------------

def _mm_corpus(spark, n):
    """The closed-form multimodal corpus (see q_curate_multimodal):
    exact groups span captions, crossmodal groups are within-caption
    cliques, embed groups are exact-cosine-1.0 two-hot vectors."""
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, n)
    i = F.regexp_extract("image_id", r"(\d+)", 1).cast("long")
    return (
        imgs.withColumn("_i", i)
        .withColumn("caption", F.expr("concat('cap ', cast(_i % 61 as string))"))
        .withColumn(
            "phash", F.expr("cast((_i % 61) * 2654435761 as long) ^ (_i div 61)")
        )
        .withColumn("content", F.expr("concat('blob ', cast(_i % 450 as string))"))
        .withColumn(
            "embedding",
            F.expr(
                "transform(sequence(0, 63), d -> cast(case "
                "when d = cast(_i % 59 as int) then 3.0 "
                "when d = cast((7 * (_i % 59) + 3) % 64 as int) then 4.0 "
                "else 0.0 end as double))"
            ),
        )
        .drop("_i")
    )


def test_curate_multimodal_checkpointed_kill_resume(spark, tmp_path):
    """Killed-and-resumed multimodal curation must equal the one-shot
    pipeline exactly, embedding stage included."""
    from segment_rtree_spark.pipelines import (
        curate_multimodal,
        curate_multimodal_checkpointed,
    )
    from segment_rtree_spark.plans.entry_queries import entry_layer

    imgs = _mm_corpus(spark, 400).cache()
    layer = entry_layer()
    root = str(tmp_path / "mm_ckpt")
    kw = dict(
        max_hamming=8, n_bands=4, embedding="embedding",
        embed_threshold=0.99, embed_n_bits=4, embed_n_probe=1,
        embed_refine="expr", embed_bit_exact=True, content="content",
    )

    done1, final1 = curate_multimodal_checkpointed(
        imgs, layer, root, keys_per_batch=4, max_batches=1, **kw
    )
    assert final1 is None and done1 == 4

    done2, final2 = curate_multimodal_checkpointed(
        imgs, layer, root, keys_per_batch=4, **kw
    )
    assert final2 is not None

    oneshot = curate_multimodal(imgs, layer, **kw).toPandas()
    got = final2.toPandas()
    cols = ["image_id", "caption", "n_regions", "cluster_size"]
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = oneshot[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b)
    _assert_resume_complete(
        spark, "curate_mm", root, done1, done2, len(got),
        lambda: curate_multimodal_checkpointed(imgs, layer, root, **kw),
    )
    imgs.unpersist()


def test_curate_multimodal_drop_observations_per_stage(spark):
    """One curate_multimodal call exposes BOTH the crossmodal band
    join's and the embedding bucket join's drop counts, each through
    its own Observation — armed caps report exact counts, unarmed
    defaults fill zeros eagerly."""
    from pyspark.sql import Observation

    from segment_rtree_spark.pipelines import curate_multimodal
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import HOT_CELL_LAT, HOT_CELL_LNG

    n = 40
    vec = [1.0] * 8
    rows = [
        (f"img{i:03d}", "two tokens", (i << 32) | 0x0F0F0F0F,
         f"blob {i}", vec, HOT_CELL_LNG, HOT_CELL_LAT)
        for i in range(n)
    ]
    imgs = spark.createDataFrame(
        rows,
        "image_id string, caption string, phash long, content string, "
        "embedding array<double>, lng double, lat double",
    )
    layer = entry_layer()
    obs_cm = Observation("mm_crossmodal_drops")
    obs_em = Observation("mm_embed_drops")
    got = curate_multimodal(
        imgs, layer, max_hamming=1, n_bands=2,
        max_bucket=10, drop_observation=obs_cm, content="content",
        embedding="embedding", embed_threshold=0.99, embed_n_bits=2,
        embed_max_bucket=10, embed_drop_observation=obs_em,
    ).collect()
    # identical captions fold one fingerprint into every band key; all
    # 40 distinct (caption, phash) nodes share the band-0 low-32
    # bucket (> cap 10) -> dropped whole; band-1 buckets are
    # singletons -> no pairs, 40 crossmodal singletons. All 40
    # identical embeddings land in ONE LSH bucket (> cap 10) ->
    # dropped -> no embed pairs either. Both drops visible in-band.
    assert obs_cm.get == {"dropped_buckets": 1, "dropped_rows": 40}
    assert obs_em.get == {"dropped_buckets": 1, "dropped_rows": 40}
    assert len(got) == n and all(r["cluster_size"] == 1 for r in got)

    # unarmed: both observations fill zeros at build
    o1, o2 = Observation("mm_cm0"), Observation("mm_em0")
    curate_multimodal(
        imgs, layer, max_hamming=1, n_bands=2, drop_observation=o1,
        content="content",
        embedding="embedding", embed_threshold=0.99, embed_n_bits=2,
        embed_max_bucket=None, embed_drop_observation=o2,
    )
    assert o1.get == {"dropped_buckets": 0, "dropped_rows": 0}
    assert o2.get == {"dropped_buckets": 0, "dropped_rows": 0}


def test_curate_against_restriction_of_full_curate(spark):
    """Cross-consistency: on a clique corpus whose kept-corpus ids
    precede the new batch's, incremental curation equals the full
    curation restricted to new-only clusters (the pair-level property
    the *_against family already proves, lifted to the pipeline)."""
    from segment_rtree_spark.pipelines import curate_images, curate_images_against
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import images_df_arith

    layer = entry_layer()
    imgs = images_df_arith(spark, 600)
    i = F.regexp_extract("image_id", r"(\d+)", 1).cast("long")
    # pure hamming-0 cliques: phash determined by the group alone
    tagged = imgs.withColumn("_i", i).withColumn(
        "phash", F.expr("cast((_i % 13) * 2654435761 as long)")
    )
    old = tagged.filter(F.col("_i") < 300).drop("_i").cache()
    new = tagged.filter(F.col("_i") >= 300).drop("_i").cache()
    both = tagged.drop("_i").cache()

    kept = curate_images(old, layer, max_hamming=1, n_bands=2)
    # the kept corpus carries (id, phash) — rejoin reps to their phash
    corpus = kept.select("image_id").join(old.select("image_id", "phash"),
                                          "image_id")
    got = curate_images_against(
        new, corpus, layer, max_hamming=1, n_bands=2
    ).toPandas()

    full = curate_images(both, layer, max_hamming=1, n_bands=2).toPandas()
    new_ids = {r["image_id"] for r in new.select("image_id").collect()}
    # full-curation reps that are NEW ids = clusters with no old
    # survivor (old ids sort first); their sizes count new members only
    expect = full[full["image_id"].isin(new_ids)]
    cols = ["image_id", "caption", "n_regions", "cluster_size"]
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = expect[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b)
    for df in (old, new, both):
        df.unpersist()


def test_curate_against_checkpointed_kill_resume(spark, tmp_path):
    """Killed-and-resumed incremental curation equals the one-shot
    curate_images_against exactly."""
    from segment_rtree_spark.pipelines import (
        curate_images_against,
        curate_images_against_checkpointed,
    )
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import images_df_arith

    layer = entry_layer()
    imgs = images_df_arith(spark, 500)
    i = F.regexp_extract("image_id", r"(\d+)", 1).cast("long")
    tagged = imgs.withColumn("_i", i).withColumn(
        "phash", F.expr("cast((_i % 97) * 2654435761 as long) ^ (_i div 97)")
    )
    new = tagged.filter(F.col("_i") % 97 >= 30).drop("_i").cache()
    corpus = tagged.filter(F.col("_i") % 97 < 40).drop("_i").cache()
    root = str(tmp_path / "against_ckpt")
    kw = dict(max_hamming=7, n_bands=4)

    done1, final1 = curate_images_against_checkpointed(
        new, corpus, layer, root, keys_per_batch=4, max_batches=1, **kw
    )
    assert final1 is None and done1 == 4

    done2, final2 = curate_images_against_checkpointed(
        new, corpus, layer, root, keys_per_batch=4, **kw
    )
    assert final2 is not None

    oneshot = curate_images_against(new, corpus, layer, **kw).toPandas()
    got = final2.toPandas()
    cols = ["image_id", "caption", "n_regions", "cluster_size"]
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = oneshot[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b)
    _assert_resume_complete(
        spark, "curate_against", root, done1, done2, len(got),
        lambda: curate_images_against_checkpointed(
            new, corpus, layer, root, **kw
        ),
    )
    new.unpersist(); corpus.unpersist()
