"""Streaming tile counts: availableNow drain equals batch aggregation."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from segment_rtree_spark.streaming.tile_stream import (
    run_to_completion,
    stream_images,
    streaming_tile_counts,
)
from segment_rtree_spark.tiles import cell_of_sql

SCHEMA = "image_id string, lat double, lng double, ts timestamp"


def test_streaming_first_seen_dedup(spark, tmp_path):
    """Stateful streaming dedup: first batch wins across micro-batches,
    min-id wins within one; counts accumulate in state."""
    from segment_rtree_spark.streaming.dedup_stream import streaming_first_seen

    src = str(tmp_path / "dsrc")
    drop1 = pd.DataFrame({"doc_id": [10, 11, 12, 13], "text": ["a", "b", "a", "c"]})
    drop2 = pd.DataFrame({"doc_id": [1, 20, 21], "text": ["a", "d", "b"]})
    import time

    # one part-file per drop: maxFilesPerTrigger=1 makes each FILE a
    # micro-batch, so a multi-file drop would split a batch
    spark.createDataFrame(drop1).coalesce(1).write.parquet(src)
    time.sleep(1.1)  # file-source orders batches by mod time
    spark.createDataFrame(drop2).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming_first_seen(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_updates")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from dedup_updates").toPandas()

    # final state per hash: canonical = min id of the EARLIEST batch
    # containing the hash, n_seen = total occurrences
    import hashlib

    h = lambda t: hashlib.md5(t.encode()).hexdigest()
    final = rows.sort_values("n_seen").groupby("text_hash").last()
    # 'a': batch1 has ids 10,12 -> canonical 10 (NOT the later, smaller 1)
    assert final.loc[h("a")]["canonical_id"] == 10
    assert final.loc[h("a")]["n_seen"] == 3
    assert final.loc[h("b")]["canonical_id"] == 11 and final.loc[h("b")]["n_seen"] == 2
    assert final.loc[h("c")]["canonical_id"] == 13 and final.loc[h("c")]["n_seen"] == 1
    assert final.loc[h("d")]["canonical_id"] == 20 and final.loc[h("d")]["n_seen"] == 1
    # is_new fired exactly once per hash
    assert rows.groupby("text_hash")["is_new"].sum().eq(1).all()


def test_streaming_pip_matches_batch(spark, tmp_path):
    """Streaming PIP (broadcast kernel inside readStream) drained with
    availableNow equals the batch join + aggregation."""
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.operators.pip_join import pip_join_broadcast
    from segment_rtree_spark.streaming.tile_stream import (
        run_to_completion,
        stream_images,
        streaming_pip_counts,
    )

    rng = np.random.default_rng(3)
    n = 4000
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{k}" for k in range(n)],
            "lat": rng.uniform(-90, 90, n),
            "lng": rng.uniform(-180, 180, n),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 3600, n), "s"),
        }
    )
    src = str(tmp_path / "psrc")
    spark.createDataFrame(pdf).write.parquet(src)
    layer = entry_layer()

    result = streaming_pip_counts(stream_images(spark, src, SCHEMA), layer)
    run_to_completion(result, str(tmp_path / "pckpt"), table="pip_counts")
    got = spark.sql(
        "select polygon_id, relation, sum(n) as n from pip_counts group by 1, 2"
    ).toPandas().sort_values(["polygon_id", "relation"]).reset_index(drop=True)

    want = (
        pip_join_broadcast(spark.read.parquet(src), layer, keep=["image_id"])
        .groupBy("polygon_id", "relation")
        .count()
        .toPandas()
        .sort_values(["polygon_id", "relation"])
        .reset_index(drop=True)
    )
    assert got["polygon_id"].tolist() == want["polygon_id"].tolist()
    assert got["relation"].tolist() == want["relation"].tolist()
    assert got["n"].tolist() == want["count"].tolist()


def test_stream_matches_batch(spark, tmp_path):
    rng = np.random.default_rng(2)
    n = 5000
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{k}" for k in range(n)],
            "lat": rng.uniform(-80, 80, n),
            "lng": rng.uniform(-170, 170, n),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.integers(0, 3600, n), "s"),
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src)

    result = streaming_tile_counts(stream_images(spark, src, SCHEMA), res=5)
    run_to_completion(result, str(tmp_path / "ckpt"), table="t_counts")
    got = spark.sql("select cell, sum(n) as n from t_counts group by cell").toPandas()

    want = (
        spark.read.parquet(src)
        .withColumn("cell", F.expr(cell_of_sql("lat", "lng", 5)))
        .groupBy("cell")
        .count()
        .toPandas()
    )
    g = got.sort_values("cell").reset_index(drop=True)
    w = want.sort_values("cell").reset_index(drop=True)
    assert g["cell"].tolist() == w["cell"].tolist()
    assert g["n"].tolist() == w["count"].tolist()


def test_streaming_first_seen_images(spark, tmp_path):
    """Image-phash streaming dedup: earliest batch's min image_id is
    canonical; duplicate counts accumulate across micro-batches."""
    import time

    from segment_rtree_spark.streaming.dedup_stream import (
        streaming_first_seen_images,
    )

    src = str(tmp_path / "isrc")
    drop1 = pd.DataFrame(
        {"image_id": ["i10", "i11", "i12"], "phash": [100, 200, 100]}
    )
    drop2 = pd.DataFrame(
        {"image_id": ["i01", "i20"], "phash": [100, 300]}
    )
    spark.createDataFrame(drop1).coalesce(1).write.parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(drop2).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("image_id string, phash long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        streaming_first_seen_images(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("img_dedup_updates")
        .option("checkpointLocation", str(tmp_path / "ickpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from img_dedup_updates").toPandas()

    final = rows.sort_values("n_seen").groupby("phash").last()
    # phash 100: batch1 ids i10,i12 -> canonical i10 (not later i01)
    assert final.loc[100]["canonical_id"] == "i10"
    assert final.loc[100]["n_seen"] == 3
    assert final.loc[200]["canonical_id"] == "i11" and final.loc[200]["n_seen"] == 1
    assert final.loc[300]["canonical_id"] == "i20" and final.loc[300]["n_seen"] == 1
    assert rows.groupby("phash")["is_new"].sum().eq(1).all()


def test_streaming_neardup_matches_batch(spark, tmp_path):
    """Stream-static ingest filter == batch phash_neardup_against over
    the same arrivals: the banded candidate join is a stream-static
    equi-join (no state, append mode), so draining the stream with
    availableNow must reproduce the batch pair set exactly."""
    import time

    from segment_rtree_spark.operators.dedup import phash_neardup_against
    from segment_rtree_spark.streaming.ingest_stream import streaming_neardup_matches
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 300).select("image_id", "phash")
    corpus = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) != 0).cache()
    arrivals = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) == 0)

    src = str(tmp_path / "arrivals")
    half1 = arrivals.filter(F.col("phash").bitwiseAND(F.lit(2)) == 0)
    half2 = arrivals.filter(F.col("phash").bitwiseAND(F.lit(2)) != 0)
    half1.coalesce(1).write.parquet(src)
    time.sleep(1.1)
    half2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("image_id string, phash long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming_neardup_matches(stream, corpus, max_hamming=16)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ingest_matches")
        .option("checkpointLocation", str(tmp_path / "ickpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in spark.sql("select * from ingest_matches").collect()
    }
    want = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in phash_neardup_against(arrivals, corpus, max_hamming=16).collect()
    }
    assert got == want and got


def test_streaming_text_matches_batch(spark, tmp_path):
    """Minhash stream-static ingest filter == batch lsh_pairs_against
    over the same arrivals — the text twin of the phash ingest filter
    (the Arrow signature kernel runs per micro-batch; the band join is
    stream-static, append mode, no state)."""
    import time

    from segment_rtree_spark.operators.dedup import lsh_pairs_against
    from segment_rtree_spark.streaming.ingest_stream import streaming_text_matches

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0).cache()
    arrivals = docs.filter(F.col("doc_id") % 5 == 0)

    src = str(tmp_path / "doc_arrivals")
    half1 = arrivals.filter(F.col("doc_id") % 2 == 0)
    half2 = arrivals.filter(F.col("doc_id") % 2 != 0)
    half1.coalesce(1).write.parquet(src)
    time.sleep(1.1)
    half2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming_text_matches(stream, corpus)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("text_matches")
        .option("checkpointLocation", str(tmp_path / "tckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["new_id"], r["corpus_id"])
        for r in spark.sql("select * from text_matches").collect()
    }
    want = {
        (r["new_id"], r["corpus_id"])
        for r in lsh_pairs_against(arrivals, corpus).collect()
    }
    assert got == want and got


def test_streaming_neardup_capped_corpus_bucket(spark, tmp_path):
    """Stream path with max_bucket: over-cap CORPUS band buckets drop
    whole (the stream-side skew guard); surviving matches may emit once
    per surviving shared band, so compare as SETS against the batch
    capped operator."""
    import time

    from segment_rtree_spark.operators.dedup import phash_neardup_against
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 300).select("image_id", "phash")
    corpus = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) != 0).cache()
    arrivals = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) == 0)

    src = str(tmp_path / "capped_arrivals")
    arrivals.coalesce(1).write.parquet(src)
    time.sleep(0.2)

    stream = spark.readStream.schema("image_id string, phash long").parquet(src)
    from segment_rtree_spark.streaming.ingest_stream import streaming_neardup_matches

    out = streaming_neardup_matches(stream, corpus, max_hamming=16, max_bucket=3)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("capped_matches")
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in spark.sql("select * from capped_matches").collect()
    }
    # batch reference with the same corpus-side cap: cap BOTH sides
    # in batch mode would also drop new-side buckets, so build the
    # reference as uncapped-new vs capped-corpus via the uncapped
    # operator on a pre-capped corpus band space — equivalently, the
    # batch op with the same max_bucket must be a SUBSET of got (batch
    # also caps the new side) and every got pair must verify Hamming
    batch_capped = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in phash_neardup_against(
            arrivals, corpus, max_hamming=16, max_bucket=3
        ).collect()
    }
    assert batch_capped <= got
    full = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in phash_neardup_against(arrivals, corpus, max_hamming=16).collect()
    }
    assert got <= full  # the cap only ever REMOVES pairs
    assert got  # and something survives on this corpus


def test_streaming_ingest_pass_through(spark, tmp_path):
    """foreachBatch ingest filter: the appended pass-through set equals
    arrivals minus the batch operator's matches (and the batch operator
    inside foreachBatch is the TILED one — micro-batches are static)."""
    import time

    from segment_rtree_spark.operators.dedup import phash_neardup_against
    from segment_rtree_spark.streaming.ingest_stream import (
        streaming_ingest_pass_through,
    )
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 300).select("image_id", "phash")
    corpus = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) != 0).cache()
    arrivals = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) == 0)

    src = str(tmp_path / "pt_arrivals")
    half1 = arrivals.filter(F.col("phash").bitwiseAND(F.lit(2)) == 0)
    half2 = arrivals.filter(F.col("phash").bitwiseAND(F.lit(2)) != 0)
    half1.coalesce(1).write.parquet(src)
    time.sleep(1.1)
    half2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("image_id string, phash long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out_dir = str(tmp_path / "passed")
    q = streaming_ingest_pass_through(
        stream, corpus, out_dir, str(tmp_path / "ptckpt"),
        max_hamming=16, trigger_available_now=True,
    )
    q.awaitTermination()

    got = {r["image_id"] for r in spark.read.parquet(out_dir).collect()}
    matched = {
        r["new_id"]
        for r in phash_neardup_against(arrivals, corpus, max_hamming=16).collect()
    }
    want = {r["image_id"] for r in arrivals.collect()} - matched
    assert got == want and got


def test_streaming_text_pass_through(spark, tmp_path):
    """Text foreachBatch ingest filter == arrivals minus batch minhash
    matches."""
    from segment_rtree_spark.operators.dedup import lsh_pairs_against
    from segment_rtree_spark.streaming.ingest_stream import (
        streaming_text_pass_through,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0).cache()
    arrivals = docs.filter(F.col("doc_id") % 5 == 0)

    src = str(tmp_path / "tpt_arrivals")
    arrivals.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out_dir = str(tmp_path / "tpt_passed")
    q = streaming_text_pass_through(
        stream, corpus, out_dir, str(tmp_path / "tptckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination()

    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    matched = {
        r["new_id"] for r in lsh_pairs_against(arrivals, corpus).collect()
    }
    want = {r["doc_id"] for r in arrivals.collect()} - matched
    assert got == want and got


def test_streaming_default_cap_drops_degenerate_corpus_bucket(spark, tmp_path):
    """The r4 weak item: the stream path cannot tile, so the corpus-side
    cap must be ARMED by default. A degenerate corpus (1100 rows sharing
    one phash — every band bucket over the 1024 floor) must contribute
    ZERO join pairs per micro-batch under the default, while healthy
    buckets keep matching; max_bucket=None restores the unguarded
    fan-out (opt-out, not default)."""
    import time

    from segment_rtree_spark.streaming.ingest_stream import (
        _auto_cap,
        streaming_neardup_matches,
    )

    hot_phash = 0x123456789ABCDEF0
    hot = spark.range(1100).select(
        F.concat(F.lit("hot"), F.col("id")).alias("image_id"),
        F.lit(hot_phash).alias("phash"),
    )
    cold = spark.range(50).select(
        F.concat(F.lit("cold"), F.col("id")).alias("image_id"),
        (F.col("id") * 2).alias("phash"),
    )
    corpus = hot.unionAll(cold).cache()
    assert _auto_cap(corpus) == 1024  # floor dominates at this scale

    arrivals = pd.DataFrame(
        {"image_id": ["newhot", "newok"], "phash": [hot_phash, 84]}
    )
    src = str(tmp_path / "deg_arrivals")
    spark.createDataFrame(arrivals).coalesce(1).write.parquet(src)
    time.sleep(0.2)

    stream = spark.readStream.schema("image_id string, phash long").parquet(src)

    def drain(out, name):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.sql(f"select * from {name}").collect()

    got = drain(
        streaming_neardup_matches(stream, corpus, max_hamming=16), "deg_default"
    )
    new_ids = {r["new_id"] for r in got}
    assert "newhot" not in new_ids  # hot bucket dropped whole: bounded tasks
    assert "newok" in new_ids       # healthy buckets unaffected

    got_off = drain(
        streaming_neardup_matches(stream, corpus, max_hamming=16, max_bucket=None),
        "deg_optout",
    )
    hot_pairs = {r["corpus_id"] for r in got_off if r["new_id"] == "newhot"}
    assert len(hot_pairs) == 1100  # the fan-out the default now prevents


@pytest.mark.parametrize("modality", ["phash", "text"])
def test_streaming_cap_warns_at_query_build(spark, caplog, modality):
    """Arming the guard silently is not enough: building a streaming
    match query over a corpus whose buckets exceed the cap logs a
    warning pricing exactly what will be dropped (the operator's own
    drop observation, filled at build over the static corpus;
    warn_drops=False opts out). 1100 identical corpus rows fill every
    band bucket past the 1024 auto cap: 4 phash bands, 2 minhash
    bands."""
    import logging

    from segment_rtree_spark.streaming.ingest_stream import (
        streaming_neardup_matches,
        streaming_text_matches,
    )

    # a dummy "stream": rate source, mapped to the expected columns
    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    if modality == "phash":
        hot = spark.range(1100).select(
            F.concat(F.lit("hot"), F.col("id")).alias("image_id"),
            F.lit(0x123456789ABCDEF0).alias("phash"),
        )
        corpus = hot.cache()
        stream = rate.select(F.col("value").cast("string").alias("image_id"),
                             F.col("value").alias("phash"))

        def build(**kw):
            return streaming_neardup_matches(stream, corpus, max_hamming=16, **kw)

        buckets, rows = "4 band bucket(s)", "4400 corpus rows"
    else:
        corpus = spark.range(1100).select(
            F.col("id").alias("doc_id"),
            F.lit("the same short document every single time").alias("text"),
        ).cache()
        stream = rate.select(F.col("value").alias("doc_id"),
                             F.col("value").cast("string").alias("text"))

        def build(**kw):
            return streaming_text_matches(stream, corpus, **kw)

        buckets, rows = "2 band bucket(s)", "2200 corpus rows"
    with caplog.at_level(logging.WARNING,
                         logger="segment_rtree_spark.streaming.ingest_stream"):
        build()
    warned = [r for r in caplog.records if "skew cap" in r.getMessage()]
    assert warned and buckets in warned[0].getMessage()
    assert rows in warned[0].getMessage()

    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="segment_rtree_spark.streaming.ingest_stream"):
        build(warn_drops=False)
    assert not [r for r in caplog.records if "skew cap" in r.getMessage()]


def test_streaming_crossmodal_matches_batch(spark, tmp_path):
    """Joint caption+image stream-static ingest filter == batch
    crossmodal_neardup_against over the same arrivals: the caption
    fingerprint folds into the stream-static band join's keys and the
    exact-caption verify is a carried-column filter, so the query
    stays stateless append-mode and must reproduce the batch set."""
    import time

    from segment_rtree_spark.operators.dedup import crossmodal_neardup_against
    from segment_rtree_spark.streaming.ingest_stream import (
        streaming_crossmodal_matches,
    )
    from segment_rtree_spark.synth import images_df_arith

    base = images_df_arith(spark, 300).select("image_id", "phash")
    # controlled near-dups: 7 caption groups whose phashes share a
    # group base and differ in the low 4 bits, so within-caption
    # pairs are guaranteed matches; the original arith phash decides
    # the stream/corpus split (uncorrelated with the group)
    imgs = base.select(
        "image_id",
        F.col("phash").alias("orig"),
        F.expr("pmod(phash, 7)").alias("g"),
    ).select(
        "image_id",
        "orig",
        F.expr("concat('cap ', cast(g as string))").alias("caption"),
        F.expr(
            "cast(g * 2654435761 as long) ^ pmod(xxhash64(image_id), 16)"
        ).alias("phash"),
    ).cache()
    corpus = imgs.filter(F.col("orig").bitwiseAND(F.lit(1)) != 0).drop(
        "orig"
    ).cache()
    arrivals = imgs.filter(F.col("orig").bitwiseAND(F.lit(1)) == 0).drop("orig")

    src = str(tmp_path / "xm_arrivals")
    half1 = arrivals.filter(F.col("phash").bitwiseAND(F.lit(2)) == 0)
    half2 = arrivals.filter(F.col("phash").bitwiseAND(F.lit(2)) != 0)
    half1.coalesce(1).write.parquet(src)
    time.sleep(1.1)
    half2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "image_id string, phash long, caption string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_crossmodal_matches(stream, corpus, max_hamming=24)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("xm_matches")
        .option("checkpointLocation", str(tmp_path / "xmckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["new_id"], r["corpus_id"], r["hamming"], r["caption"])
        for r in spark.sql("select * from xm_matches").collect()
    }
    want = {
        (r["new_id"], r["corpus_id"], r["hamming"], r["caption"])
        for r in crossmodal_neardup_against(
            arrivals, corpus, max_hamming=24
        ).collect()
    }
    assert got == want and got


def test_streaming_crossmodal_pass_through(spark, tmp_path):
    """Crossmodal foreachBatch filter: the appended set equals arrivals
    minus joint caption+image matches — an arrival sharing a phash ball
    with the corpus under a DIFFERENT caption must pass through."""
    import time

    from segment_rtree_spark.operators.dedup import crossmodal_neardup_against
    from segment_rtree_spark.streaming.ingest_stream import (
        streaming_crossmodal_pass_through,
    )
    from segment_rtree_spark.synth import images_df_arith

    base = images_df_arith(spark, 300).select("image_id", "phash")
    imgs = base.select(
        "image_id",
        F.col("phash").alias("orig"),
        F.expr("pmod(phash, 7)").alias("g"),
    ).select(
        "image_id",
        "orig",
        # caption group g, but a third of rows get a row-unique caption
        # so phash-close/caption-different arrivals exist and must pass
        F.expr(
            "case when pmod(xxhash64(image_id), 3) = 0 "
            "then concat('solo-', image_id) "
            "else concat('cap ', cast(g as string)) end"
        ).alias("caption"),
        F.expr(
            "cast(g * 2654435761 as long) ^ pmod(xxhash64(image_id), 16)"
        ).alias("phash"),
    ).cache()
    corpus = imgs.filter(F.col("orig").bitwiseAND(F.lit(1)) != 0).drop("orig").cache()
    arrivals = imgs.filter(F.col("orig").bitwiseAND(F.lit(1)) == 0).drop("orig").cache()

    src = str(tmp_path / "xmpt_arrivals")
    arrivals.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(
        "image_id string, caption string, phash long"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    out_dir = str(tmp_path / "xmpt_passed")
    q = streaming_crossmodal_pass_through(
        stream, corpus, out_dir, str(tmp_path / "xmptckpt"),
        max_hamming=24, trigger_available_now=True,
    )
    q.awaitTermination()

    got = {r["image_id"] for r in spark.read.parquet(out_dir).collect()}
    matched = {
        r["new_id"]
        for r in crossmodal_neardup_against(
            arrivals, corpus, max_hamming=24
        ).collect()
    }
    all_ids = {r["image_id"] for r in arrivals.collect()}
    want = all_ids - matched
    assert got == want and got
    # the caption-shift rows guarantee some phash-close arrivals passed
    assert matched and want


def test_streaming_crossmodal_warn_counts_folded_buckets(spark, caplog):
    """The crossmodal build-time drop warning must price buckets on
    the CAPTION-FOLDED keys the join actually uses: one hot phash pile
    split evenly across many distinct captions stays under the cap (no
    warning — cross-caption rows were never candidates), while the
    same pile under ONE caption warns."""
    import logging

    from segment_rtree_spark.streaming.ingest_stream import (
        streaming_crossmodal_matches,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.col("value").cast("string").alias("image_id"),
                F.col("value").alias("phash"),
                F.lit("c").alias("caption"))
    )

    def corpus(n_captions):
        return spark.range(1100).select(
            F.concat(F.lit("hot"), F.col("id")).alias("image_id"),
            F.lit(0x123456789ABCDEF0).alias("phash"),
            F.concat(F.lit("cap "), (F.col("id") % n_captions).cast("string"))
            .alias("caption"),
        ).cache()

    with caplog.at_level(logging.WARNING,
                         logger="segment_rtree_spark.streaming.ingest_stream"):
        streaming_crossmodal_matches(stream, corpus(1), max_hamming=8)
    warned = [r for r in caplog.records if "skew cap" in r.getMessage()]
    assert warned and "4 band bucket(s)" in warned[0].getMessage()

    caplog.clear()
    # same phashes, 50 captions: per-folded-bucket 22 rows << auto cap
    with caplog.at_level(logging.WARNING,
                         logger="segment_rtree_spark.streaming.ingest_stream"):
        streaming_crossmodal_matches(stream, corpus(50), max_hamming=8)
    assert not [r for r in caplog.records if "skew cap" in r.getMessage()]


def test_streaming_audio_matches_batch(spark, tmp_path):
    """Audio ingest filter (fifth modality) == batch near-dup over the
    same arrivals: the energy fingerprint is computed inside the
    stream's micro-batches (Arrow kernel, stream-safe), then the
    stateless stream-static band join drains to exactly the batch
    pair set."""
    import time

    import numpy as np

    from segment_rtree_spark.audioio import encode_wav
    from segment_rtree_spark.operators.audio import audio_features
    from segment_rtree_spark.operators.dedup import phash_neardup_against
    from segment_rtree_spark.streaming.ingest_stream import (
        streaming_audio_matches,
    )

    rng = np.random.default_rng(31)
    wlen = 16
    rows = []
    base = rng.integers(0, 2, size=64).astype(np.int64)
    for i in range(60):
        bits = base.copy()
        for b in rng.choice(64, size=i % 3, replace=False):
            bits[b] ^= 1
        amps = np.where(bits, 8000, 120)
        signs = np.where(np.arange(64) % 2 == 0, 1, -1)
        x = np.repeat(amps * signs, wlen).astype(np.int32)[:, None]
        rows.append((f"au{i:02d}", bytearray(encode_wav(x, 8000, "i16")),
                     8000, 64 * wlen, 1, "wav"))
    schema = ("audio_id string, bytes binary, sr int, n_samples int, "
              "channels int, fmt string")
    full = spark.createDataFrame(rows, schema)
    corpus = full.filter("substring(audio_id, 3) % 2 = 0").cache()
    arrivals = full.filter("substring(audio_id, 3) % 2 = 1")

    src = str(tmp_path / "audio_arrivals")
    arrivals.filter("substring(audio_id, 3) % 4 = 1").coalesce(1) \
        .write.parquet(src)
    time.sleep(1.1)
    arrivals.filter("substring(audio_id, 3) % 4 = 3").coalesce(1) \
        .write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = streaming_audio_matches(stream, corpus, max_hamming=2)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("audio_matches")
        .option("checkpointLocation", str(tmp_path / "ackpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in spark.sql("select * from audio_matches").collect()
    }
    want = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in phash_neardup_against(
            audio_features(arrivals).select("audio_id", "afp"),
            audio_features(corpus).select("audio_id", "afp"),
            max_hamming=2, id_col="audio_id", phash="afp",
        ).collect()
    }
    assert got == want and got
