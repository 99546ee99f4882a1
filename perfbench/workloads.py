"""The benchmark's workloads: seeded fixtures, operator calls, output checks
and the no-Spark layer probes.

Every workload drives the engine's public functions only. Each operator
call is a closed loop step: its action finishes before the next starts.
Every subset is chosen by a `pmod(xxhash64(id, seed, tag), m)` predicate,
so it depends on the row, never on partitioning or core count.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import DataFrame, functions as F

from segment_rtree_spark.layer import PolygonLayer
from segment_rtree_spark.sources.wkt import parse_wkt_file_polygons
from segment_rtree_spark.synth import images_df_fast

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WKT = os.path.join(REPO, "data", "wkt")

# -- shared helpers ----------------------------------------------------


def hashed(col: str, seed: int, m: int, tag: str):
    """Row-property subset predicate: about 1 row in m, independent of
    partitioning. `tag` decorrelates subsets drawn for different uses."""
    return F.expr(f"pmod(xxhash64({col}, {int(seed)}L, '{tag}'), {int(m)}) = 0")


def multiset(df: DataFrame, cols: list[str], extra=()) -> tuple:
    """(rows, order-free hash of the rows' `cols`) in one action."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # each term < 2^40, so the sum cannot overflow a long
        F.coalesce(F.sum(F.xxhash64(*cols) % F.lit(1 << 40)), F.lit(0)).alias("h"),
        *extra,
    ).first()
    return tuple(row)


def ring_rows(names) -> list:
    """Ring rows of several WKT corpus files, polygon ids offset per file."""
    rows = []
    for k, name in enumerate(names):
        part = parse_wkt_file_polygons(os.path.join(WKT, name + ".wkt"))
        rows += [(1000 * k + pid, part_id, xs, ys) for pid, part_id, xs, ys in part]
    return rows


def remap(df: DataFrame, layer: PolygonLayer) -> DataFrame:
    """Move the synthetic world-wide geotags into the layer's extent."""
    x0, x1 = float(np.nanmin(layer.xmin)), float(np.nanmax(layer.xmax))
    y0, y1 = float(np.nanmin(layer.ymin)), float(np.nanmax(layer.ymax))
    return df.withColumn("lng", (F.col("lng") + 180.0) / 360.0 * (x1 - x0) + x0).withColumn(
        "lat", (F.col("lat") + 90.0) / 180.0 * (y1 - y0) + y0
    )


class Op:
    """One operator call: `fn()` runs it to completion and returns what
    `check(result, state)` inspects; check returns an error or None."""

    def __init__(self, name, items, fn, check):
        self.name, self.items, self.fn, self.check = name, items, fn, check


def _check_eq(got, want, what):
    return None if got == want else f"{what}: got {got}, want {want}"


def _capture_udf(cls, build):
    """Run `build()` (a public operator call) while recording the Python
    function it hands to mapInPandas/mapInArrow of DataFrame class `cls`,
    and the frame it maps: the UDF body and its input, to be run locally
    with no Spark involved."""
    seen = {}
    methods = ("mapInPandas", "mapInArrow")
    own = {m: cls.__dict__.get(m) for m in methods}
    originals = {m: getattr(cls, m) for m in methods}

    def spy(method):
        def call(self, func, schema, *a, **k):
            seen["func"], seen["kind"], seen["input"] = func, method, self
            return originals[method](self, func, schema, *a, **k)
        return call

    try:
        for m in methods:
            setattr(cls, m, spy(m))
        build()
    finally:
        for m in methods:
            if own[m] is None:
                delattr(cls, m)
            else:
                setattr(cls, m, own[m])
    return seen["func"], seen["kind"], seen["input"]


def time_udf_body(df, build, batch_rows=65536) -> float:
    """Seconds to run the UDF body of `build()` (an operator applied to
    DataFrame `df`) over the rows the operator feeds it, single-threaded."""
    import pyarrow as pa

    func, kind, inp = _capture_udf(type(df), build)
    pdf = inp.toPandas()
    chunks = [pdf.iloc[i:i + batch_rows] for i in range(0, len(pdf), batch_rows)]
    if kind == "mapInArrow":
        chunks = [pa.RecordBatch.from_pandas(c, preserve_index=False) for c in chunks]
    return timed(lambda: [None for _ in func(iter(chunks))])[1]


def timed(fn):
    """(fn(), seconds it took)."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def layer_probes(layer: PolygonLayer, points: DataFrame, n_boundary: int) -> dict:
    """The kernel and tile layers with no Spark, single-threaded, on the
    captured `points` batch: the PIP envelope probe and winding kernel,
    boundary_distance over every polygon for `n_boundary` points, and
    the res-6 cover."""
    from segment_rtree_spark.operators.knn_join import boundary_distance

    pts = points.select("lng", "lat").toPandas()
    px, py = pts["lng"].to_numpy(), pts["lat"].to_numpy()
    n = max(1, len(px))
    q, _ = layer.candidates(px, py)
    (hits, _, _), pip_s = timed(lambda: layer.pip(px, py))
    bx, by = px[:n_boundary], py[:n_boundary]
    _, dist_s = timed(lambda: [boundary_distance(bx, by, p) for p in layer.polygons])
    (_, cells), cover_s = timed(lambda: layer.cover_cells(6))
    return {
        "kernels.pip.s_per_mpt": pip_s / (n / 1e6),
        "kernels.pip.candidates_per_pt": len(q) / n,
        "kernels.pip.hit_ratio": len(hits) / max(1, len(q)),
        "kernels.boundary_distance.s_per_pair": dist_s / max(1, len(bx) * len(layer)),
        "tiles.cover_s": cover_s,
        "tiles.cover_rows": len(cells),
    }


# -- spatial_join ------------------------------------------------------


class SpatialJoin:
    name = "spatial_join"
    round_s = 11.5  # a warm round on the reference host; run.py sizes runs by it
    images = 128_000
    knn_mod = 50          # kNN runs on 1 in 50 images
    knn_check_mod = 5000  # brute-force kNN check on 1 in 5000
    probe_mod = 4         # no-Spark kernel batch: 1 in 4 images
    salt_threshold = 1000
    layer_files = ("africa", "europe", "usa-lower48", "papua")

    def __init__(self, spark, seed, work):
        self.spark, self.seed = spark, seed
        self.rows = ring_rows(self.layer_files)

    def build_layer(self):
        self.layer = PolygonLayer.from_ring_rows(self.rows)

    def synth(self):
        # no spatial operator reads the pixels: 8x8 keeps synthesis cheap
        df = images_df_fast(self.spark, self.images, seed=self.seed, skew_frac=0.1, size=8)
        # images_df_fast leaves its 20k-row slices unevenly spread over the
        # task slots once there are at least as many slices as slots; even
        # partitions, two per slot, keep one double-size task from setting
        # the wall time of every narrow stage
        parts = 2 * self.spark.sparkContext.defaultParallelism
        imgs = remap(df, self.layer).repartition(parts).cache()
        imgs.count()
        self.imgs = imgs
        self.knn_pts = imgs.filter(hashed("image_id", self.seed, self.knn_mod, "knn"))
        return [imgs]

    def prepare(self):
        self.n_knn = self.knn_pts.count()

    def _pip_b(self, imgs):
        from segment_rtree_spark.operators.pip_join import pip_join_broadcast
        from segment_rtree_spark.operators.tile_ops import assign_tiles

        return pip_join_broadcast(assign_tiles(imgs, res=8), self.layer,
                                  keep=["image_id", "cell"])

    def _knn(self, pts):
        from segment_rtree_spark.operators.knn_join import knn_join_broadcast

        return knn_join_broadcast(pts, self.layer, k=2, keep=["image_id"])

    def ops(self):
        from segment_rtree_spark.operators.pip_join import pip_join_partitioned
        from segment_rtree_spark.operators.tile_ops import tile_pyramid

        imgs, knn_pts = self.imgs, self.knn_pts
        key = ["image_id", "polygon_id", "relation"]

        def check_b(res, state):
            state["pip"] = res
            return None if res[0] > 0 else "broadcast PIP found no hits"

        def check_p(res, state):
            return _check_eq(res, state.get("pip"), "partitioned vs broadcast (rows, hash)")

        def check_knn(res, state):
            n, _, dmin = res
            if dmin is not None and dmin < 0:
                return f"negative kNN distance {dmin}"
            return _check_eq(n, 2 * state["n_knn"], "kNN rows")

        def check_pyr(res, state):
            sums = {r["res"]: r["n"] for r in res}
            if sorted(sums) != list(range(4, 11)):
                return f"pyramid levels {sorted(sums)}"
            bad = {r: n for r, n in sums.items() if n != state["images"]}
            return f"level sums {bad} != {state['images']}" if bad else None

        return [
            Op("pip_broadcast", self.images,
               lambda: multiset(self._pip_b(imgs), key), check_b),
            Op("pip_partitioned", self.images,
               lambda: multiset(pip_join_partitioned(
                   imgs, self.layer, keep=["image_id"], res=6,
                   salt_threshold=self.salt_threshold, n_salt=8), key), check_p),
            Op("knn", self.n_knn,
               lambda: multiset(self._knn(knn_pts), ["image_id", "polygon_id", "rank"],
                                [F.min("dist")]), check_knn),
            Op("tile_pyramid", self.images,
               lambda: tile_pyramid(imgs, base_res=10, min_res=4)
               .groupBy("res").agg(F.sum("n").alias("n")).collect(),
               check_pyr),
        ]

    def state(self):
        return {"n_knn": self.n_knn, "images": self.images}

    def final_checks(self):
        return [("knn_brute_force", self._knn_brute_force)]

    def traced_ops(self):
        return []

    def _knn_brute_force(self):
        """kNN distances on a hashed subset against brute-force
        boundary_distance over every polygon of the layer."""
        from segment_rtree_spark.kernels.pip import INTERIOR, points_in_polygon
        from segment_rtree_spark.operators.knn_join import boundary_distance

        sub = self.imgs.filter(hashed("image_id", self.seed, self.knn_check_mod, "knncheck"))
        pts = sub.select("image_id", "lng", "lat").toPandas()
        got = self._knn(sub).select("image_id", "dist").toPandas()
        px, py = pts["lng"].to_numpy(), pts["lat"].to_numpy()
        d = np.empty((len(pts), len(self.layer)))
        for j, poly in enumerate(self.layer.polygons):
            dj = boundary_distance(px, py, poly)
            d[:, j] = np.where(points_in_polygon(px, py, poly) == INTERIOR, 0.0, dj)
        want = np.sort(d, axis=1)[:, :2]
        by_id = got.groupby("image_id")["dist"].apply(lambda s: np.sort(s.to_numpy()))
        for i, iid in enumerate(pts["image_id"]):
            g = by_id.get(iid)
            if g is None or len(g) != 2 or not np.allclose(g, want[i], rtol=1e-9, atol=1e-12):
                return f"kNN {iid}: got {g}, brute force {want[i]}"
        return None if len(pts) else "empty kNN check subset"

    def probes(self, ops_by_name):
        out = layer_probes(self.layer, self.imgs.filter(
            hashed("image_id", self.seed, self.probe_mod, "probe")), 64)
        # UDF bodies on the operators' own rows, single-threaded
        out["_kernel_s.pip_broadcast"] = time_udf_body(
            self.imgs, lambda: self._pip_b(self.imgs))
        out["_kernel_s.knn"] = time_udf_body(self.knn_pts, lambda: self._knn(self.knn_pts))
        return out


# -- curate --------------------------------------------------------------


class Curate:
    """Composed curation over one corpus: the cascade (curate_multimodal)
    and the read-only one-shot curate_images; traced runs add the
    checkpointed twin as a stop plus a resume."""

    images = 30_000
    caption_groups = 3_000  # ~10 images per caption
    probe_mod = 2
    keys_per_batch = 16
    layer_files = ("africa",)

    def __init__(self, spark, seed, work):
        self.spark, self.seed, self.work = spark, seed, work
        self.rows = ring_rows(self.layer_files)
        self.ckpt = None

    def build_layer(self):
        self.layer = PolygonLayer.from_ring_rows(self.rows)

    def synth(self):
        df = remap(images_df_fast(self.spark, self.images, seed=self.seed), self.layer)
        imgs = (
            df.withColumn("caption", F.expr(
                f"concat('cap ', pmod(xxhash64(image_id, {self.seed}L), {self.caption_groups}))"))
            .withColumn("embedding", F.expr(
                "transform(sequence(0, 15), d -> cast(pmod("
                f"xxhash64(image_id, d, {self.seed}L), 1000) as double) / 500.0 - 1.0)"))
            .cache()
        )
        imgs.count()
        self.imgs = imgs
        return [imgs]

    def prepare(self):
        # survivors of the region and caption filters, counted by the
        # no-Spark kernel: every synthetic caption has two tokens
        pts = self.imgs.select("lng", "lat").toPandas()
        idx, _, _ = self.layer.pip(pts["lng"].to_numpy(), pts["lat"].to_numpy())
        self.survivors = len(np.unique(idx))

    _curated = ["image_id", "caption", "n_regions", "cluster_size"]

    @staticmethod
    def _sums():
        return [F.sum("cluster_size"), F.countDistinct("image_id")]

    def ops(self):
        from segment_rtree_spark.pipelines import curate_images, curate_multimodal

        imgs = self.imgs

        def check_cmm(res, state):
            n, _, total, distinct = res
            state["dup_share"] = 1.0 - n / max(1, total)
            return (_check_eq(total, state["survivors"], "sum(cluster_size)")
                    or _check_eq(distinct, n, "distinct representative ids"))

        def check_ci(res, state):
            state["ci"] = res
            n, _, total, distinct = res
            return (_check_eq(total, state["survivors"], "sum(cluster_size)")
                    or _check_eq(distinct, n, "distinct representative ids"))

        return [
            Op("curate_multimodal", self.images,
               lambda: multiset(curate_multimodal(imgs, self.layer, max_hamming=8, n_bands=4,
                                                  embedding="embedding", embed_threshold=0.95),
                                self._curated, self._sums()), check_cmm),
            Op("curate_images", self.images,
               lambda: multiset(curate_images(imgs, self.layer, max_hamming=8, n_bands=4),
                                self._curated, self._sums()), check_ci),
        ]

    def traced_ops(self):
        """The write path, once per traced run: curate_images_checkpointed
        stopped after its first key batch, then resumed to completion."""
        from segment_rtree_spark.pipelines import curate_images_checkpointed

        root = os.path.join(self.work, "ckpt")
        kw = dict(max_hamming=8, n_bands=4, keys_per_batch=self.keys_per_batch)

        def run():
            first, _ = curate_images_checkpointed(self.imgs, self.layer, root=root,
                                                  max_batches=1, **kw)
            second, out = curate_images_checkpointed(self.imgs, self.layer, root=root, **kw)
            return first, second, None if out is None else multiset(
                out, self._curated, self._sums())

        def check(res, state):
            first, second, got = res
            if got is None:
                return "checkpointed run did not complete on resume"
            prog = self.spark.read.parquet(os.path.join(root, "progress"))
            keys = prog.groupBy("partition_key").count()
            n_keys = keys.count()
            rerun = keys.filter(F.col("count") > 1).count()
            self.ckpt = {"root": root, "rerun": rerun,
                         "wall_ms": [r[0] for r in prog.select("wall_ms").collect()]}
            return (_check_eq(got, state.get("ci"), "checkpointed vs one-shot (rows, hash)")
                    or _check_eq(rerun, 0, "duplicate progress keys")
                    or _check_eq((first, first + second), (self.keys_per_batch, n_keys),
                                 "keys run (stop, total)"))

        return [Op("curate_checkpointed", self.images, run, check)]

    def state(self):
        return {"survivors": self.survivors}

    def probes(self, ops_by_name):
        from segment_rtree_spark.operators.dedup import (
            crossmodal_group_labels,
            phash_group_labels,
        )
        from segment_rtree_spark.operators.embed import embedding_neardup_pairs
        from segment_rtree_spark.operators.pip_join import pip_count_broadcast

        out = layer_probes(self.layer, self.imgs.filter(
            hashed("image_id", self.seed, self.probe_mod, "probe")), 256)

        # the composed stages, each timed on the pipeline's own input:
        # the survivor frame the pip_count_broadcast stage produces
        narrow = self.imgs.select("image_id", "caption", "phash", "embedding", "lat", "lng")
        ok, out["pip_join.pip_count_broadcast_s"] = timed(
            lambda: pip_count_broadcast(narrow, self.layer,
                                        keep=["image_id", "caption", "phash", "embedding"])
            .localCheckpoint())
        _, out["dedup.phash_group_labels_s"] = timed(
            lambda: phash_group_labels(ok, max_hamming=8, n_bands=4)
            .groupBy("_plabel").count().count())
        _, out["dedup.crossmodal_group_labels_s"] = timed(
            lambda: crossmodal_group_labels(ok, max_hamming=8, n_bands=4)
            .groupBy("_xlabel").count().count())
        _, out["embed.embedding_neardup_pairs_s"] = timed(
            lambda: embedding_neardup_pairs(ok.select("image_id", "embedding"),
                                            threshold=0.95, id_col="image_id").count())
        # the checkpoint layer, from the checkpointed run's own output
        # and progress table
        if self.ckpt:
            files = [os.path.join(d, f)
                     for d, _, fs in os.walk(os.path.join(self.ckpt["root"], "output"))
                     for f in fs if f.endswith(".parquet")]
            out["checkpoint.files_written"] = len(files)
            out["checkpoint.bytes_per_image"] = sum(map(os.path.getsize, files)) / self.images
            out["checkpoint.key_batch_s"] = statistics.median(self.ckpt["wall_ms"]) / 1e3
            out["checkpoint.rerun_keys"] = self.ckpt["rerun"]
        ck = ops_by_name.get("curate_checkpointed")
        one = ops_by_name.get("curate_images")
        if ck and one:
            out["checkpoint.write_overhead"] = ck / one
        return out


# -- ingest_validate -----------------------------------------------------

CODEC_FMTS = ("raw", "png", "jpeg", "jpeg_prog", "bmp", "gif", "tiff", "webp", "tiff_g4")
TABLE_FMT = {"jpeg_prog": "jpeg", "tiff_g4": "tiff"}
# large enough that decoding is most of the per-row work in the UDF body
# of validate_images
CODEC_MIN_PX, CODEC_MAX_PX = 96, 160


def codec_pixels(seed: int, i: int):
    """Source pixels and format of validate-corpus row i: a pure function
    of (seed, i), smooth content so every codec round-trips cleanly."""
    fmt = CODEC_FMTS[i % len(CODEC_FMTS)]
    rng = np.random.default_rng([seed, i])
    w, h = (int(v) for v in rng.integers(CODEC_MIN_PX, CODEC_MAX_PX + 1, 2))
    a, b = rng.uniform(0.4, 1.0, 2)
    off = rng.integers(0, 64, 3)
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.stack([off[0] + a * 191 * yy / (h - 1),
                   off[1] + b * 191 * xx / (w - 1),
                   off[2] + 191 * (yy + xx) / (h + w - 2)], axis=-1).astype(np.uint8)
    if fmt == "gif":  # palette codec: at most 64 colours
        px = (px >> 6) << 6
    elif fmt == "tiff_g4":  # fax codec: bilevel
        px = np.repeat(((px[:, :, :1] >= 128) * 255).astype(np.uint8), 3, axis=2)
    return fmt, w, h, px


def _encode_rows(seed: int):
    def gen(batches):
        import pandas as pd

        from segment_rtree_spark.ccitt import encode_tiff_g4
        from segment_rtree_spark.imageio import (
            encode_bmp, encode_gif, encode_png, encode_raw, encode_tiff, encode_webp,
        )
        from segment_rtree_spark.jpegio import encode_jpeg

        enc = {"raw": encode_raw, "png": encode_png, "bmp": encode_bmp,
               "gif": encode_gif, "tiff": encode_tiff, "webp": encode_webp,
               "tiff_g4": encode_tiff_g4, "jpeg": lambda p: encode_jpeg(p, 90),
               "jpeg_prog": lambda p: encode_jpeg(p, 90, progressive=True)}
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                fmt, w, h, px = codec_pixels(seed, int(i))
                rows.append((f"v{int(i):07d}", enc[fmt](px), w, h,
                             TABLE_FMT.get(fmt, fmt), fmt))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt", "src_fmt"])
    return gen


class IngestValidate:
    per_fmt = 8
    bad_mod = 8  # 1 in 8 payloads truncated to half its length

    def __init__(self, spark, seed):
        self.spark, self.seed = spark, seed
        self.images = self.per_fmt * len(CODEC_FMTS)

    def synth(self):
        bad = hashed("image_id", self.seed, self.bad_mod, "bad")
        corpus = (
            self.spark.range(self.images).repartition(self.spark.sparkContext.defaultParallelism)
            .mapInPandas(_encode_rows(self.seed),
                         "image_id string, bytes binary, w int, h int, fmt string, src_fmt string")
            .withColumn("bad", bad)
            .withColumn("bytes", F.when(F.col("bad"), F.expr(
                "substring(bytes, 1, cast(length(bytes) / 2 as int))")).otherwise(F.col("bytes")))
            .cache()
        )
        corpus.count()
        self.corpus = corpus
        return [corpus]

    def prepare(self):
        self.n_bad = self.corpus.filter("bad").count()

    def ops(self):
        from segment_rtree_spark.operators.images import validate_images

        corpus = self.corpus

        def check(res, state):
            counts = {bool(r["ok"]): r["count"] for r in res}
            return (_check_eq(counts.get(False, 0), state["bad"], "rows judged invalid")
                    or _check_eq(counts.get(True, 0), state["rows"] - state["bad"],
                                 "rows judged valid"))

        return [Op("validate", self.images,
                   lambda: validate_images(corpus).groupBy("ok").count().collect(), check)]

    def state(self):
        return {"bad": self.n_bad, "rows": self.images}

    def final_checks(self):
        return [("jpeg_psnr", self._jpeg_psnr)]

    def _jpeg_psnr(self):
        """Every clean baseline and progressive jpeg row decodes to PSNR
        >= 40 dB against its source pixels."""
        from segment_rtree_spark.imageio import decode_image, psnr

        rows = (self.corpus.filter((F.col("fmt") == "jpeg") & ~F.col("bad"))
                .select("image_id", "bytes", "w", "h").collect())
        for r in rows:
            _, w, h, src = codec_pixels(self.seed, int(r["image_id"][1:]))
            got = decode_image(bytes(r["bytes"]), "jpeg", w, h)
            q = psnr(src, got)
            if q < 40.0:
                return f"{r['image_id']}: PSNR {q:.1f} dB < 40"
        return None if rows else "no clean jpeg rows"

    def probes(self, ops_by_name):
        """codec.<fmt>.decode_mb_per_s: decoded pixel megabytes per
        second of imageio.decode_image on every clean row; and the
        validator's own UDF body on the rows it decodes."""
        from segment_rtree_spark.imageio import decode_image
        from segment_rtree_spark.operators.images import validate_images

        rows = (self.corpus.filter(~F.col("bad"))
                .select("bytes", "w", "h", "fmt", "src_fmt").collect())
        out, decode_s = {}, 0.0
        for fmt in CODEC_FMTS[1:]:
            sel = [r for r in rows if r["src_fmt"] == fmt]
            _, dt = timed(lambda: [decode_image(bytes(r["bytes"]), r["fmt"], r["w"], r["h"])
                                   for r in sel])
            out[f"codec.{fmt}.decode_mb_per_s"] = (
                sum(r["w"] * r["h"] * 3 for r in sel) / 1e6 / dt if dt > 0 else 0.0)
            decode_s += dt
        out["_kernel_s.validate"] = time_udf_body(
            self.corpus, lambda: validate_images(self.corpus))
        print(f"codec decode of every clean row, single-threaded: {decode_s:.2f} s; "
              f"validate_images UDF body on its rows: {out['_kernel_s.validate']:.2f} s")
        return out


class CurateIngest:
    """The curation pipelines and the ingest validator: everything the
    spatial_join workload leaves out (dedup, embeddings, checkpoint
    writes, the codecs), over two corpora built from one seed."""

    name = "curate_ingest"
    round_s = 12.0  # a warm round on the reference host; run.py sizes runs by it

    def __init__(self, spark, seed, work):
        self.curate = Curate(spark, seed, work)
        self.ingest = IngestValidate(spark, seed)
        self.parts = (self.curate, self.ingest)
        self.images = self.curate.images + self.ingest.images

    def build_layer(self):
        self.curate.build_layer()

    def synth(self):
        return [df for p in self.parts for df in p.synth()]

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def ops(self):
        return [op for p in self.parts for op in p.ops()]

    def state(self):
        return {k: v for p in self.parts for k, v in p.state().items()}

    def final_checks(self):
        return self.ingest.final_checks()

    def traced_ops(self):
        return self.curate.traced_ops()

    def probes(self, ops_by_name):
        return {k: v for p in self.parts for k, v in p.probes(ops_by_name).items()}


WORKLOADS = {w.name: w for w in (SpatialJoin, CurateIngest)}
