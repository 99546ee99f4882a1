"""SpatialFrame facade + kNN broadcast operator checks."""

import os

import numpy as np
import pandas as pd
import pytest

from segment_rtree_spark.frame import SpatialFrame
from segment_rtree_spark.kernels.pip import BOUNDARY, EXTERIOR, INTERIOR, _point_segment_dist2
from segment_rtree_spark.layer import PolygonLayer
from segment_rtree_spark.operators.knn_join import boundary_distance, knn_join_broadcast
from tests.test_property_fuzz import brute_relation

LAYER_ROWS = [
    (1, 0, [0.0, 0.0, 10.0, 10.0, 0.0], [0.0, 10.0, 10.0, 0.0, 0.0]),
    (2, 0, [20.0, 20.0, 30.0, 30.0, 20.0], [0.0, 10.0, 10.0, 0.0, 0.0]),
    (3, 0, [40.0, 40.0, 50.0, 50.0, 40.0], [0.0, 10.0, 10.0, 0.0, 0.0]),
]
LAYER = PolygonLayer.from_ring_rows(LAYER_ROWS)


def polygon_rings(rows):
    """(sorted ids, each id's rings as (xs, ys), shell first) of ring
    rows: the reference's own copy of the geometry, not the layer's."""
    grouped: dict = {}
    for pid, part, xs, ys in rows:
        grouped.setdefault(int(pid), []).append(
            (part, np.asarray(xs, float), np.asarray(ys, float))
        )
    ids = sorted(grouped)
    return np.array(ids), [[r[1:] for r in sorted(grouped[i], key=lambda t: t[0])] for i in ids]


def brute_polygon_relation(px, py, rings):
    """Point-in-polygon by brute winding, no tree (brute_relation's
    closed forms per ring): the shell's relation, then any hole Interior
    -> Exterior, else any hole Boundary -> Boundary."""
    rel = brute_relation(px, py, *rings[0])
    if len(rings) > 1:
        hmax = np.max([brute_relation(px, py, *h) for h in rings[1:]], axis=0)
        inside = rel == INTERIOR
        rel = np.where(inside & (hmax == INTERIOR), EXTERIOR,
                       np.where(inside & (hmax == BOUNDARY), BOUNDARY, rel))
    return rel


def dense_boundary_distance(px, py, rings, chunk=256):
    """Boundary distance by the dense points x segments fold: every
    segment of every ring ((xs, ys) pairs), no tree."""
    best = np.full(len(px), np.inf)
    for xs, ys in rings:
        for s in range(0, len(px), chunk):
            d2 = _point_segment_dist2(
                px[s:s + chunk, None], py[s:s + chunk, None],
                xs[None, :-1], ys[None, :-1], xs[None, 1:], ys[None, 1:],
            )
            best[s:s + chunk] = np.minimum(best[s:s + chunk], d2.min(axis=1))
    return np.sqrt(best)


def dense_knn(px, py, rows, k, signed=True):
    """(ids, dists) of each point's k nearest polygons of ring rows from
    the dense points x polygons distance matrix (sign by brute winding),
    ties by lower id."""
    ids, polys = polygon_rings(rows)
    dmat = np.empty((len(px), len(ids)))
    for j, rings in enumerate(polys):
        d = dense_boundary_distance(px, py, rings)
        if signed:
            d = np.where(brute_polygon_relation(px, py, rings) == INTERIOR, 0.0, d)
        dmat[:, j] = d
    order = np.lexsort((np.broadcast_to(ids, dmat.shape), dmat), axis=1)[:, :k]
    return ids[order], np.take_along_axis(dmat, order, axis=1)


def assert_knn_matches_dense(out, px, py, rows, k, signed=True):
    """Every point gets min(k, polygon count) rows, equal in ids, ranks
    and bit-exact dists to dense_knn over the layer's ring rows."""
    kc = min(k, len({r[0] for r in rows}))
    want_ids, want_d = dense_knn(px, py, rows, kc, signed)
    out = out.sort_values(["pid", "rank"]).reset_index(drop=True)
    assert len(out) == kc * len(px)
    for i in range(len(px)):
        got = out[out.pid == i]
        assert list(got["rank"]) == list(range(1, kc + 1)), i
        assert list(got["polygon_id"]) == list(want_ids[i]), i
        assert np.array_equal(got["dist"].to_numpy(), want_d[i]), i


def wkt_rows(*names):
    """Ring rows of several corpus files, polygon ids offset per file."""
    from segment_rtree_spark.sources.wkt import parse_wkt_file_polygons

    rows = []
    for k, name in enumerate(names):
        path = os.path.join(os.path.dirname(__file__), "..", "data", "wkt", name + ".wkt")
        rows += [(1000 * k + pid, part, xs, ys) for pid, part, xs, ys in parse_wkt_file_polygons(path)]
    return rows


@pytest.fixture(scope="module")
def pts(spark):
    pdf = pd.DataFrame(
        {
            "pid": [1, 2, 3, 4],
            "lng": [5.0, 15.0, 33.0, 100.0],
            "lat": [5.0, 5.0, 5.0, 5.0],
        }
    )
    return spark.createDataFrame(pdf)


def test_knn_ranks_and_distances(spark, pts):
    out = knn_join_broadcast(pts, LAYER, k=2, keep=["pid"]).toPandas()
    assert len(out) == 8
    by = {(r.pid, r.rank): (r.polygon_id, r.dist) for r in out.itertuples()}
    # point 1 is inside polygon 1 -> dist 0 rank 1
    assert by[(1, 1)][0] == 1 and by[(1, 1)][1] == 0.0
    # point 2 at lng 15 is 5 from poly 1 and 5 from poly 2: tie -> lower id first
    assert by[(2, 1)][0] == 1 and by[(2, 2)][0] == 2
    assert by[(2, 1)][1] == 5.0 == by[(2, 2)][1]
    # point 3 at lng 33: 3 from poly 2, 7 from poly 3
    assert by[(3, 1)] == (2, 3.0)
    assert by[(3, 2)] == (3, 7.0)


def test_boundary_distance_matches_manual():
    poly = LAYER.polygons[0]
    d = boundary_distance(np.array([5.0, -3.0, 5.0]), np.array([5.0, 5.0, 14.0]), poly)
    assert d[0] == 5.0  # center of 10x10 square -> 5 to nearest edge
    assert d[1] == 3.0
    assert d[2] == 4.0


def test_knn_pruned_matches_dense_on_corpus(spark):
    """The expanding-radius index-pruned kNN must equal the dense
    all-polygons scan (which the reference's query_within would also
    refine to) on real geometry — africa + uk, 300 scattered points."""
    rows = wkt_rows("africa", "uk")
    layer = PolygonLayer.from_ring_rows(rows)
    rng = np.random.default_rng(11)
    px = rng.uniform(-25.0, 60.0, 300)
    py = rng.uniform(-40.0, 62.0, 300)
    pdf = pd.DataFrame({"pid": np.arange(300), "lng": px, "lat": py})
    out = knn_join_broadcast(spark.createDataFrame(pdf), layer, k=3, keep=["pid"]).toPandas()
    assert_knn_matches_dense(out, px, py, rows, 3)


def test_knn_unsigned_matches_dense(spark):
    """signed=False: interior points keep their boundary distance (no 0
    for the containing polygon); equal to the dense unsigned fold on
    africa + uk + usa-lower48, 400 points spread over the three."""
    rows = wkt_rows("africa", "uk", "usa-lower48")
    layer = PolygonLayer.from_ring_rows(rows)
    rng = np.random.default_rng(12)
    boxes = [(-25.0, 60.0, -40.0, 45.0), (1190.0, 1390.0, 1180.0, 1400.0), (-130.0, -60.0, 20.0, 55.0)]
    which = rng.integers(0, 3, 400)
    lo_x, hi_x, lo_y, hi_y = (np.array([b[i] for b in boxes])[which] for i in range(4))
    px, py = rng.uniform(lo_x, hi_x), rng.uniform(lo_y, hi_y)
    pdf = pd.DataFrame({"pid": np.arange(400), "lng": px, "lat": py})
    out = knn_join_broadcast(
        spark.createDataFrame(pdf), layer, k=3, keep=["pid"], signed=False
    ).toPandas()
    assert_knn_matches_dense(out, px, py, rows, 3, signed=False)
    assert (out["dist"] > 0).all()


def test_knn_k_exceeds_layer(spark):
    """k > len(layer): every point gets every polygon, ranked. The far
    point's search box first covers all envelopes in the last of the 64
    radius doublings, while its distances still exceed the radius: only
    the rule that a point whose box sees every polygon is final keeps
    it in the output."""
    px = np.array([5.0, 15.0, 33.0, 100.0, 2e20])
    py = np.array([5.0, 5.0, 5.0, 5.0, 2e20])
    pdf = pd.DataFrame({"pid": np.arange(5), "lng": px, "lat": py})
    out = knn_join_broadcast(spark.createDataFrame(pdf), LAYER, k=5, keep=["pid"]).toPandas()
    assert_knn_matches_dense(out, px, py, LAYER_ROWS, 5)


def test_knn_prune_slack_near_tie(spark):
    """The candidate prune keeps a pair whose envelope lower bound is a
    rounding error above the point's kc-th vertex upper bound: polygon
    2's exact distance (a segment fold at coordinates ~1e3, rounding
    ~1e-13) comes out 5e-14 ABOVE its own nearest-vertex distance, and
    polygon 1's corner lies between the two, so polygon 1 is the
    nearest. A prune without slack drops polygon 1 and ranks polygon 2
    first."""
    vx, vy, wx, wy, zx, zy = (
        928.5156915545539, 1001.7307148719407, 929.120487999507,
        1000.9343347741406, 7.153889700231559, 2.9017183733847953,
    )
    px, py, ux = 928.5206091478861, 1001.7344494491506, 928.526784080365
    rows = [
        (1, 0, [ux, ux + 1.0, ux, ux], [py, py, py + 1.0, py]),
        (2, 0, [vx, wx, zx, vx], [vy, wy, zy, vy]),
    ]
    layer = PolygonLayer.from_ring_rows(rows)
    pdf = pd.DataFrame({"pid": [0], "lng": [px], "lat": [py]})
    for k in (1, 2):
        out = knn_join_broadcast(
            spark.createDataFrame(pdf), layer, k=k, keep=["pid"], signed=False
        ).toPandas()
        assert_knn_matches_dense(out, np.array([px]), np.array([py]), rows, k, signed=False)
        assert out.loc[out["rank"] == 1, "polygon_id"].tolist() == [1]


def test_knn_carried_long_exact_beside_a_null(spark):
    """A carried 64-bit column stays exact when a NULL shares its Arrow
    batch: a pandas emit widened it to float64 and rounded 2^62+1."""
    big = (1 << 62) + 1
    pts = spark.createDataFrame(
        [("a", big, 5.0, 5.0), ("b", None, 15.0, 5.0)],
        "image_id string, phash long, lng double, lat double",
    ).coalesce(1)
    out = knn_join_broadcast(pts, LAYER, k=1, keep=["image_id", "phash"]).collect()
    assert {r["image_id"]: r["phash"] for r in out} == {"a": big, "b": None}


def test_spatialframe_chain(spark, pts):
    sf = SpatialFrame(pts)
    out = sf.assign_tiles(res=6).with_cell_prefix().pip_join(LAYER, keep=["pid"])
    pdf = out.toPandas()
    assert set(pdf["pid"]) == {1}  # only point 1 is inside a polygon
    # passthrough: filter returns a SpatialFrame
    assert isinstance(sf.filter("pid > 1"), SpatialFrame)
    assert sf.filter("pid > 1").count() == 3


def test_spatialframe_distance_and_zonal(spark, pts):
    sf = SpatialFrame(pts.withColumnRenamed("pid", "a_id"))
    other = pts.selectExpr("pid as b_id", "lng + 1.0 as lng", "lat as lat")
    pairs = sf.distance_join(other, radius=2.0).toPandas()
    # each shifted twin is exactly 1.0 away -> at least the 4 self pairs
    assert {(r.a_id, r.b_id) for r in pairs.itertuples()} >= {(i, i) for i in range(1, 5)}

    z = SpatialFrame(pts.withColumnRenamed("pid", "point_id")).zonal_stats(LAYER)
    zp = z.toPandas()
    assert zp[zp.polygon_id == 1].iloc[0]["n_points"] == 1  # point 1 inside poly 1


def test_sql_registered_functions(spark):
    from segment_rtree_spark.functions.register import register_all
    from segment_rtree_spark.tiles import cell_of
    import numpy as np

    register_all(spark)
    row = spark.sql(
        "select srs_cell_of(10.5, -20.25, 8) as c, srs_hilbert(12345, 67890) as h, "
        "srs_hamming64(255, 0) as d"
    ).collect()[0]
    assert row["c"] == int(cell_of(np.array([10.5]), np.array([-20.25]), 8)[0])
    assert row["h"] == 99_289_669
    assert row["d"] == 8


def test_ivf_topk_recall(spark):
    from segment_rtree_spark.operators.embed import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = cosine_topk(emb, emb.limit(20), k=3).toPandas()
    approx = ivf_topk(emb, k=3, n_lists=4).toPandas()
    # ANN must return k results per query and achieve decent recall@3
    got = set(zip(approx.query_id, approx.vec_id))
    want = set(zip(exact.query_id, exact.vec_id))
    overlap = len(got & want) / max(1, len(want))
    assert overlap > 0.3  # same-list neighbors dominate for clustered data


def test_kmeans_fit_matches_local_lloyd(spark):
    """Distributed Lloyd == local NumPy Lloyd on the same seeds (modulo
    summation order; sf0.001 fits one batch so equality is exact)."""
    import numpy as np

    from segment_rtree_spark.operators.embed import kmeans_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
    k, iters = 4, 3
    cent = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                cent[j] = X[m].sum(axis=0) / m.sum()

    got = kmeans_fit(emb.repartition(1), k=k, iters=iters)
    assert np.allclose(got, cent, rtol=0, atol=1e-12)

    # multi-partition fit stays a valid codebook (ulp-level reorder ok)
    got8 = kmeans_fit(emb.repartition(8), k=k, iters=iters)
    assert np.allclose(got8, cent, rtol=1e-9, atol=1e-9)


def test_frame_curate_chain(spark):
    from segment_rtree_spark.frame import SpatialFrame
    from segment_rtree_spark.pipelines import curate_images
    from segment_rtree_spark.plans.entry_queries import entry_layer
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 200, skew_frac=0.1)
    layer = entry_layer()
    chained = sorted(map(tuple, SpatialFrame(imgs).curate(layer, max_hamming=1).df.collect()))
    direct = sorted(map(tuple, curate_images(imgs, layer, max_hamming=1).collect()))
    assert chained == direct and chained


def test_knn_haversine_metric(spark):
    """Haversine kNN ranks by great-circle distance: at lat 60 a site
    30 deg of LONGITUDE away is nearer than one 20 deg of LATITUDE
    away (cos 60 = 0.5 shrinks lng degrees) — euclidean-degree ranking
    gets this backwards. Also check the km value against the formula."""
    import math

    import pandas as pd

    from segment_rtree_spark.operators.knn_join import (
        EARTH_RADIUS_KM,
        knn_join_centroid,
    )

    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": [1], "lng": [0.0], "lat": [60.0]})
    )
    sites = pd.DataFrame(
        {"site_id": [10, 20], "cx": [30.0, 0.0], "cy": [60.0, 40.0]}
    )
    sdf = spark.createDataFrame(sites)
    hav = knn_join_centroid(pts, sdf, k=2, site_id="site_id", metric="haversine").toPandas()
    euc = knn_join_centroid(pts, sdf, k=2, site_id="site_id", metric="euclid").toPandas()
    hav_rank1 = int(hav.loc[hav["rank"] == 1, "site_id"].iloc[0])
    euc_rank1 = int(euc.loc[euc["rank"] == 1, "site_id"].iloc[0])
    assert hav_rank1 == 10  # 30 deg lng at lat 60 ~ 1546 km
    assert euc_rank1 == 20  # euclidean degrees rank the 20-deg-lat site first

    got = float(hav.loc[hav["site_id"] == 20, "dist_km"].iloc[0])
    want = 2 * EARTH_RADIUS_KM * math.asin(
        math.sqrt(math.sin(math.radians(20) / 2) ** 2)
    )
    assert abs(got - want) < 1e-6


def test_frame_neardup_against(spark):
    """SpatialFrame.neardup_against chains to the incremental phash
    operator with identical output."""
    from pyspark.sql import functions as F

    from segment_rtree_spark.frame import SpatialFrame
    from segment_rtree_spark.operators.dedup import phash_neardup_against
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 200)
    new = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) == 0)
    corpus = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) != 0)
    chained = sorted(
        map(tuple, SpatialFrame(new).neardup_against(SpatialFrame(corpus), max_hamming=16).df.collect())
    )
    direct = sorted(map(tuple, phash_neardup_against(new, corpus, max_hamming=16).collect()))
    assert chained == direct and chained


def test_boundary_distance_tree_pruning_exact():
    """The packed-tree branch-and-bound distance descent returns the
    BIT-IDENTICAL minimum to the dense points x segments fold on every
    africa polygon (the tree only prunes provably-farther segments;
    both reduce the same _point_segment_dist2 values)."""
    rows = wkt_rows("africa")
    layer = PolygonLayer.from_ring_rows(rows)
    rng = np.random.default_rng(11)
    px = rng.uniform(-20, 55, 2000)
    py = rng.uniform(-35, 40, 2000)
    ids, polys = polygon_rings(rows)
    assert np.array_equal(ids, layer.ids)
    for poly, rings in zip(layer.polygons, polys):
        want = dense_boundary_distance(px, py, rings)
        assert np.array_equal(boundary_distance(px, py, poly), want)


def test_frame_crossmodal_against(spark):
    """SpatialFrame.crossmodal_against chains to the joint
    caption+image incremental operator."""
    from pyspark.sql import functions as F

    from segment_rtree_spark.frame import SpatialFrame
    from segment_rtree_spark.operators.dedup import crossmodal_neardup_against
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 200).withColumn(
        "caption", F.expr("concat('c', cast(pmod(phash, 5) as string))")
    )
    new = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) == 0)
    corpus = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) != 0)
    via_frame = sorted(
        map(tuple, SpatialFrame(new).crossmodal_against(
            SpatialFrame(corpus), max_hamming=40
        ).df.collect())
    )
    direct = sorted(
        map(tuple, crossmodal_neardup_against(new, corpus, max_hamming=40).collect())
    )
    assert via_frame == direct and via_frame
