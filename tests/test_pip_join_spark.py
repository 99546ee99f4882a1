"""End-to-end Spark PIP join: broadcast == partitioned == local kernel,
caption/pixel invariants through the shuffle, salting correctness."""

import numpy as np
import pandas as pd
import pytest

from segment_rtree_spark.imageio import decode_image
from segment_rtree_spark.kernels.pip import RELATION_NAMES
from segment_rtree_spark.layer import PolygonLayer
from segment_rtree_spark.operators.pip_join import pip_join_broadcast, pip_join_partitioned
from segment_rtree_spark.synth import images_df, synth_image

# a small world: 5 polygons incl. one with a hole and one touching pair
LAYER_ROWS = [
    # big box around the hot cell (Paris-ish)
    (1, 0, [2.0, 2.0, 3.0, 3.0, 2.0], [48.0, 49.5, 49.5, 48.0, 48.0]),
    # box with a hole
    (2, 0, [-10.0, -10.0, 10.0, 10.0, -10.0], [-10.0, 10.0, 10.0, -10.0, -10.0]),
    (2, 1, [-5.0, -5.0, 5.0, 5.0, -5.0], [-5.0, 5.0, 5.0, -5.0, -5.0]),
    # triangle in the southern hemisphere
    (3, 0, [100.0, 140.0, 120.0, 100.0], [-60.0, -60.0, -20.0, -60.0]),
    # thin sliver crossing the antimeridian-ish region
    (4, 0, [170.0, 179.0, 179.0, 170.0, 170.0], [0.0, 0.0, 30.0, 30.0, 0.0]),
    # tiny polygon inside polygon 2's hole (so exterior of 2)
    (5, 0, [-1.0, -1.0, 1.0, 1.0, -1.0], [-1.0, 1.0, 1.0, -1.0, -1.0]),
]


@pytest.fixture(scope="module")
def layer():
    return PolygonLayer.from_ring_rows(LAYER_ROWS)


@pytest.fixture(scope="module")
def points(spark):
    return images_df(spark, 3000, skew_frac=0.3).cache()


def _collect_pairs(df):
    rows = df.select("image_id", "polygon_id", "relation").collect()
    return sorted((r["image_id"], r["polygon_id"], r["relation"]) for r in rows)


def _local_oracle(points_pdf, layer):
    qi, pid, rel = layer.pip(
        points_pdf["lng"].to_numpy(np.float64), points_pdf["lat"].to_numpy(np.float64)
    )
    ids = points_pdf["image_id"].to_numpy()
    return sorted(zip(ids[qi], pid.tolist(), RELATION_NAMES[rel].tolist()))


def test_broadcast_matches_local(spark, layer, points):
    pdf = points.toPandas()
    got = _collect_pairs(
        pip_join_broadcast(points, layer, keep=["image_id"])
    )
    assert got == _local_oracle(pdf, layer)
    assert len(got) > 100  # skewed points land in polygon 1


def test_partitioned_matches_broadcast(spark, layer, points):
    b = _collect_pairs(pip_join_broadcast(points, layer, keep=["image_id"]))
    p = _collect_pairs(
        pip_join_partitioned(points, layer, keep=["image_id"], res=5)
    )
    assert b == p


def test_partitioned_salted_matches(spark, layer, points):
    base = _collect_pairs(pip_join_partitioned(points, layer, keep=["image_id"], res=5))
    salted = _collect_pairs(
        pip_join_partitioned(
            points, layer, keep=["image_id"], res=5, salt_threshold=100, n_salt=4
        )
    )
    assert base == salted

    # > 64 hot cells: the hot set joins back as a broadcast frame (not a
    # literal isin). 30k points on a 1/1000-degree grid over polygon 2's
    # box (hole and polygon 5 included) at res 7.
    from pyspark.sql import functions as F

    from segment_rtree_spark.operators.pip_join import _hot_cells
    from segment_rtree_spark.tiles import cell_of_sql

    dense = spark.range(30_000).select(
        F.col("id").alias("image_id"),
        (F.pmod(F.xxhash64("id"), 20_000) / 1000.0 - 10.0).alias("lng"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 20_000) / 1000.0 - 10.0).alias("lat"),
    )
    hot = _hot_cells(dense.withColumn("cell", F.expr(cell_of_sql("lat", "lng", 7))), "image_id", 50)
    assert len(hot) > 64
    b = _collect_pairs(pip_join_broadcast(dense, layer, keep=["image_id"]))
    p = _collect_pairs(
        pip_join_partitioned(
            dense, layer, keep=["image_id"], res=7, salt_threshold=50, n_salt=4
        )
    )
    assert b == p
    assert len(b) > 20_000


def test_hot_cells_independent_of_partitioning(spark, points):
    """The salting probe picks rows by hash of the salted column, so the
    hot-cell isin set is the same for the input in 1 or 7 partitions (a
    seeded .sample() picks different rows per partitioning)."""
    from pyspark.sql import functions as F

    from segment_rtree_spark.operators.pip_join import _hot_cells
    from segment_rtree_spark.tiles import cell_of_sql

    def hot(n):
        pts = points.repartition(n).withColumn("cell", F.expr(cell_of_sql("lat", "lng", 5)))
        return set(_hot_cells(pts, "image_id", 50)["cell"].tolist())

    one = hot(1)
    assert len(one) > 1
    assert one == hot(7)


def test_partitioned_rings_matches_broadcast_corpus(spark, points):
    """Verdict item: partitioned PIP from a RINGS DataFrame (polyfill
    cover built executor-side, no PolygonLayer on the driver) equals
    the broadcast path on the africa+europe corpus."""
    from segment_rtree_spark.operators.pip_join import pip_join_partitioned_rings
    from segment_rtree_spark.sources.wkt import parse_wkt_file_polygons, read_wkt_rings

    rows = list(parse_wkt_file_polygons("data/wkt/africa.wkt"))
    off = max(r[0] for r in rows) + 1
    rows += [(pid + off, part, xs, ys)
             for pid, part, xs, ys in parse_wkt_file_polygons("data/wkt/europe.wkt")]
    layer = PolygonLayer.from_ring_rows(rows)
    rings = spark.createDataFrame(
        pd.DataFrame(
            {
                "polygon_id": [r[0] for r in rows],
                "part_id": [r[1] for r in rows],
                "xs": [r[2].tolist() for r in rows],
                "ys": [r[3].tolist() for r in rows],
            }
        )
    )
    # scatter points over both continents (reuse the synthetic ids)
    from pyspark.sql import functions as F

    pts = points.select(
        "image_id",
        (F.pmod(F.xxhash64("image_id"), 9000) / 100.0 - 25.0).alias("lng"),
        (F.pmod(F.xxhash64("image_id", F.lit(1)), 10500) / 100.0 - 38.0).alias("lat"),
    )
    b = _collect_pairs(pip_join_broadcast(pts, layer, keep=["image_id"]))
    r = _collect_pairs(
        pip_join_partitioned_rings(
            pts, rings, res=6, keep=["image_id"], salt_threshold=500, n_salt=4
        )
    )
    assert b == r
    assert len(b) > 100


def test_row_invariants_through_shuffle(spark, layer, points):
    """Per-row invariant (input_hint): decoded pixels + caption survive
    the join/shuffle byte-identical."""
    out = pip_join_broadcast(
        points, layer, keep=["image_id", "bytes", "w", "h", "fmt", "caption"]
    )
    got = {r["image_id"]: r for r in out.collect()}
    assert got
    for image_id, row in list(got.items())[:25]:
        i = int(image_id[3:])
        w, h, fmt, px, ph, buf = synth_image(i)
        assert row["caption"].startswith(f"synthetic image {i} at (")
        assert bytes(row["bytes"]) == buf
        assert np.array_equal(decode_image(bytes(row["bytes"]), row["fmt"], row["w"], row["h"]), px)


def test_relation_values(spark, layer, points):
    out = pip_join_broadcast(points, layer, keep=["image_id"])
    rels = {r["relation"] for r in out.select("relation").distinct().collect()}
    assert rels <= {"interior", "boundary"}
    # a point inside polygon 2's hole must NOT match polygon 2
    pdf = pd.DataFrame({"image_id": ["probe"], "lat": [0.0], "lng": [0.0]})
    probe = spark.createDataFrame(pdf)
    pairs = _collect_pairs(pip_join_broadcast(probe, layer, keep=["image_id"]))
    assert pairs == [("probe", 5, "interior")]


def _layer_with_africa():
    import os

    from segment_rtree_spark.sources.wkt import parse_wkt_file_polygons

    africa = os.path.join(os.path.dirname(__file__), "..", "data", "wkt", "africa.wkt")
    return PolygonLayer.from_ring_rows(
        LAYER_ROWS + [(100 + pid, *rest) for pid, *rest in parse_wkt_file_polygons(africa)]
    )


def test_pickled_layer_stores_geometry_once():
    """A layer is its ring arena: pickled (what every broadcast ships)
    it holds each ring coordinate and tree node once, plus per-ring and
    per-polygon bookkeeping; polygon views store nothing on the layer;
    the unpickled layer runs the same PIP."""
    import pickle

    layer = _layer_with_africa()
    a = layer.arena
    geometry = sum(v.nbytes for v in (a.cxs, a.cys, a.txmin, a.tymin, a.txmax, a.tymax))
    size = len(pickle.dumps(layer))
    assert geometry < size < 1.05 * geometry
    assert [p.pos for p in layer.polygons] == list(range(len(layer)))
    assert layer.by_id(int(layer.ids[-1])).pos == len(layer) - 1
    assert len(pickle.dumps(layer)) == size
    rng = np.random.default_rng(3)
    px, py = rng.uniform(-20, 55, 2000), rng.uniform(-35, 50, 2000)
    for got, want in zip(pickle.loads(pickle.dumps(layer)).pip(px, py), layer.pip(px, py)):
        assert np.array_equal(got, want)


def test_auto_measures_pickled_layer(monkeypatch):
    """how='auto' sizes the pickled layer, the pack the broadcast
    kernels ship: at BROADCAST_LIMIT_BYTES equal to that size it
    broadcasts, one byte below it partitions. SpatialFrame.pip_join and
    the curation pipelines resolve 'auto' through the same rule."""
    import pickle

    from segment_rtree_spark.frame import SpatialFrame
    from segment_rtree_spark.operators import pip_join as pj

    layer = _layer_with_africa()
    size = len(pickle.dumps(layer))
    monkeypatch.setattr(pj, "pip_join_broadcast", lambda points, layer, **kw: "broadcast")
    monkeypatch.setattr(pj, "pip_join_partitioned", lambda points, layer, **kw: "partitioned")

    monkeypatch.setattr(pj, "BROADCAST_LIMIT_BYTES", size)
    assert pj.pip_join(None, layer, how="auto", res=6) == "broadcast"
    assert SpatialFrame(None).pip_join(layer).df == "broadcast"

    monkeypatch.setattr(pj, "BROADCAST_LIMIT_BYTES", size - 1)
    assert pj.pip_join(None, layer, how="auto", res=6) == "partitioned"
    assert SpatialFrame(None).pip_join(layer).df == "partitioned"


def test_auto_broadcast_drops_partitioned_options(spark, layer, points):
    """A layer that resolves to broadcast ignores the partitioned-only
    options (they used to reach pip_join_broadcast as unexpected
    keywords), through pip_join and SpatialFrame.pip_join alike."""
    from segment_rtree_spark.frame import SpatialFrame
    from segment_rtree_spark.operators.pip_join import pip_join

    want = _collect_pairs(pip_join_broadcast(points, layer, keep=["image_id"]))
    opts = dict(res=6, salt_threshold=10, n_salt=4, num_partitions=8, prefilter=True)
    got = pip_join(points, layer, how="auto", keep=["image_id"], **opts)
    assert _collect_pairs(got) == want
    sf = SpatialFrame(points).pip_join(layer, keep=["image_id"], num_partitions=8)
    assert _collect_pairs(sf.df) == want
