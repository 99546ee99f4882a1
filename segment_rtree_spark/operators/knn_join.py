"""kNN join: each point finds its k nearest polygons.

The reference exposes the primitive (Flatbush::query_within,
flatbush_impl.rs:154-157 — candidates within distance d); kNN is that
distance join with a per-probe top-k. Two strategies:

* broadcast ('broadcast'): the layer (index, envelopes, ring arena:
  PolygonLayer stores nothing else) is broadcast. Per Arrow batch,
  each radius round of an expanding envelope-box search gathers
  (point, polygon) candidates from the layer index, drops the ones
  that cannot rank (envelope lower bound above the point's k-th
  shell-vertex upper bound), and measures the rest with ONE pair
  relation (the sign: interior points -> 0) and ONE pair distance
  descent over the ring arena (RingArena.dist2_pairs: exact
  point-to-BOUNDARY segment distances, all rings). Top-k is a lexsort per point. Distances are
  euclidean in coordinate units.

* sql ('centroid'): distances to polygon envelope centers only — a
  pure DataFrame cross-join + Window row_number path that Catalyst
  can plan (and DuckDB can oracle exactly). Centroid distance is the
  documented approximation for this path.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..kernels.pip import INTERIOR
from ..layer import PolygonLayer
from .arrow_map import batch_map
from .pip_join import _xy

__all__ = ["knn_join_broadcast", "knn_join_centroid", "haversine_col", "EARTH_RADIUS_KM"]

EARTH_RADIUS_KM = 6371.0088  # IUGG mean earth radius


def haversine_col(lat1, lng1, lat2, lng2, r: float = EARTH_RADIUS_KM):
    """Great-circle distance (km) as a pure Catalyst column — the
    geotag-correct metric for kNN over lat/lng (euclidean degrees
    distort with latitude). 2r*asin(sqrt(hav)); the sqrt argument is
    clamped to 1 against fp drift near antipodes."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp = F.radians(lat2) - F.radians(lat1)
    dl = F.radians(lng2) - F.radians(lng1)
    hav = (
        F.sin(dp / 2) * F.sin(dp / 2)
        + F.cos(p1) * F.cos(p2) * F.sin(dl / 2) * F.sin(dl / 2)
    )
    return F.lit(2.0 * r) * F.asin(F.sqrt(F.least(F.lit(1.0), hav)))


def _rank_in_group(g):
    """0-based position of each element within its run of equal values
    of the sorted group key g."""
    idx = np.arange(len(g))
    start = np.r_[True, g[1:] != g[:-1]][: len(g)]
    return idx - np.maximum.accumulate(np.where(start, idx, -1))


def boundary_distance(px, py, polygon):
    """Exact distance from each point to the boundary (all rings) of a
    polygon of a layer (a PolygonLayer polygon view): the layer's pair
    distance descent (PolygonLayer._distances) on its own arena, the
    minimum of the dense points x segments fold."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    q = np.arange(len(px), dtype=np.int64)
    return polygon.layer._distances(px, py, q, np.full(len(px), polygon.pos, np.int64))


def knn_join_broadcast(
    points: DataFrame,
    layer: PolygonLayer,
    k: int = 3,
    x: str = "lng",
    y: str = "lat",
    keep: Sequence[str] | None = None,
    signed: bool = True,
) -> DataFrame:
    """Exact-boundary kNN via broadcast layer. `signed`: interior
    points get distance 0 to the containing polygon."""
    keep = list(keep) if keep is not None else list(points.columns)
    by_name = {f.name: f.dataType.simpleString() for f in points.schema.fields}
    schema = ", ".join(
        [f"{c} {by_name[c]}" for c in keep] + ["polygon_id long", "dist double", "rank int"]
    )
    spark = points.sparkSession
    blayer = spark.sparkContext.broadcast(layer)
    kk = int(k)

    def kernel(batch):
        lyr = blayer.value
        a = lyr.arena
        m = len(lyr)
        if m == 0:
            return None
        kc = min(kk, m)
        # initial search radius sized so ~kc envelopes land in the
        # box if polygons were uniform over the layer envelope
        w = float(np.nanmax(lyr.xmax) - np.nanmin(lyr.xmin))
        h = float(np.nanmax(lyr.ymax) - np.nanmin(lyr.ymin))
        r0 = max((w + h) / (2.0 * max(1.0, np.sqrt(m / max(1, kc)))), 1e-9)

        # 8 vertices evenly spaced along each shell: can_rank's
        # upper-bound probes, shape (8, m)
        nseg = a.coord_off[lyr.shell_ring + 1] - a.coord_off[lyr.shell_ring] - 1
        probe = a.coord_off[lyr.shell_ring] + np.arange(8)[:, None] * nseg // 8
        vx, vy = a.cxs[probe], a.cys[probe]

        def can_rank(px, py, apt, apos):
            """Candidate pairs that can rank among their point's kc
            nearest; the rest need no exact pass.

            Per pair, the clamped distance to the polygon envelope is a
            LOWER bound of its (signed) distance d, and the distance to
            any shell vertex an UPPER bound (ub: the nearest of the
            shell's 8 probe vertices). Let tau be a point's kc-th
            smallest ub: kc of its pairs have d <= tau, so a pair with
            lower bound > tau is outranked by kc pairs, strictly, and
            can neither rank nor tie. The comparison carries a relative
            slack of 1e-9 of the magnitudes involved (tau, |x|, |y|):
            the exact kernel's rounding may put a pair's computed d a
            few ulps of those magnitudes off its bounds. tau only falls
            as the search box grows (the candidate set grows), so a
            pair dropped here stays dropped in later rounds.
            """
            ppx, ppy = px[apt], py[apt]
            dx = np.maximum(0.0, np.maximum(lyr.xmin[apos] - ppx, ppx - lyr.xmax[apos]))
            dy = np.maximum(0.0, np.maximum(lyr.ymin[apos] - ppy, ppy - lyr.ymax[apos]))
            ub2 = np.full(len(apt), np.inf)
            for j in range(len(vx)):
                np.minimum(ub2, (vx[j][apos] - ppx) ** 2 + (vy[j][apos] - ppy) ** 2, out=ub2)
            o = np.lexsort((ub2, apt))
            kth = o[_rank_in_group(apt[o]) == kc - 1]
            tau = np.full(len(px), np.inf)
            tau[apt[kth]] = np.sqrt(ub2[kth])
            t = tau[apt]
            return np.sqrt(dx * dx + dy * dy) <= t + 1e-9 * (t + np.abs(ppx) + np.abs(ppy))

        def exact_dists(px, py, apt, apos):
            """Exact (signed) boundary distance of candidate pairs: one
            pair relation for the sign, one distance descent."""
            d = np.zeros(len(apt))
            out = lyr._relations(px, py, apt, apos) != INTERIOR if signed else slice(None)
            d[out] = lyr._distances(px, py, apt[out], apos[out])
            return d

        n = batch.num_rows
        px, py = _xy(batch, x, y)

        # Expanding-radius candidate search on the layer envelope
        # index (the reference query_within pattern,
        # flatbush_impl.rs:154-157): a polygon whose envelope
        # misses the radius-box has boundary distance > r, so a
        # point with kc exact hits <= r is FINALIZED — its true
        # top-k cannot include an unseen polygon. Cost scales with
        # candidates-in-radius, not layer size.
        out_pt, out_id, out_d = [], [], []
        active = np.arange(n, dtype=np.int64)
        radius = np.full(n, r0)
        # cross-round memo of computed (point, polygon) distances
        # (+inf for pairs can_rank dropped): the radius box only
        # grows, so a still-active point's candidate set each round
        # is a SUPERSET of its last round's — without the memo every
        # non-final round re-runs exact_dists for pairs it already
        # measured. Keyed by point*m+polygon; per-pair distances are
        # elementwise in the kernel, so a memoized value is
        # bit-identical to a recompute.
        seen_keys = np.empty(0, np.int64)
        seen_d = np.empty(0)
        for _ in range(64):
            if len(active) == 0:
                break
            r = radius[active]
            q, pos = lyr.index.query_rect(
                px[active] - r, py[active] - r, px[active] + r, py[active] + r
            )
            apt = active[q]
            apos = lyr.order[pos]
            key = apt * np.int64(m) + apos
            d = np.full(len(key), np.inf)
            if len(seen_keys):
                loc = np.minimum(np.searchsorted(seen_keys, key), len(seen_keys) - 1)
                known = seen_keys[loc] == key
                d[known] = seen_d[loc[known]]
            else:
                known = np.zeros(len(key), bool)
            if not known.all():
                need = ~known & can_rank(px, py, apt, apos)
                d[need] = exact_dists(px, py, apt[need], apos[need])

            # candidate count per active point (every candidate, the
            # dropped ones too); points whose box already sees every
            # polygon finalize unconditionally
            cand = np.bincount(apt, minlength=n)
            hits = np.bincount(apt, weights=d <= radius[apt], minlength=n)
            fin = np.zeros(n, bool)
            fin[active] = (hits[active] >= kc) | (cand[active] >= m)

            sel = fin[apt]
            if sel.any():
                fpt, fpos, fd = apt[sel], apos[sel], d[sel]
                fids = lyr.ids[fpos]
                o = np.lexsort((fids, fd, fpt))
                # rank within point, keep first kc
                o = o[_rank_in_group(fpt[o]) < kc]
                out_pt.append(fpt[o])
                out_id.append(fids[o])
                out_d.append(fd[o])

            # memo only pairs whose point stays active; this
            # round's pair set already supersets the old memo's
            # active entries, so replacing (not merging) is exact
            o = np.argsort(key[~sel])
            seen_keys, seen_d = key[~sel][o], d[~sel][o]

            radius[active] *= 2.0
            active = active[~fin[active]]

        rpt = np.concatenate(out_pt) if out_pt else np.empty(0, np.int64)
        rid = np.concatenate(out_id) if out_id else np.empty(0, np.int64)
        rd = np.concatenate(out_d) if out_d else np.empty(0)
        o = np.lexsort((rid, rd, rpt))
        rpt, rid, rd = rpt[o], rid[o], rd[o]

        return [*batch.select(keep).take(rpt).columns, rid, rd,
                (_rank_in_group(rpt) + 1).astype(np.int32)]

    return batch_map(points, dict.fromkeys([*keep, x, y]), kernel, schema)


def knn_join_centroid(
    points: DataFrame,
    sites: DataFrame,
    k: int = 3,
    x: str = "lng",
    y: str = "lat",
    site_id: str = "polygon_id",
    site_x: str = "cx",
    site_y: str = "cy",
    point_id: str = "point_id",
    metric: str = "euclid",
) -> DataFrame:
    """Pure-DataFrame kNN to site points (polygon envelope centers):
    broadcast cross join + window top-k. SQL-oracle-able exactly.

    metric='euclid' (default) ranks by squared coordinate distance
    (column `dist2`); metric='haversine' ranks by great-circle km
    (column `dist_km`) — x/y are then lng/lat degrees. Both are pure
    Catalyst expressions.

    The window partitions on the narrow `point_id` key (must uniquely
    identify a point row) — never on every point column, which would
    shuffle wide payloads (captions, blobs) as the hash key."""
    if point_id not in points.columns:
        raise ValueError(f"point id column {point_id!r} not in points")
    if metric == "haversine":
        dcol, d = "dist_km", haversine_col(
            F.col(y), F.col(x), F.col(site_y), F.col(site_x)
        )
    elif metric == "euclid":
        dcol, d = "dist2", (F.col(x) - F.col(site_x)) ** 2 + (F.col(y) - F.col(site_y)) ** 2
    else:
        raise ValueError(f"unknown metric {metric!r}")
    joined = points.crossJoin(F.broadcast(sites)).withColumn(dcol, d)
    w = Window.partitionBy(point_id).orderBy(F.col(dcol).asc(), F.col(site_id).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop(site_x, site_y)
    )
