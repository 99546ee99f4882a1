"""DataFrame-level geometry validation.

Turns the reference's ValidationError exceptions (src/errors.rs:5-47)
into DATA: a nullable error struct per polygon, so a 10^12-row
ingest keeps flowing and invalid geometries are routed, not thrown. Ring rows: (polygon_id, part_id, xs, ys).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

ERROR_SCHEMA = (
    "error_code string, first_index int, second_index int, "
    "err_x double, err_y double, err_x2 double, err_y2 double"
)


def validate_polygons(rings: DataFrame) -> DataFrame:
    """Polygon-level validity over grouped ring rows.

    applyInPandas grouped by polygon_id (one polygon's rings always fit
    a batch): ring checks first, then cross-ring rules + interior
    connectivity (validity.validate_polygon). Output: one row per
    polygon with the error struct (null = valid).
    """
    from ..kernels.pip import PreparedPolygon
    from ..kernels.validity import validate_polygon, validate_ring

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["polygon_id"].iloc[0])
        pdf = pdf.sort_values("part_id")
        issue = None
        rings = []
        for xs, ys in zip(pdf["xs"], pdf["ys"]):
            issue = validate_ring(np.asarray(xs), np.asarray(ys))
            if issue is not None:
                break
            rings.append((np.asarray(xs, np.float64), np.asarray(ys, np.float64)))
        if issue is None:
            poly = PreparedPolygon.from_arrays(rings)
            issue = validate_polygon(poly)
        e = issue
        return pd.DataFrame(
            {
                "polygon_id": [pid],
                "error_code": [e.code if e else None],
                "first_index": pd.array([e.first_index if e else None], dtype="Int32"),
                "second_index": pd.array([e.second_index if e else None], dtype="Int32"),
                "err_x": [e.x if e else None],
                "err_y": [e.y if e else None],
                "err_x2": [e.x2 if e else None],
                "err_y2": [e.y2 if e else None],
            }
        )

    return rings.groupBy("polygon_id").applyInPandas(
        kernel, "polygon_id long, " + ERROR_SCHEMA
    )
