"""SQL-registered engine functions.

`register_all(spark)` exposes the engine's scalar kernels to Spark SQL
so ad-hoc queries can call them by name:

    SELECT srs_cell_of(lat, lng, 8), srs_hilbert(gx, gy) FROM pts

Note the performance contract: for HOT paths prefer the pure-SQL
forms (tile_ops.assign_tiles over tiles.cell_stages,
kernels.hilbert.hilbert_sql) — those stay in WholeStageCodegen with
zero Python. The registered pandas UDFs exist for interactive
convenience and for functions with no closed SQL form; they are
Arrow-vectorized (never per-row Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

__all__ = ["register_all"]


def register_all(spark: SparkSession) -> None:
    from ..imageio import hamming64
    from ..kernels.hilbert import hilbert_normalized
    from ..tiles import cell_bounds, cell_of, cell_parent

    @pandas_udf("long")
    def srs_cell_of(lat: pd.Series, lng: pd.Series, res: pd.Series) -> pd.Series:
        out = np.empty(len(lat), np.int64)
        for r in res.unique():  # res is almost always a literal
            m = (res == r).to_numpy()
            out[m] = cell_of(lat.to_numpy()[m], lng.to_numpy()[m], int(r))
        return pd.Series(out)

    @pandas_udf("long")
    def srs_cell_parent(cell: pd.Series, res: pd.Series) -> pd.Series:
        out = np.empty(len(cell), np.int64)
        for r in res.unique():
            m = (res == r).to_numpy()
            out[m] = cell_parent(cell.to_numpy()[m], int(r))
        return pd.Series(out)

    @pandas_udf("long")
    def srs_hilbert(gx: pd.Series, gy: pd.Series) -> pd.Series:
        return pd.Series(
            hilbert_normalized(gx.to_numpy(np.uint32), gy.to_numpy(np.uint32)).astype(np.int64)
        )

    @pandas_udf("int")
    def srs_hamming64(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(hamming64(a.to_numpy(), b.to_numpy()).astype(np.int32))

    @pandas_udf("double")
    def srs_cell_width(cell: pd.Series) -> pd.Series:
        lngmin, _, lngmax, _ = cell_bounds(cell.to_numpy())
        return pd.Series(lngmax - lngmin)

    spark.udf.register("srs_cell_of", srs_cell_of)
    spark.udf.register("srs_cell_parent", srs_cell_parent)
    spark.udf.register("srs_hilbert", srs_hilbert)
    spark.udf.register("srs_hamming64", srs_hamming64)
    spark.udf.register("srs_cell_width", srs_cell_width)
