"""DataFrame-level validation, errors as data.

Turns the reference's ValidationError exceptions (src/errors.rs:5-47)
into DATA, so a 10^12-row ingest keeps flowing and invalid rows are
routed, not thrown:

* `validate_polygons`: a nullable error struct per polygon over ring
  rows (polygon_id, part_id, xs, ys).
* `_payload_verdicts`: the one two-tier payload validator behind
  `images.validate_images` and `audio.validate_audio`. A Catalyst CASE
  ladder rules on everything the metadata and the leading bytes
  decide; one Arrow kernel decodes the rest. Both speak the payload
  error codes below, so a mixed-modality curation job filters one
  vocabulary.
* `_payload_map`: the one per-row payload driver. That decode kernel
  and every image and audio operator's kernel (stats, resize, PSNR
  refine, frame and clip sampling, features) is a row function it
  runs in one mapInArrow UDF over only the columns the row reads.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..codec_errors import DimensionMismatchError

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
    from ..kernels.validity import validate_polygon, validate_ring
    from ..layer import PolygonLayer

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["polygon_id"].iloc[0])
        pdf = pdf.sort_values("part_id")
        rows = list(zip(pdf["polygon_id"], pdf["part_id"], pdf["xs"], pdf["ys"]))
        issue = None
        for *_, xs, ys in rows:
            issue = validate_ring(np.asarray(xs), np.asarray(ys))
            if issue is not None:
                break
        if issue is None:
            issue = validate_polygon(PolygonLayer.from_ring_rows(rows).polygons[0])
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


# Payload error codes, in check order (first failing check wins: the
# geometry validator's error precedence, reference src/errors.rs)
IMG_ERR_NULL_PAYLOAD = "NullPayload"
IMG_ERR_NULL_METADATA = "NullMetadata"
IMG_ERR_CODEC_UNAVAILABLE = "CodecUnavailable"
IMG_ERR_UNKNOWN_FORMAT = "UnknownFormat"
IMG_ERR_TRUNCATED = "TruncatedPayload"
IMG_ERR_BAD_SIGNATURE = "BadSignature"
IMG_ERR_CORRUPT_STREAM = "CorruptStream"
IMG_ERR_DIMENSION_MISMATCH = "DimensionMismatch"
IMG_ERR_PHASH_MISMATCH = "PhashMismatch"
IMG_ERR_INTERNAL = "InternalError"


def _decode_error_code(e: BaseException) -> str:
    """The error code of an exception a payload decoder raised.

    NotImplementedError is a VALID variant the codec declines (lossy
    VP8, arithmetic JPEG, planar TIFF): a codec gap, kept apart from
    corruption so a curation job can route the two differently.
    DimensionMismatchError is a header that disagrees with the table
    metadata, raised before any header-sized allocation; it is a
    ValueError, so it is tested first. Malformed bytes surface as
    ValueError (JpegError included), IndexError, struct.error or
    zlib.error. Anything else is a bug, still a row, never a failed
    task."""
    if isinstance(e, NotImplementedError):
        return IMG_ERR_CODEC_UNAVAILABLE
    if isinstance(e, DimensionMismatchError):
        return IMG_ERR_DIMENSION_MISMATCH
    if isinstance(e, (ValueError, IndexError, struct.error, zlib.error)):
        return IMG_ERR_CORRUPT_STREAM
    return IMG_ERR_INTERNAL


def _payload_verdicts(
    src: DataFrame, id_col: str, rules, declined, formats, lane_len,
    lane_decodes: bool, check,
) -> DataFrame:
    """(id_col, ok, err_code, err_detail), one verdict per row of `src`:
    id_col, bytes, fmt, then the metadata columns `check` reads.

    Tier 1 is one Catalyst CASE ladder; the first failing check wins:
    NULL payload, the caller's metadata `rules` ((condition, code,
    detail) triples), a `declined` codec, a format missing from
    `formats`, the length of the headerless lane (`lane_len` bytes),
    then each format's signature. `formats` is ordered fmt ->
    (signature-mismatch Column, detail), None for the one headerless
    lane; the whitelist, the signature checks and the kernel route all
    read it, so they cannot drift apart (a format admitted by the
    whitelist but missing from the route would vanish from the output).

    Tier 2 is one _payload_map kernel over the rows tier 1 passed that
    need a decode: every non-lane format, plus the lane when
    `lane_decodes`. `check(*row)` gets the row's columns after the id
    and returns (code, detail), (None, None) when the row is valid; an
    exception it raises becomes its code through _decode_error_code.
    A clean lane row otherwise never crosses to Python.
    """
    fmt, n = F.col("fmt"), F.length("bytes")
    lane = next(f for f, sig in formats.items() if sig is None)
    ladder = [
        (F.col("bytes").isNull(), IMG_ERR_NULL_PAYLOAD, F.lit("bytes is NULL")),
        *rules,
        (fmt.isin(*declined), IMG_ERR_CODEC_UNAVAILABLE, F.concat(F.lit("fmt="), fmt)),
        (~fmt.isin(*formats), IMG_ERR_UNKNOWN_FORMAT, F.concat(F.lit("fmt="), fmt)),
        ((fmt == lane) & (n != lane_len), IMG_ERR_TRUNCATED,
         F.format_string("%d bytes, want %d", n, lane_len)),
        *[((fmt == f) & sig[0], IMG_ERR_BAD_SIGNATURE, F.lit(sig[1]))
          for f, sig in formats.items() if sig is not None],
    ]
    pre = F  # F.when opens the CASE, Column.when extends it
    for cond, code, detail in ladder:
        pre = pre.when(cond, F.struct(F.lit(code).alias("c"), detail.alias("d")))
    src = src.withColumn("pre", pre)
    passed = F.col("pre").isNull()

    def verdicts(df, ok, code, detail):
        return df.select(
            F.col(id_col).cast("string").alias(id_col), F.lit(ok).alias("ok"),
            code.alias("err_code"), detail.alias("err_detail"),
        )

    def verdict(id_, *vals):
        try:
            code, detail = check(*vals)
        except Exception as e:  # contract: errors are DATA
            code, detail = _decode_error_code(e), str(e)[:80]
        return [(id_, code is None, code, detail)]

    verdict.__qualname__ = check.__qualname__  # the plan names the operator

    out = verdicts(
        src.filter(F.col("pre").isNotNull()), False, F.col("pre.c"), F.col("pre.d")
    )
    route = passed if lane_decodes else passed & fmt.isin(
        *[f for f in formats if f != lane]
    )
    cols = [F.col(id_col).cast("string").alias(id_col),
            *[c for c in src.columns if c not in (id_col, "pre")]]
    out = out.unionByName(_payload_map(
        src.filter(route), cols, verdict,
        f"{id_col} string, ok boolean, err_code string, err_detail string",
    ))
    if not lane_decodes:
        none = F.lit(None).cast("string")
        out = out.unionByName(
            verdicts(src.filter(passed & (fmt == lane)), True, none, none)
        )
    return out


def _payload_map(src: DataFrame, cols, row, schema: str) -> DataFrame:
    """The one per-row payload driver: `row(*values)` over every row of
    `src.select(*cols)`, its output tuples under the DDL `schema`.

    One mapInArrow UDF, named after the operator that defines `row` (the
    plan reads `MapInArrow validate_images(...)`, not `kernel`). Per
    batch each column is read once with to_pylist(), so a nullable long
    arrives as an exact int or None (never widened to float64) and
    binary as bytes. `row` returns zero or more output tuples (frame and
    clip sampling emit many, a skipped row none); each output column is
    built once with its Arrow type from `schema`. An exception `row`
    raises fails the task: an operator that turns errors into data
    catches them itself.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    out = to_arrow_schema(StructType.fromDDL(schema))

    def kernel(batches):
        for batch in batches:
            rows = [t for vals in zip(*(c.to_pylist() for c in batch.columns))
                    for t in row(*vals)]
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in
                 zip(list(zip(*rows)) or [()] * len(out), out)],
                schema=out,
            )

    kernel.__name__ = kernel.__qualname__ = row.__qualname__.split(".")[0]
    return src.select(*cols).mapInArrow(kernel, schema)
