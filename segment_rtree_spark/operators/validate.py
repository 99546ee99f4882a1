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
  Its decode kernel is a row function over arrow_map.row_map, the
  per-row driver every image and audio operator's kernel runs on.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, functions as F

from ..codec_errors import DimensionMismatchError
from .arrow_map import group_map, row_map

ERROR_SCHEMA = (
    "error_code string, first_index int, second_index int, "
    "err_x double, err_y double, err_x2 double, err_y2 double"
)


def validate_polygons(rings: DataFrame) -> DataFrame:
    """Polygon-level validity over grouped ring rows.

    One arrow_map.group_map kernel per polygon_id (one polygon's rings
    always fit a group): ring checks first, then cross-ring rules +
    interior connectivity (validity.validate_polygon). Output: one row
    per polygon with the error struct (null = valid).
    """
    from ..kernels.validity import validate_polygon, validate_ring
    from ..layer import PolygonLayer

    cols = ["polygon_id", "part_id", "xs", "ys"]

    def check(tab):
        tab = tab.sort_by("part_id")
        rows = list(zip(*(tab.column(c).to_numpy(zero_copy_only=False) for c in cols)))
        e = next(filter(None, (validate_ring(xs, ys) for *_, xs, ys in rows)), None)
        if e is None:
            e = validate_polygon(PolygonLayer.from_ring_rows(rows).polygons[0])
        # an issue's absent coordinates are NaN: NULL in the output
        return [[rows[0][0]], *([v if v == v else None] for v in e or [None] * 7)]

    return group_map(rings, cols, "polygon_id", check, "polygon_id long, " + ERROR_SCHEMA)


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

    Tier 2 is one row_map kernel over the rows tier 1 passed that
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
    out = out.unionByName(row_map(
        src.filter(route), cols, verdict,
        f"{id_col} string, ok boolean, err_code string, err_detail string",
    ))
    if not lane_decodes:
        none = F.lit(None).cast("string")
        out = out.unionByName(
            verdicts(src.filter(passed & (fmt == lane)), True, none, none)
        )
    return out

