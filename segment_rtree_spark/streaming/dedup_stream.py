"""Stateful streaming dedup: first-seen-wins over an unbounded stream.

The batch dedup suite (operators/dedup.py) answers "which rows are
duplicates" over a fixed table; a training-data INGEST pipeline needs
the streaming form — new documents arrive forever, and only the first
arrival of each content hash should pass through. That is a custom
stateful operator (per-key "seen" state that outlives any window), so
it runs on applyInPandasWithState: state lives in the streaming
checkpoint, survives restarts, and scales out by the hash key.

Semantics: within a micro-batch the smallest id wins (deterministic
regardless of partition order); across batches the earlier batch wins
(streaming first-seen). Duplicate counts accumulate in state and emit
with every update so a downstream sink can track dup pressure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = ["streaming_first_seen", "streaming_first_seen_images"]


def _first_seen(keyed: DataFrame, key: StructField, id_type) -> DataFrame:
    """The first-seen state machine over `keyed` rows (key, _id): one
    row per (key, micro-batch-with-arrivals) with the canonical id (the
    smallest id of the earliest batch holding the key), the running
    count and whether this batch introduced the key."""
    to_key = int if isinstance(key.dataType, LongType) else str
    to_id = int if isinstance(id_type, LongType) else str
    out_schema = StructType([
        key,
        StructField("canonical_id", id_type),
        StructField("n_seen", LongType()),
        StructField("is_new", BooleanType()),
    ])
    state_schema = StructType(
        [StructField("canonical_id", id_type), StructField("n_seen", LongType())]
    )

    def fn(k, pdfs, state: GroupState):
        import pandas as pd

        mins, batch_n = [], 0
        for pdf in pdfs:
            if len(pdf):
                mins.append(to_id(pdf["_id"].min()))
                batch_n += len(pdf)
        if batch_n == 0:
            return
        is_new = not state.exists
        canonical, n_seen = (min(mins), 0) if is_new else state.get
        n_seen += batch_n
        state.update((to_id(canonical), int(n_seen)))
        yield pd.DataFrame(
            {
                key.name: [to_key(k[0])],
                "canonical_id": [to_id(canonical)],
                "n_seen": [int(n_seen)],
                "is_new": [is_new],
            }
        )

    return keyed.groupBy(key.name).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_first_seen(
    docs: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Streaming exact dedup over a text column.

    Emits one row per (hash, micro-batch-with-arrivals): the canonical
    (first-seen) id, the running duplicate count, and whether this
    batch introduced the hash. Filter `is_new` for the pass-through
    stream; the full feed is the dup-pressure metric stream. Output:
    (text_hash string, canonical_id long, n_seen long, is_new boolean).
    """
    hashed = docs.select(
        F.md5(F.col(text)).alias("text_hash"), F.col(id_col).alias("_id")
    )
    return _first_seen(hashed, StructField("text_hash", StringType()), LongType())


def streaming_first_seen_images(
    images: DataFrame, id_col: str = "image_id", phash: str = "phash"
) -> DataFrame:
    """Streaming exact-phash image dedup: first arrival of each 64-bit
    perceptual hash wins; later byte-identical (or hash-identical)
    images count as duplicates. Output: (phash long, canonical_id
    string, n_seen long, is_new boolean).

    Same state machine as streaming_first_seen, keyed directly on the
    already-stored phash column — no decode in the stream path, so
    ingest throughput is scan-bound. NEAR-dup streaming is the two
    stage design: this operator collapses exact hashes online; the
    banded hamming pass (phash_components) runs as the periodic batch
    compaction over the survivors, exactly how large ingest pipelines
    split online/offline dedup work.
    """
    keyed = images.select(F.col(phash).alias("phash"), F.col(id_col).alias("_id"))
    return _first_seen(keyed, StructField("phash", LongType()), StringType())
