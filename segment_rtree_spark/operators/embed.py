"""Embedding similarity search: brute-force cosine top-k, LSH and IVF ANN.

* cosine_topk — the exactness baseline: broadcast the (small) query
  set, fold the dot product with F.aggregate/zip_with (sequential
  fold -> bit-exact vs the DuckDB list_reduce oracle), window top-k.
  At scale the target side stays partitioned; only queries broadcast.

* The ANN family is one bucketing step plus one refine per mode.
  - Bucketing: lsh_buckets (sign-random-projection buckets from
    deterministic splitmix64-mixed hyperplanes; bit_exact matches
    the SQL fold so the oracles reproduce buckets exactly), or an
    IVF list (kmeans_fit codebook; ivf_topk_fixed's closed-form
    centroids for the oracle). `max_bucket` drops over-cap buckets
    whole through dedup._cap_buckets, the skew guard the band joins
    share; 'auto' = 32 x target_bucket (_bucket_cap).
  - Modes: top-k (ann_topk, ivf_topk, ivf_topk_fixed), self-pairs
    above a threshold (embedding_neardup_pairs) and new-vs-corpus
    pairs (embedding_neardup_against, also on a stream).
  - Each mode refines one of two ways. refine='kernel', the
    production path, is _kernel_refine: a cogrouped Arrow kernel
    scoring each bucket with one chunked BLAS score matrix, plus the
    mode's emit rule (_topk_emit, _hits_emit). refine='expr', the
    bit-exact cross-engine reference, is _fold_scores: the bucket
    equi-join scored by sequential Catalyst folds. Top-k modes rank
    through one window (_ranked).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from .arrow_map import batch_map, cogroup_map, group_map
from .dedup import _bucket_stats, _cap_buckets

__all__ = [
    "cosine_topk",
    "lsh_buckets",
    "ann_topk",
    "ann_bucket_stats",
    "auto_n_bits",
    "embedding_neardup_pairs",
    "hyperplane",
    "ivf_topk",
    "kmeans_fit",
    "ivf_topk_fixed",
    "ivf_centroid_fixed",
    "DIM",
    "N_BITS",
]

DIM = 64
N_BITS = 8
# average vectors per LSH bucket the auto-scaler aims for: the refine
# join is O(target^2 / 2) comparisons per bucket, so 1024 keeps every
# bucket's self-join ~500k cosine evals — one comfortable Spark task
TARGET_BUCKET = 1024
# score-matrix memory bound for the cogrouped refine kernels (float64
# elements; 1<<25 = 256 MB). Module-level so tests can shrink it to
# force the multi-chunk path.
REFINE_CHUNK_ELEMS = 1 << 25


def auto_n_bits(n_rows: int, target_bucket: int = TARGET_BUCKET,
                lo: int = 1, hi: int = 24) -> int:
    """Corpus-scaled hyperplane count: 2^n_bits buckets sized so the
    AVERAGE bucket holds ~target_bucket vectors, making the per-bucket
    refine join O(target^2) instead of O((N/2^fixed_bits)^2) — the
    fix for fixed-bit LSH re-going quadratic at 10^9 vectors.
    (hi=24 caps the bucket-id space; beyond that raise target_bucket.)
    """
    import math

    if n_rows <= target_bucket:
        return lo
    return max(lo, min(hi, int(math.ceil(math.log2(n_rows / target_bucket)))))


def hyperplane(i: int, dim: int = DIM) -> np.ndarray:
    """Deterministic pseudo-random hyperplane i (exact decimal values,
    reproducible as SQL literals — the oracles regenerate their
    literal arrays from this function, so it IS the cross-engine
    spec).

    splitmix64-style avalanche per (i, j): the earlier affine form
    (i*C1 + j*C2) % 1000 made every plane the SAME progression at a
    shifted phase — pairwise sign correlations near 1, so 2^n_bits
    nominal buckets collapsed to a handful of occupied ones (measured
    36 of 128 with one 28k-row bucket on 100k uniform vectors) and
    the per-bucket refine re-went quadratic. Mixed planes spread the
    same corpus across all 128 within ~2x of uniform."""
    j = np.arange(dim, dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound is the mix
        x = np.uint64(i % (1 << 64)) * np.uint64(0x9E3779B97F4A7C15) + j * np.uint64(
            0xBF58476D1CE4E5B9
        )
        x ^= x >> np.uint64(31)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(27)
    return (x % np.uint64(1000)).astype(np.float64) / 1000.0 - 0.5


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)"


def _dot_expr(a: str, b: str) -> str:
    return _DOT.format(a=a, b=b)


def _list_matrix(col) -> np.ndarray:
    """Arrow list<double> column -> float64 [n, dim] matrix via the
    offsets/values buffers — one reshape over the contiguous values
    buffer instead of one np.asarray per ROW (the pandas-object-array
    path costs an interpreter round trip per vector; at 10^5-10^6
    probe rows that loop dominated the kernel stages). Raises on
    ragged rows (the np.stack path errored there too) and on NULL
    vectors (callers filter them — same contract as before)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    col = col.cast(pa.list_(pa.float64()))
    if col.null_count:
        raise ValueError("NULL embedding in kernel input")
    off = col.offsets.to_numpy()
    widths = np.diff(off)
    if len(widths) == 0:
        return np.empty((0, 0), np.float64)
    if not (widths == widths[0]).all():
        raise ValueError("ragged embedding column")
    vals = col.values.to_numpy(zero_copy_only=False)
    return vals[off[0]: off[-1]].reshape(len(widths), int(widths[0]))


def _col_np(col) -> np.ndarray:
    """Arrow column -> numpy (object dtype for strings — the same
    values the pandas path produced)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return col.to_numpy(zero_copy_only=False)


def cosine_topk(
    targets: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against all targets.

    Output: (query_id, vec_id, score, rank). Ties break by target id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec).cast("array<double>").alias("qv")
    )
    t = targets.select(
        F.col(id_col), F.col(vec).cast("array<double>").alias("tv")
    )
    dot = F.expr(_dot_expr("qv", "tv"))
    nq = F.sqrt(F.expr(_dot_expr("qv", "qv")))
    nt = F.sqrt(F.expr(_dot_expr("tv", "tv")))
    joined = (
        t.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col(id_col))  # exclude self BEFORE ranking
        .withColumn("score", dot / (nq * nt))
    )
    return _ranked(joined, id_col, k).select("query_id", id_col, "score", "rank")


def lsh_buckets(
    vectors: DataFrame,
    n_bits: int = N_BITS,
    id_col: str = "vec_id",
    vec: str = "embedding",
    dim: int | None = None,
    bit_exact: bool = False,
    keep_vec: bool = False,
) -> DataFrame:
    """Sign-random-projection bucket id per vector (NumPy kernel).

    bit_exact=False (default) uses one BLAS matmul per batch — the
    PRODUCTION path (~10x per kernel call). bit_exact=True accumulates
    the dot product SEQUENTIALLY over dimensions so the result is
    bit-identical to the SQL fold oracle — the oracle registry pins it
    for cross-engine hashing; production callers should not. A sign
    can only differ between the two when the projection is within
    float-reassociation error of 0, where bucket membership is
    arbitrary anyway (LSH semantics unaffected; the exact cosine
    refine downstream is identical).

    keep_vec=True passes the embedding column through the kernel
    (cast to array<double>), so consumers that need (id, v, bucket)
    get it map-side instead of shuffle-joining the bucket table back
    to the vectors on id — at 10^9 vectors that join is a full
    embedding-column shuffle that exists only to re-attach a column
    the kernel already had in hand."""
    # dim=None (default) infers the vector dimension from the data —
    # the hyperplane family is parametrized by (index, dim), so every
    # consumer of the same column sees the same planes; the oracle
    # registry pins hyperplane literals at the table's actual dim.
    # Planes build lazily inside the kernel (first non-empty batch),
    # so inference costs no extra job.
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))
    # id dtype from the input, not hard-coded long: the curation
    # pipelines bucket by string image ids, the embeddings table by
    # bigint vec ids — the kernel passes the column through either way
    id_dtype = dict(vectors.select(id_col).dtypes)[id_col]
    schema = f"{id_col} {id_dtype}, bucket long"
    if keep_vec:
        schema += f", {vec} array<double>"

    # Arrow-native kernel: the embedding column reads as ONE contiguous
    # values buffer + offsets (_list_matrix) and, with keep_vec, passes
    # BACK as the same Arrow list array (cast to float64) — no per-row
    # np.asarray on the way in or list(map(float, row)) on the way
    # out. Bucket arithmetic is unchanged (bit_exact keeps the
    # sequential fold the SQL oracle pins).
    planes: dict = {}

    def kernel(batch):
        import pyarrow as pa

        vc = batch.column(1).cast(pa.list_(pa.float64()))
        emb = _list_matrix(vc)
        vdim = dim or emb.shape[1]
        if vdim not in planes:
            planes[vdim] = np.stack([hyperplane(i, vdim) for i in range(n_bits)])
        pl = planes[vdim]  # [bits, dim]
        n = batch.num_rows
        if bit_exact:
            bucket = np.zeros(n, dtype=np.int64)
            for b in range(n_bits):
                acc = np.zeros(n)
                for d in range(vdim):  # sequential: matches the SQL fold
                    acc = acc + emb[:, d] * pl[b, d]
                bucket |= (acc > 0.0).astype(np.int64) << b
        else:
            acc = emb @ pl.T  # [n, bits]
            bucket = ((acc > 0.0).astype(np.int64) * weights).sum(axis=1)
        return [batch.column(0), bucket, vc][: 3 if keep_vec else 2]

    return batch_map(vectors, [id_col, vec], kernel, schema)


def _bucket_cap(max_bucket: int | str | None, target_bucket: int) -> int | None:
    """Resolve max_bucket='auto' to 32 x target_bucket: with auto
    n_bits the MEAN bucket holds ~target_bucket vectors, so a bucket
    32x over the mean is a degenerate pile of near-identical vectors
    whose O(n^2) refine belongs to exact dedup."""
    return 32 * target_bucket if max_bucket == "auto" else max_bucket


def _check_refine(refine: str) -> None:
    if refine not in ("kernel", "expr"):
        raise ValueError(f"refine must be 'expr' or 'kernel', got {refine!r}")


def ann_bucket_stats(
    vectors: DataFrame,
    n_bits: int = N_BITS,
    id_col: str = "vec_id",
    vec: str = "embedding",
    max_bucket: int | str | None = None,
    target_bucket: int = TARGET_BUCKET,
    bit_exact: bool = False,
) -> DataFrame:
    """Per-bucket size monitor for the ANN joins: (bucket, bucket_n,
    truncated) — the embedding-side twin of dedup.lsh_bucket_stats.
    Run alongside a capped ann_topk/embedding_neardup_pairs to see
    exactly which mega-buckets were dropped. Accepts the same
    max_bucket='auto' (= 32 * target_bucket) and bit_exact the
    operators default to, so the monitor and the guard always agree
    on both the cap and the bucket arithmetic."""
    return _bucket_stats(
        lsh_buckets(vectors, n_bits, id_col, vec, bit_exact=bit_exact),
        _bucket_cap(max_bucket, target_bucket), ("bucket",),
    )


def _bucketed_vectors(
    vectors: DataFrame, n_bits: int, id_col: str, vec: str,
    max_bucket: int | None, bit_exact: bool = False,
    drop_observation=None,
) -> DataFrame:
    """(id, v, bucket) with over-cap buckets dropped WHOLE before any
    join over them (dedup._cap_buckets keyed on `bucket`): a
    degenerate bucket of near-identical vectors would otherwise
    self-join O(n^2) in one task. Its members are exact/near-exact
    dups better handled by exact dedup; the dropped buckets stay
    visible via ann_bucket_stats with the same cap, and in-band via
    `drop_observation` (filled eagerly at build).

    The bucket kernel passes the embedding through (keep_vec), so
    bucketing is one map-side pass — no shuffle join back to the
    vector table just to re-attach the embedding column. A batch
    bucketed frame is checkpointed: both join sides (and the cap's
    sizing aggregate) consume it, and Python-kernel stages are not
    exchange-reusable, so the kernel would otherwise run once per
    consumer — materializing the bucketed vectors IS the classic
    'build the ANN index once' step. A STREAMING frame can neither
    checkpoint nor size itself: it returns uncapped."""
    v = lsh_buckets(
        vectors, n_bits, id_col, vec, bit_exact=bit_exact, keep_vec=True
    ).select(F.col(id_col), F.col(vec).alias("v"), "bucket")
    if v.isStreaming:
        return v
    return _cap_buckets(
        v.localCheckpoint(eager=False), max_bucket, drop_observation,
        ("bucket",),
    )


def _probe_flips(n_bits: int, n_probe: int) -> list[int]:
    """Multi-probe XOR masks: every bucket id within Hamming distance
    n_probe of the vector's own bucket. Radius 1 adds n_bits probes,
    radius 2 adds n_bits*(n_bits-1)/2 more — the standard multi-probe
    LSH trade that lets n_bits scale with the corpus (smaller buckets)
    without collapsing recall for pairs that disagree on 1-2 signs."""
    if n_probe not in (0, 1, 2):
        raise ValueError(f"n_probe must be 0, 1 or 2, got {n_probe}")
    flips = [0]
    if n_probe >= 1:
        flips += [1 << i for i in range(n_bits)]
    if n_probe >= 2:
        flips += [
            (1 << i) | (1 << j) for i in range(n_bits) for j in range(i + 1, n_bits)
        ]
    return flips


def _probed(v: DataFrame, n_bits: int, n_probe: int) -> DataFrame:
    """Explode the probe side into its probe buckets. Each candidate
    pair meets EXACTLY once (the single flip f = bucket_a XOR bucket_b
    satisfies the join), so downstream ranking needs no dedup."""
    flips = _probe_flips(n_bits, n_probe)
    if len(flips) == 1:
        return v
    return v.withColumn(
        "bucket",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(f)) for f in flips])
        ),
    )


def _probed_self(v: DataFrame, n_bits: int, n_probe: int) -> DataFrame:
    """Probe explosion for the SELF-pairs join. For radius 1 the flip
    set halves by symmetry: a pair whose buckets differ in bit i has
    that bit SET on exactly one side, so only rows with bit i set
    probe across flip e_i (the clear side is reached, never probes)
    and every cross-bucket candidate still meets exactly once — the
    exploded frame shrinks from (n_bits+1)*N rows to (n_bits/2+1)*N
    expected, which is the probe side's exchange, Arrow transfer and
    kernel-conversion volume. Requires the downstream emit to
    canonicalize pair order (min id first): which side is Q is now
    decided by bucket bits, not id order. Radius 2 keeps the full
    two-sided explosion (a 2-bit-apart pair can split its set bits
    across the sides, so one-siding would miss it); radius 0 has
    nothing to halve.

    The output carries an `_own` flag (probe bucket == home bucket).
    Downstream MUST dedupe own-bucket meetings with the classic
    id-order filter (they occur in both directions) and emit probe
    meetings unconditionally (each occurs exactly once) — relying on
    distinct() instead is WRONG for the BLAS kernel path: the two
    directions of an own-bucket meeting score the same pair in
    different chunk layouts, and a one-ulp reassociation difference
    defeats the distinct (caught by a real duplicate at threshold
    0.3749... vs ...46 in test_ann_refine_kernel_matches_expr).
    Two-sided fallbacks mark every row `_own` so the id-order filter
    reduces to the classic dedup."""
    if n_probe != 1:
        return _probed(v, n_bits, n_probe).withColumn("_own", F.lit(True))
    flips = F.array(F.lit(0), *[F.lit(1 << i) for i in range(n_bits)])
    own = F.filter(
        flips,
        lambda f: (f == F.lit(0)) | (F.col("bucket").bitwiseAND(f) != F.lit(0)),
    )
    probe = F.explode(
        F.transform(
            own,
            lambda f: F.struct(
                F.col("bucket").bitwiseXOR(f).alias("b"),
                (f == F.lit(0)).alias("o"),
            ),
        )
    )
    return (
        v.withColumn("_p", probe)
        .withColumn("bucket", F.col("_p.b"))
        .withColumn("_own", F.col("_p.o"))
        .drop("_p")
    )


def _kernel_refine(op: str, q: DataFrame, t: DataFrame, key: str, id_col: str,
                   names: tuple[str, str], emit,
                   by_id: bool = False) -> DataFrame:
    """The production refine of every embedding mode: cogroup the probe
    side `q` with the target side `t` on `key` (LSH bucket or IVF list)
    and score each group with BLAS in one Arrow kernel (its plan node
    named after the operator `op`). The kernel reshapes the vector
    columns from their contiguous list buffers (_list_matrix, never
    one np.asarray per row), then scores
    S = Q @ T.T / norms in query-row chunks of at most
    REFINE_CHUNK_ELEMS float64s (256 MB), so a degenerate mega-bucket
    at the cap boundary never allocates |Q| x |T| in one go.

    `emit(tids, chunks)` is the mode's emit rule: `chunks` yields
    (query ids, `_own` flags or None, S) per chunk, and emit yields
    (names[0], names[1], score) array triples. `by_id` pre-sorts the
    targets by id (stable), so position order is id order — the top-k
    tie rule. Only top-k sorts: a different matrix layout can move a
    score by one ulp (see _probed_self), so each mode keeps the layout
    its outputs are pinned with."""
    # fresh exprIds on the target side: a cogroup of two frames
    # sharing a lineage is an ambiguous self-join to the analyzer
    t = t.select(*[F.col(c).alias(c) for c in t.columns])
    id_dtype = dict(t.dtypes)[id_col]

    def kernel(qtab, ttab):
        parts = []
        if qtab.num_rows and ttab.num_rows:
            tids = _col_np(ttab.column(id_col))
            T = _list_matrix(ttab.column("v"))
            if by_id:
                order = np.argsort(tids, kind="stable")
                tids, T = tids[order], T[order]
            Q = _list_matrix(qtab.column("v"))
            qids = _col_np(qtab.column(id_col))
            qown = (_col_np(qtab.column("_own")).astype(bool)
                    if "_own" in qtab.column_names else None)
            qn = np.linalg.norm(Q, axis=1)
            tn = np.linalg.norm(T, axis=1)[None, :]
            step = max(1, REFINE_CHUNK_ELEMS // len(tids))
            parts = list(emit(tids, (
                (qids[s:s + step], None if qown is None else qown[s:s + step],
                 (Q[s:s + step] @ T.T) / (qn[s:s + step, None] * tn))
                for s in range(0, len(qids), step)
            )))
        return [np.concatenate(c) for c in zip(*parts)] if parts else [[]] * 3

    kernel.__qualname__ = op
    schema = f"{names[0]} {id_dtype}, {names[1]} {id_dtype}, score double"
    return cogroup_map(q, t, [key], kernel, schema)


def _topk_emit(k: int):
    """Top-k emit rule (targets sorted by id): each query row's top-k
    over the group's targets, plus a column pass for the HALVED
    self-probe explosion (_probed_self, n_probe=1). There a bucket's
    visitors cover only the flips where the bucket's bit is 0, so the
    column pass emits each TARGET's top-k over the group's VISITOR
    rows (`_own` false), recovering the candidates whose one-sided
    probe landed here instead of being probed from the target's side.
    Every ordered (query, candidate) pair within bucket-Hamming <= 1
    is emitted exactly once across the two passes (own-bucket pairs
    emit from each member's own row), and both prune with the SAME
    total order as the rank window (-score, then id), so the merged
    top-k equals the two-sided explosion's. With every row `_own`
    (two-sided probes, IVF lists) the column pass never runs. Emits k
    rows per (query, group) instead of the group size, before the
    shuffle."""

    def emit(tids, chunks):
        kk = min(k, len(tids))
        # column-wise candidates accumulate across row chunks and
        # reduce at the end (k per column per chunk, tiny)
        col_v, col_s = [], []
        for q, own, S in chunks:
            S[q[:, None] == tids[None, :]] = -np.inf  # exclude self
            # O(nt) argpartition to the kk winners, then order just
            # those by (-score, id): re-sorting the partition indices
            # ascending makes positions == ascending target id, so the
            # stable score argsort breaks ties by lowest id like the
            # rank window. (A tie ACROSS the partition boundary can
            # admit either member — the near-tie freedom the
            # refine='kernel' contract already grants.)
            part = np.sort(np.argpartition(-S, kk - 1, axis=1)[:, :kk], axis=1)
            ps = np.take_along_axis(S, part, axis=1)
            idx = np.take_along_axis(
                part, np.argsort(-ps, axis=1, kind="stable"), axis=1
            )
            scores = np.take_along_axis(S, idx, axis=1).ravel()
            keep = np.isfinite(scores)  # drop self rows that slipped in
            yield np.repeat(q, kk)[keep], tids[idx].ravel()[keep], scores[keep]
            vis = ~own
            if vis.any():
                Sv = S[vis]
                kv = min(k, len(Sv))
                cpart = np.argpartition(-Sv, kv - 1, axis=0)[:kv]
                col_v.append(q[vis][cpart])        # [kv, n_t]
                col_s.append(np.take_along_axis(Sv, cpart, axis=0))
        if col_v:
            CV = np.concatenate(col_v, axis=0)   # [sum kv, n_t]
            CS = np.concatenate(col_s, axis=0)
            kc = min(k, CV.shape[0])
            # per column: order candidates by (-score, id) — lexsort
            # keys are (id, -score) with the LAST key primary
            order = np.lexsort((CV, -CS), axis=0)[:kc]
            cs = np.take_along_axis(CS, order, axis=0).ravel(order="F")
            cv = np.take_along_axis(CV, order, axis=0).ravel(order="F")
            cq = np.repeat(tids[None, :], kc, axis=0).ravel(order="F")
            keep = np.isfinite(cs)
            yield cq[keep], cv[keep], cs[keep]

    return emit


def _hits_emit(threshold: float, self_pairs: bool):
    """Threshold emit rule: every cell with cosine >= threshold.
    Against mode emits each hit directed (new, corpus). Self-pairs
    mode dedupes own-bucket meetings, which occur in BOTH directions,
    by id order (exactly one survives — relying on distinct() instead
    fails when the two directions' BLAS chunk layouts differ by an
    ulp); a probe meeting occurs exactly once with bucket-bit-decided
    sides, so it is kept and its pair order CANONICALIZED (min id
    first)."""

    def emit(tids, chunks):
        for q, own, S in chunks:
            # score mask FIRST, ids only at surviving cells: string
            # ids make a broadcast id matrix object-dtype (b^2
            # interpreted compares per bucket — measured +7 s over a
            # 146k corpus); above-threshold hits number ~0 per bucket
            qi, ti = np.nonzero(S >= threshold)
            qs, ts = q[qi], tids[ti]
            if self_pairs:
                keep = np.where(own[qi], qs < ts, qs != ts)
                qi, ti, qs, ts = qi[keep], ti[keep], qs[keep], ts[keep]
                lo = qs < ts
                qs, ts = np.where(lo, qs, ts), np.where(lo, ts, qs)
            yield qs, ts, S[qi, ti]

    return emit


def _fold_scores(a: DataFrame, b: DataFrame, key: str, pair,
                 keep=None) -> DataFrame:
    """The expr refine of every embedding mode: equi-join `a` (alias
    `a`) with `b` (alias `b`) on `key`, keep the `keep` rows, and
    project the two `pair` columns plus the sequential-fold cosine
    `score` — bit-identical to the DuckDB list_reduce oracles."""
    dot = F.expr(_dot_expr("a.v", "b.v"))
    na = F.sqrt(F.expr(_dot_expr("a.v", "a.v")))
    nb = F.sqrt(F.expr(_dot_expr("b.v", "b.v")))
    j = a.alias("a").join(b.alias("b"), key)
    if keep is not None:
        j = j.filter(keep)
    return j.select(*pair, (dot / (na * nb)).alias("score"))


def _ranked(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """The top-k rank window over (query_id, id_col, score): ties break
    by lowest id."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _fold_topk(a: DataFrame, b: DataFrame, key: str, id_col: str,
               k: int) -> DataFrame:
    """Expr top-k: fold scores of every a x b meeting but self, ranked."""
    qa, tb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return _ranked(
        _fold_scores(a, b, key, (qa.alias("query_id"), tb.alias(id_col)), qa != tb),
        id_col, k,
    )


def ann_topk(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_bits: int | None = None,
    target_bucket: int = TARGET_BUCKET,
    n_probe: int = 1,
    max_bucket: int | str | None = "auto",
    refine: str = "kernel",
    bit_exact: bool = False,
    drop_observation=None,
) -> DataFrame:
    """Approximate all-pairs top-k: bucket equi-join then exact cosine
    refine inside each bucket. Output (query_id, vec_id, score, rank).

    `drop_observation` (a pyspark Observation) makes the default-armed
    max_bucket guard observable from the operator itself: it is filled
    eagerly at operator build (one tiny job that doubles as the index
    materialization), so observation.get carries dropped_buckets /
    dropped_rows as soon as the call returns — no separate
    ann_bucket_stats run needed to learn that the cap fired.

    n_bits=None (default) scales the bucket count with the corpus
    (auto_n_bits: ~log2(N / target_bucket), one count() job) so the
    per-bucket refine stays O(target_bucket^2) at any N; multi-probe
    (n_probe bit flips on the query side) keeps recall as n_bits
    grows; max_bucket drops degenerate mega-buckets whole (visible via
    ann_bucket_stats). Default max_bucket='auto' = 32 * target_bucket
    (_bucket_cap): the guard is armed by default (opt out with
    max_bucket=None), and only degenerate piles of near-identical
    vectors are affected.

    refine='kernel' (default) is the PRODUCTION path: a cogrouped
    per-bucket Arrow kernel scores each bucket with one BLAS matmul
    and emits only each query's bucket-local top-k (candidate stream
    N x probes x k instead of N x probes x bucket_n), then a window
    merges the per-bucket winners. At radius 1 the probe explosion is
    HALVED (_probed_self: only rows with the flip bit SET probe across
    it, and the kernel's column pass emits the reverse direction), so
    the probe side of the cogroup exchange shrinks ~45% with an
    identical merged result. refine='expr' scores candidates with
    sequential Catalyst folds — bit-identical to the DuckDB oracle,
    the cross-engine reference the oracle registry pins (~75x slower
    at 100k vectors; never the production choice). Same candidate set
    and tie rules either way; kernel scores may differ from the fold
    path in final ulps (matmul reassociation), so near-exact score
    ties can rank differently — the standard ANN trade, not a
    correctness surface. `bit_exact` (default False) selects the
    bucket-assignment arithmetic the same way — the oracle registry
    pins True alongside refine='expr'."""
    _check_refine(refine)
    if n_bits is None:
        n_bits = auto_n_bits(vectors.count(), target_bucket)
    v = _bucketed_vectors(
        vectors, n_bits, id_col, vec, _bucket_cap(max_bucket, target_bucket),
        bit_exact, drop_observation,
    )
    if refine == "expr":
        return _fold_topk(_probed(v, n_bits, n_probe), v, "bucket", id_col, k)
    scored = _kernel_refine(
        "ann_topk", _probed_self(v, n_bits, n_probe), v, "bucket", id_col,
        ("query_id", id_col), _topk_emit(k), by_id=True,
    )
    return _ranked(scored, id_col, k)


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_bits: int | None = None,
    target_bucket: int = TARGET_BUCKET,
    n_probe: int = 1,
    max_bucket: int | str | None = "auto",
    refine: str = "kernel",
    bit_exact: bool = False,
    drop_observation=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, score) with
    cosine >= threshold, candidates from a sign-LSH bucket equi-join
    (never all-pairs — near-identical vectors share all hyperplane
    signs; the exact cosine filter keeps precision exact).

    Same corpus-scaling controls as ann_topk: n_bits auto-scales with
    N (default), n_probe bit-flip probes protect recall at high bit
    counts, max_bucket is the degenerate-corpus skew guard — default
    'auto' = 32 * target_bucket (see ann_topk: armed by default, only
    degenerate near-identical piles are dropped; opt out with None).

    refine='kernel' (default, the production path) scores each bucket
    with one BLAS matmul and emits only above-threshold pairs map-side
    (see ann_topk) — same pair set; scores differ from the fold path
    only in final ulps, so a pair whose cosine sits EXACTLY on the
    threshold could flip. refine='expr' + bit_exact=True is the
    cross-engine reference the oracle registry pins. Both paths dedupe
    own-bucket meetings by id order and canonicalize probe meetings
    (see _probed_self); the fold score is side-symmetric at the bit
    level even under bit_exact (a_i*b_i == b_i*a_i exactly in IEEE,
    same summation order)."""
    _check_refine(refine)
    if n_bits is None:
        n_bits = auto_n_bits(vectors.count(), target_bucket)
    v = _bucketed_vectors(
        vectors, n_bits, id_col, vec, _bucket_cap(max_bucket, target_bucket),
        bit_exact, drop_observation,
    )
    a = _probed_self(v, n_bits, n_probe)
    if refine == "kernel":
        return _kernel_refine(
            "embedding_neardup_pairs", a, v, "bucket", id_col, ("id_a", "id_b"),
            _hits_emit(threshold, self_pairs=True),
        ).distinct()
    qa, tb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return (
        _fold_scores(
            a, v, "bucket",
            (F.least(qa, tb).alias("id_a"), F.greatest(qa, tb).alias("id_b")),
            F.when(F.col("a._own"), qa < tb).otherwise(qa != tb),
        )
        .filter(F.col("score") >= threshold)
        .distinct()
    )


def embedding_neardup_against(
    new_vecs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_bits: int | None = None,
    target_bucket: int = TARGET_BUCKET,
    n_probe: int = 1,
    max_bucket: int | str | None = "auto",
    refine: str = "kernel",
    bit_exact: bool = False,
    drop_observation=None,
) -> DataFrame:
    """Incremental embedding dedup: (new_id, corpus_id, score) pairs
    with cosine >= threshold between a NEW batch and an EXISTING
    corpus — the embedding member of the `*_against` family
    (lsh_pairs_against for text, phash_neardup_against for images).
    The daily-ingest shape: the corpus is bucketed once per query, each
    arriving batch probes it through the shared sign-LSH bucket space;
    cost scales with |batch| x collision rate, not |corpus|^2.

    Corpus-scaling controls mirror embedding_neardup_pairs: n_bits
    auto-scales with the CORPUS count (the static side — also the only
    side a streaming caller can count), multi-probe protects recall,
    max_bucket='auto' (32 x target_bucket) drops degenerate piles by
    default on both sides of a batch call (opt out with None; corpus
    drops visible via `drop_observation`, filled eagerly at build).

    `new_vecs` may be a STREAMING DataFrame: the plan then stays a
    stream-static bucket equi-join with expr-fold refine (a cogrouped
    kernel cannot run stream-static) and only the corpus side caps —
    the streaming ingest filter `streaming_embed_matches` wraps
    exactly this.

    A pair is emitted only for ids on opposite sides; a vector present
    in both frames matches itself (identical signs) — filter ids
    upstream if re-ingestion is possible."""
    _check_refine(refine)
    streaming = new_vecs.isStreaming
    if n_bits is None:
        n_bits = auto_n_bits(corpus.count(), target_bucket)
    cap = _bucket_cap(max_bucket, target_bucket)
    b = _bucketed_vectors(
        corpus, n_bits, id_col, vec, cap, bit_exact, drop_observation
    )
    a = _probed(
        _bucketed_vectors(new_vecs, n_bits, id_col, vec, cap, bit_exact),
        n_bits, n_probe,
    )
    if refine == "kernel" and not streaming:
        return _kernel_refine(
            "embedding_neardup_against", a, b, "bucket", id_col, ("new_id", "corpus_id"),
            _hits_emit(threshold, self_pairs=False),
        ).distinct()
    out = _fold_scores(
        a, b, "bucket",
        (F.col(f"a.{id_col}").alias("new_id"),
         F.col(f"b.{id_col}").alias("corpus_id")),
    ).filter(F.col("score") >= threshold)
    # multi-probe can meet a pair once per probe on the batch path;
    # a stream cannot host the distinct (stateful agg in append mode)
    # — consumers keying on new_id are unaffected (same contract as
    # the capped band joins)
    return out if streaming else out.distinct()


def ivf_centroid_fixed(j: int, dim: int = DIM) -> np.ndarray:
    """Deterministic closed-form centroid j (exact decimal values,
    reproducible as SQL literals — the coarse-quantizer analog of
    hyperplane())."""
    d = np.arange(dim, dtype=np.int64)
    return ((j * 2654435761 + d * 40503) % 2000) / 1000.0 - 1.0


def ivf_topk_fixed(
    vectors: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF ANN with a FIXED closed-form coarse quantizer.

    List assignment is a pure Catalyst expression: sequential-fold
    squared-L2 to each literal centroid, collected into an array,
    argmin via array_position(array_min) (first match = lowest list on
    ties) — no UDF anywhere, and a DuckDB oracle reproduces the whole
    ANN path bit-for-bit. ivf_topk (k-means) learns better centroids;
    this is its oracle-visible twin with the identical join shape
    (equi-join on list, exact cosine refine, window top-k)."""
    v0 = vectors.select(
        F.col(id_col), F.col(vec).cast("array<double>").alias("v")
    )
    d_exprs = []
    for j in range(n_lists):
        lits = ",".join(repr(float(x)) for x in ivf_centroid_fixed(j))
        d_exprs.append(
            f"aggregate(zip_with(v, array({lits}), (x, y) -> (x - y) * (x - y)), "
            f"cast(0 as double), (acc, u) -> acc + u)"
        )
    darr = "array(" + ",".join(d_exprs) + ")"
    assign = f"cast(array_position({darr}, array_min({darr})) - 1 as bigint)"
    v = v0.withColumn("list", F.expr(assign))
    return _fold_topk(v, v, "list", id_col, k)


def _argmin_list(emb: np.ndarray, cent: np.ndarray,
                 max_elems: int = 1 << 25) -> np.ndarray:
    """Nearest-centroid assignment via the expansion
    d^2 = |e|^2 - 2 e.c + |c|^2: the |e|^2 term is constant per row and
    drops out of the argmin, so assignment is ONE BLAS matmul plus a
    broadcast add — measured 21 s -> ~0.2 s per 10k x 4096 x 64 batch
    vs the (rows, k, dim) subtract-square-sum tensor, which is pure
    memory traffic (the tensor would also be 20 GB dense). The
    (rows, k) score matrix is CHUNKED over rows to ~max_elems float64s
    (256 MB) so corpus-scaled codebooks stay memory-bounded.

    Note: the expansion reassociates the arithmetic, so a vector
    EXACTLY equidistant to two centroids may tie-break differently
    than the textbook form — standard k-means freedom, and the
    bit-stable consumers use ivf_topk_fixed's Catalyst fold instead."""
    n = emb.shape[0]
    k = cent.shape[0]
    c2 = (cent * cent).sum(axis=1)[None, :]
    ct = cent.T.copy()
    step = max(1, max_elems // max(1, k))
    out = np.empty(n, np.int64)
    for s in range(0, n, step):
        e = min(n, s + step)
        d = c2 - 2.0 * (emb[s:e] @ ct)
        out[s:e] = d.argmin(axis=1)
    return out


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> np.ndarray:
    """Fully distributed Lloyd k-means over an embedding column.

    Per iteration: the k x dim codebook broadcasts out, a batch_map
    kernel computes per-BATCH partial sums per list (at most k rows
    out per batch, each carrying one array<double> sum — a map-side
    combine; a k*dim scalar-row emit would push up to 4.2M tiny rows
    per batch at n_lists=2^16), one group_map reduce sums the
    partials per list, and only the k x dim result returns to the
    driver (k rows). No iteration ever pulls vectors driver-side, so
    the fit scales to any corpus.

    Seeds = the first k vectors by id (deterministic). Note: the
    reduce sums float64 in partition order, so centroids can differ
    in final ulps across cluster layouts — consumers needing
    bit-stable plans should use `ivf_topk_fixed`.
    """
    spark = vectors.sparkSession
    seed = vectors.select(id_col, vec).orderBy(id_col).limit(k).collect()
    cent = np.stack([np.asarray(r[vec], np.float64) for r in seed])
    dim = cent.shape[1]
    schema = "list long, s array<double>, n long"
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partial(batch):
            emb = _list_matrix(batch.column(0))
            a = _argmin_list(emb, bc.value)
            # group rows by assigned list via one stable argsort; each
            # present list's sum is one vectorized np.sum over its
            # slice (rows stay in original order, so the pairwise
            # summation is bit-identical to a mask-based per-centroid
            # fold). Emits ONE array row per present list — k rows per
            # batch, not k*dim scalar rows.
            order = np.argsort(a, kind="stable")
            srt = a[order]
            uniq, starts = np.unique(srt, return_index=True)
            bounds = np.append(starts, len(srt))
            sums = [emb[order[bounds[u]:bounds[u + 1]]].sum(axis=0)
                    for u in range(len(uniq))]
            return [uniq, sums, np.diff(bounds)]

        def reduce_list(tab):
            s = np.zeros(dim, np.float64)
            for row in _list_matrix(tab.column("s")):  # partials in arrival order
                s += row
            return [tab.column("list")[:1], [s], [sum(tab.column("n").to_pylist())]]

        rows = group_map(
            batch_map(vectors, [vec], partial, schema), ["list", "s", "n"], "list",
            reduce_list, schema,
        ).collect()
        new = cent.copy()
        for r in rows:
            new[r["list"]] = np.asarray(r["s"], np.float64) / r["n"]
        cent = new
        bc.destroy()
    return cent


def ivf_topk(
    vectors: DataFrame,
    k: int = 5,
    n_lists: int | None = 8,
    id_col: str = "vec_id",
    vec: str = "embedding",
    refine: str = "kernel",
) -> DataFrame:
    """IVF ANN: coarse-quantize every vector to its nearest centroid
    (kmeans_fit codebook, one arrow_map.batch_map pass with it
    broadcast),
    then exact cosine refine INSIDE each list (equi-join on list id).
    The scale shape: candidate generation is a hash join on `list`,
    never an all-pairs cross join.

    n_lists=None scales the list count with the corpus (~sqrt(N),
    the standard IVF sizing: fit cost k*dim*N and per-list refine
    (N/k)^2 balance at k ~ sqrt(N)); assignment kernels chunk the
    distance tensor so large codebooks stay memory-bounded.

    refine='kernel' (default) scores each list with one cogrouped
    BLAS matmul and emits per-query local top-k (ann_topk's top-k
    refine, every query row own-list); refine='expr' is the
    fold-based cross-engine reference — the oracle registry exercises
    that arithmetic through ivf_topk_fixed (see ann_topk for the
    near-tie caveat)."""
    import math

    _check_refine(refine)
    if n_lists is None:
        n_lists = max(2, min(1 << 16, int(round(math.sqrt(vectors.count())))))
    cent = kmeans_fit(vectors, k=n_lists, id_col=id_col, vec=vec)
    bc = vectors.sparkSession.sparkContext.broadcast(cent)

    def assign(batch):
        # passes the embedding through (cast to float64) so list
        # assignment is one map-side pass — no shuffle join back to
        # the vector table just to re-attach the embedding column
        import pyarrow as pa

        ids, vc = batch.column(0), batch.column(1).cast(pa.list_(pa.float64()))
        return [ids, _argmin_list(_list_matrix(vc), bc.value), vc]

    # id dtype from the input (string image ids or bigint vec ids);
    # checkpoint the assigned frame: both join sides consume it and
    # Python-kernel stages are not exchange-reusable (the 'build the
    # IVF index once' step)
    id_dtype = dict(vectors.select(id_col).dtypes)[id_col]
    v = batch_map(
        vectors, [id_col, vec], assign, f"{id_col} {id_dtype}, list long, v array<double>"
    ).localCheckpoint(eager=False)
    if refine == "expr":
        return _fold_topk(v, v, "list", id_col, k)
    scored = _kernel_refine(
        "ivf_topk", v.withColumn("_own", F.lit(True)), v, "list", id_col,
        ("query_id", id_col), _topk_emit(k), by_id=True,
    )
    return _ranked(scored, id_col, k)
