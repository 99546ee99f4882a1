"""Deduplication operators for training-data pipelines.

Every strategy a 100 TB dedup pass needs, each as composable
DataFrame ops with deterministic cross-engine hashes:

  * exact:        md5(text) hash -> groupBy (one shuffle on the hash)
  * minhash LSH:  token-hash -> k minhashes -> banded bucket join;
                  candidate pairs only ever meet inside a band bucket,
                  so the self-join is an equi-join Catalyst hash-
                  partitions — no all-pairs blowup at scale
  * simhash:      64-bit sign-of-sum fingerprint via two-level agg
  * n-gram jaccard: token trigram shingles -> inverted-index self-join
                  -> exact Jaccard filter (the verify stage after LSH)
  * phash near-dup: Hamming-ball pairs over the image phash column,
                  bucketed by 16-bit prefix bands (images side)

All hashes derive from md5-prefix BIGINTs, so DuckDB oracles reproduce
results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .arrow_map import batch_map
from .text import token_hash_expr

__all__ = [
    "exact_dups",
    "minhash_signatures",
    "lsh_pairs",
    "lsh_pairs_against",
    "lsh_bucket_stats",
    "lsh_star_edges",
    "lsh_components",
    "label_propagate",
    "label_map",
    "phash_components",
    "simhash64",
    "simhash_neardup_pairs",
    "ngram_jaccard_pairs",
    "phash_neardup_pairs",
    "phash_neardup_against",
    "crossmodal_neardup_pairs",
    "crossmodal_neardup_against",
    "crossmodal_components",
    "crossmodal_group_labels",
]

# (a, b) parameters for the k minhash permutations h_i = (a*h + b) % P
MINHASH_P = 100003
TOKEN_MOD = 1048573
MINHASH_PARAMS = [(2 * i + 3, 7 * i + 1) for i in range(8)]


def exact_dups(docs: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact duplicate groups: (text_hash, n_docs, canonical_id)."""
    return (
        docs.select(F.md5(F.col(text)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def _tokens(docs: DataFrame, id_col: str, text: str,
            mod: int | None = TOKEN_MOD) -> DataFrame:
    h = F.expr(token_hash_expr("tok"))
    if mod is not None:
        h = h % mod
    return docs.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("tok")
    ).withColumn("h", h)


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id", text: str = "text",
                       impl: str = "kernel") -> DataFrame:
    """k=8 minhash values per document, bit-identical across impls.

    impl='kernel' (default): one Arrow batch kernel — per doc, split
    tokens, md5-prefix hash each (memoized across the partition: token
    hashing is pure, and natural corpora repeat tokens heavily), then
    all k permutation minima in two vectorized NumPy ops over the
    batch's concatenated token array (np.minimum.reduceat on doc
    offsets). No explode, no aggregate hash table: the per-token
    intermediate never exists as rows, and the only shuffle anywhere
    downstream is the band join. Measured 1.6x per doc over
    impl='expr' on a 20k-doc worst-case corpus (every token unique,
    40us -> 25us/doc warm); repeated-token corpora gain more from the
    memo. At a few thousand docs the fixed Arrow round trip makes the
    two a wash — the kernel is the at-scale default, not a small-N
    win.

    impl='expr': the pure-Catalyst twin (explode -> md5 -> groupBy
    with k min aggregates) — the literal Spark transcription of the
    DuckDB oracle SQL, kept as the cross-engine reference. Partial
    aggregation keeps its shuffle at one row per doc, but every token
    becomes a row through codegen and the agg hash table first.

    Both produce EXACTLY the same values: the kernel's
    int(md5(tok).hexdigest()[:15], 16) equals the expr path's
    conv(substring(md5(tok),1,15),16,10) for every UTF-8 token, and
    min/mod arithmetic is integer-exact. NULL texts yield no output
    row on either path (explode drops them; the kernel skips them)."""
    if impl == "expr":
        toks = _tokens(docs, id_col, text)
        aggs = [
            F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_PARAMS)
        ]
        return toks.groupBy(id_col).agg(*aggs)
    if impl != "kernel":
        raise ValueError(f"unknown impl {impl!r}")
    from hashlib import md5

    import numpy as np

    k = len(MINHASH_PARAMS)
    A = np.array([a for a, _ in MINHASH_PARAMS], dtype=np.int64)[:, None]
    B = np.array([b for _, b in MINHASH_PARAMS], dtype=np.int64)[:, None]
    id_dtype = dict(docs.select(id_col).dtypes)[id_col]
    out_schema = ", ".join(
        [f"{id_col} {id_dtype}"] + [f"mh{i} long" for i in range(k)]
    )
    cache: dict[str, int] = {}

    def tok_hash(tok: str) -> int:
        h = cache.get(tok)
        if h is None:
            h = int(md5(tok.encode("utf-8")).hexdigest()[:15], 16) % TOKEN_MOD
            if len(cache) < 4_000_000:  # ~300MB bound on the memo
                cache[tok] = h
        return h

    def kernel(batch):
        ids, texts = batch.columns
        keep = texts.is_valid()
        if not keep.true_count:
            return None
        hs = [
            np.fromiter((tok_hash(t) for t in s.split(" ")), dtype=np.int64)
            for s in texts.filter(keep).to_pylist()
        ]
        counts = np.fromiter((len(h) for h in hs), dtype=np.int64, count=len(hs))
        offsets = np.zeros(len(hs), dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        perms = (np.concatenate(hs)[None, :] * A + B) % MINHASH_P  # [k, T]
        mins = np.minimum.reduceat(perms, offsets, axis=1)  # [k, n]
        return [ids.filter(keep), *mins]

    return batch_map(docs, [id_col, text], kernel, out_schema)


def _lsh_exploded(docs: DataFrame, id_col: str, text: str, rows_per_band: int,
                  with_keys: bool = False, materialize: bool = False) -> DataFrame:
    """One row per (doc, band) with the band key.

    Single-pass banding: the bands explode from ONE signature
    computation via explode(array(struct...)). The union-per-band
    formulation would make Catalyst recompute the whole
    tokenize->explode->groupBy signature pipeline once PER BAND — at
    10^12 docs that multiplies the dominant cost by the band count.

    materialize=True checkpoints the signature frame before banding.
    The band join consumes the exploded frame up to THREE times (cap
    sizing, tiling sizing, the join) and Spark cannot share a subtree
    across those jobs, so without materialization the dominant
    tokenize->md5->groupBy signature aggregation runs 3x (measured:
    0.56s of the 2.4s sf0.1 query, x3). The checkpoint is one narrow
    row per doc (id + k small ints) — the shape every production LSH
    job persists before its candidate join; on a cluster this maps to
    rdd checkpoint / an intermediate table.

    with_keys=True additionally carries the band ordinal `bi` and the
    FULL key array `keys` on every row, enabling first-collision-band
    pair emission downstream (see _first_band_pred)."""
    sig = minhash_signatures(docs, id_col, text)
    if materialize:
        sig = sig.localCheckpoint(eager=False)
    k = len(MINHASH_PARAMS)
    keys = []
    for b in range(0, k, rows_per_band):
        cols = [F.col(f"mh{i}") for i in range(b, min(b + rows_per_band, k))]
        keys.append((b, F.concat_ws("-", *[c.cast("string") for c in cols])))
    entries = []
    for bi, (b, key) in enumerate(keys):
        fields = [F.lit(b).alias("band"), key.alias("bkey")]
        if with_keys:
            fields += [
                F.lit(bi).alias("bi"),
                F.array(*[kc for _, kc in keys]).alias("keys"),
            ]
        entries.append(F.struct(*fields))
    out_cols = [id_col, F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")]
    if with_keys:
        out_cols += [F.col("e.bi").alias("bi"), F.col("e.keys").alias("keys")]
    return sig.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("e")
    ).select(*out_cols)


def _first_band_xor_pred(xor, band_col, n_bands: int):
    """First-collision-band predicate for 64-bit-signature banding,
    computed from the XOR of the two sides' signatures instead of
    carried key arrays: band i collides exactly when the xor's i-th
    width-bit window is zero (with a partition_col fold, the folded
    fingerprints are equal by the join-band's key equality, so raw
    band equality is folded-key equality for every band). A pair is
    emitted only from its FIRST shared band: all earlier bands must
    differ. Both signatures already ride the join for the hamming
    verify, so unlike the minhash family (_lsh_exploded with_keys)
    no key array rides the band-join shuffle and the filter is
    codegen'd integer ops on one long."""
    width = _band_width(n_bands)
    mask = (1 << width) - 1
    pred = F.lit(True)
    for i in range(n_bands - 1):
        pred = pred & (
            (band_col <= F.lit(i))
            | (F.shiftright(xor, i * width).bitwiseAND(F.lit(mask)) != F.lit(0))
        )
    return pred


def _first_band_pred(n_bands: int) -> str:
    """First-collision-band predicate: a candidate pair colliding in
    several bands is emitted ONLY from the first one (no earlier band
    key equal). This replaces a distinct() over the full pair stream
    (a shuffle of O(pairs x bands) rows — the measured bottleneck on
    duplicate-heavy corpora) with a streaming filter at the join.

    Expanded as a STATIC conjunction of array-index compares: the
    band count is known at plan time, and the equivalent higher-order
    form (exists over zip_with) doesn't whole-stage-codegen — measured
    ~0.5us/row interpreted, tripling the join stage's cost."""
    parts = [
        f"(a.bi <= {i} or a.keys[{i}] != b.keys[{i}])" for i in range(n_bands - 1)
    ]
    return " and ".join(parts) if parts else "true"


def _tiled_self_join(exploded: DataFrame, id_col: str,
                     hot_threshold: int | None = 4096) -> DataFrame:
    """Skew-proof intra-bucket self-join: (a, b) rows sharing
    (band, bkey), with HOT buckets tiled into sub-tasks.

    A bucket of n members yields ~n^2/2 candidate pairs in ONE task
    under a plain equi-join — measured: two 2.3k-doc buckets produced
    5.4M of 5.75M pairs in two serial tasks, pinning 30 of 32 cores
    idle (at 10x corpus those tasks go 100x). Tiling splits each hot
    bucket's members into g = ceil(n / hot_threshold) salt groups
    (deterministic xxhash64 of the id; default 4096 keeps a tile at
    ~8M pair evals — a 1-2s task; lower thresholds over-tile and the
    per-task overhead dominates, measured 1.38s@4096 vs 2.36s@512) and
    joins on (band, bkey, i, j): side a replicates each member to
    tiles (s(a), *), side b to (*, s(b)), so every ordered pair meets
    in EXACTLY one tile and a hot bucket becomes g^2 bounded tasks.
    Cold buckets (g=1) pay nothing.

    The hot-bucket list comes from one bounded sizing pass (partial
    aggs shrink it map-side; hot KEYS are few by definition,
    <= rows/threshold — the same bounded-collect contract as the PIP
    hot-cell set, pip_join.py; corpora degenerate enough to exceed the
    bound get a loud error pointing at max_bucket). This is runtime
    adaptive planning in the AQE spirit: measure bucket sizes, then
    pick the physical shape. The COMMON shape — no bucket over the
    threshold, true for every corpus whose near-dups were collapsed
    upstream — is a plain equi-join with zero tiling overhead
    (measured: an always-tiled single-query formulation taxed every
    cold row with the g/s/tile machinery and lost 30-50% on
    hot-bucket-free workloads; the one extra sizing job is the
    cheaper insurance premium).
    """
    spark = exploded.sparkSession
    hot = (
        exploded.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > hot_threshold)
    )
    # hot_threshold=None: the caller ASSERTS no hot buckets (e.g. it
    # just distinct-collapsed the join key upstream and knows the
    # distinct count is below any threshold) — skip the sizing job
    hot_rows = [] if hot_threshold is None else hot.limit(100_001).collect()
    if len(hot_rows) > 100_000:
        raise ValueError(
            f"more than 100k buckets exceed hot_threshold={hot_threshold}: "
            "the corpus is degenerate for banded LSH — raise hot_threshold "
            "or drop mega-buckets with max_bucket"
        )
    if not hot_rows:
        return exploded.alias("a").join(
            exploded.alias("b"), ["band", "bkey"]
        ).filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    ex = (
        exploded.join(
            F.broadcast(spark.createDataFrame(hot_rows, schema=hot.schema)),
            ["band", "bkey"],
            "left",
        )
        .withColumn(
            "g",
            F.coalesce(
                F.ceil(F.col("bucket_n") / F.lit(hot_threshold)).cast("int"),
                F.lit(1),
            ),
        )
        .withColumn(
            "s", F.pmod(F.xxhash64(F.col(id_col)), F.col("g")).cast("int")
        )
        .drop("bucket_n")
    )
    a = (
        ex.withColumnRenamed("s", "i")
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.col("g") - 1)))
        .drop("g")
    )
    b = (
        ex.withColumnRenamed("s", "j")
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.col("g") - 1)))
        .drop("g")
    )
    return (
        a.alias("a")
        .join(b.alias("b"), ["band", "bkey", "i", "j"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )


def _tiled_join(a_ex: DataFrame, b_ex: DataFrame, a_id: str, b_id: str,
                hot_threshold: int = 4096) -> DataFrame:
    """Two-sided skew-proof band join: rows of a_ex and b_ex sharing
    (band, bkey), with HOT buckets tiled into bounded sub-tasks — the
    new-vs-corpus generalization of _tiled_self_join.

    A plain equi-join puts EVERY pair of a hot band key in one task:
    |a-bucket| x |b-bucket| comparisons (the daily-ingest hot path —
    near-dup-heavy corpora concentrate band keys by construction). A
    bucket is hot when a_n * b_n > hot_threshold^2 (the per-task pair
    budget, same T^2 bound the self-join uses); it splits into
    g_a = ceil(a_n / T) x g_b = ceil(b_n / T) tiles: side a salts each
    row into group i = hash(id) % g_a and replicates it across all
    g_b values of j; side b mirrors (j = hash % g_b, replicate over
    i), so every cross pair meets in EXACTLY one tile of at most
    T^2 pair evals. Cold buckets (g_a = g_b = 1) pay nothing, and the
    no-hot-bucket common case falls back to the plain equi-join with
    zero tiling overhead — same adaptive two-phase shape (bounded
    sizing collect, then pick the physical plan) as the self-join,
    same bounded-collect contract (> 100k hot keys = loud error).

    Streaming probes CANNOT use this (the sizing pass is an action
    over both sides); _band_join plans them as the plain stream-static
    join with the corpus-side _cap_buckets guard instead."""
    spark = a_ex.sparkSession
    sa = a_ex.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("a_n"))
    sb = b_ex.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("b_n"))
    budget = hot_threshold * hot_threshold
    hot = sa.join(sb, ["band", "bkey"]).filter(
        F.col("a_n") * F.col("b_n") > F.lit(budget)
    )
    hot_rows = hot.limit(100_001).collect()
    if len(hot_rows) > 100_000:
        raise ValueError(
            f"more than 100k buckets exceed the {budget}-pair tile budget "
            f"(hot_threshold={hot_threshold}): the corpus is degenerate for "
            "banded joins — raise hot_threshold or drop mega-buckets with "
            "max_bucket"
        )
    if not hot_rows:
        return a_ex.alias("a").join(b_ex.alias("b"), ["band", "bkey"])
    hot_df = F.broadcast(spark.createDataFrame(hot_rows, schema=hot.schema))
    ga = F.coalesce(
        F.ceil(F.col("a_n") / F.lit(hot_threshold)).cast("int"), F.lit(1)
    )
    gb = F.coalesce(
        F.ceil(F.col("b_n") / F.lit(hot_threshold)).cast("int"), F.lit(1)
    )
    a2 = (
        a_ex.join(hot_df, ["band", "bkey"], "left")
        .withColumn("i", F.pmod(F.xxhash64(F.col(a_id)), ga).cast("int"))
        .withColumn("j", F.explode(F.sequence(F.lit(0), gb - 1)))
        .drop("a_n", "b_n")
    )
    b2 = (
        b_ex.join(hot_df, ["band", "bkey"], "left")
        .withColumn("j", F.pmod(F.xxhash64(F.col(b_id)), gb).cast("int"))
        .withColumn("i", F.explode(F.sequence(F.lit(0), ga - 1)))
        .drop("a_n", "b_n")
    )
    return a2.alias("a").join(b2.alias("b"), ["band", "bkey", "i", "j"])


def lsh_bucket_stats(docs: DataFrame, id_col: str = "doc_id", text: str = "text",
                     rows_per_band: int = 4, max_bucket: int | None = None) -> DataFrame:
    """Per-bucket size monitor for the LSH join: (band, bkey, bucket_n,
    truncated). The visible counter for skew audits — run it alongside
    a capped lsh_pairs to see exactly which mega-buckets were dropped."""
    return _bucket_stats(_lsh_exploded(docs, id_col, text, rows_per_band), max_bucket)


def _band_width(n_bands: int) -> int:
    """Validate-and-derive the band width for a 64-bit signature.

    n_bands must evenly split the 64-bit hash: a non-divisor would
    silently leave the high 64 % n_bands bits unbanded (breaking the
    pigeonhole recall guarantee), and n_bands=1 would need a 2^64-1
    mask that overflows Spark's signed long literal."""
    if not (2 <= n_bands <= 64 and 64 % n_bands == 0):
        raise ValueError(
            f"n_bands must be a divisor of 64 in [2, 64], got {n_bands}"
        )
    return 64 // n_bands


def _banded_explode(rows: DataFrame, id_col: str, sig: str, n_bands: int,
                    partition_col: str | None = None,
                    carry: tuple[str, ...] = ()) -> DataFrame:
    """The shared banding core for every 64-bit-signature modality
    (phash, full-width simhash, the crossmodal caption fold): one row
    per (input row, band) with the band's bucket key — the
    explode→fold half of the banded-join shape that phash/simhash/
    crossmodal pairs, *_against, and the band-stats monitor all
    consume. Adding a modality means choosing a signature column and
    (optionally) a fold/verify pair — not re-writing this block.

    Single-pass banding (explode, not union-per-band): the input may
    be an expensive synthesized/decoded table; a union would rescan it
    once per band. An explicit narrow projection runs BEFORE the
    banding Generate: Catalyst does not reliably prune columns through
    Sample+Generate over a cached relation (measured 5-10x on a
    full-width 3M-image cache — the pixel bytes column rode through
    the explode), and the join only ever needs (id, sig, carry).

    `partition_col` (a non-negative < 2^31 long column, e.g. a caption
    fingerprint) folds into every band key — (fp << width) | band_key
    stays inside a signed 64-bit long — so rows can only ever pair
    within equal values and hot signature buckets are SPLIT by the
    fold before any skew guard sizes them. `carry` columns ride the
    explode (n_bands x replication — the stream-safe way to verify
    them later without a join-back)."""
    width = _band_width(n_bands)
    mask = (1 << width) - 1
    cols = [id_col, sig]
    if partition_col is not None:
        cols.append(partition_col)
    cols += [c for c in carry if c not in cols]
    rows = rows.select(*cols)
    keys = [
        F.shiftright(F.col(sig), b * width).bitwiseAND(F.lit(mask))
        for b in range(n_bands)
    ]
    if partition_col is not None:
        keys = [
            F.shiftleft(F.col(partition_col), width).bitwiseOR(k) for k in keys
        ]
    entries = [
        F.struct(F.lit(b).alias("band"), keys[b].alias("bkey"))
        for b in range(n_bands)
    ]
    carried = [c for c in carry if c != sig and c != id_col]
    return rows.select(
        F.col(id_col), F.col(sig), *carried,
        F.explode(F.array(*entries)).alias("e"),
    ).select(id_col, sig, "e.band", "e.bkey", *carried)


def phash_band_stats(images: DataFrame, id_col: str = "image_id",
                     phash: str = "phash", n_bands: int = 4,
                     max_bucket: int | None = None,
                     partition_col: str | None = None) -> DataFrame:
    """Per-band-bucket size monitor for the phash joins: (band, bkey,
    bucket_n, truncated) — the image twin of lsh_bucket_stats. Run it
    alongside a capped phash_neardup_against (or let the streaming
    wrappers run it for you at query build) to see exactly which
    mega-buckets a max_bucket cap drops. `partition_col` folds into
    the keys exactly as the join operators do (same _banded_explode),
    so the stats count the buckets the capped join will actually see."""
    return _bucket_stats(
        _banded_explode(images, id_col, phash, n_bands,
                        partition_col=partition_col),
        max_bucket,
    )


def _bucket_sizes(exploded: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """(keys..., bucket_n): the one sizing pass behind both the cap
    and its monitors, so a guard and its stats cannot disagree."""
    return exploded.groupBy(*keys).agg(F.count(F.lit(1)).alias("bucket_n"))


def _bucket_stats(exploded: DataFrame, max_bucket: int | None,
                  keys: tuple[str, ...] = ("band", "bkey")) -> DataFrame:
    """Per-bucket size monitor (keys..., bucket_n, truncated) behind
    lsh_bucket_stats, phash_band_stats and embed.ann_bucket_stats:
    `truncated` flags exactly the buckets _cap_buckets drops."""
    cap = F.lit(max_bucket) if max_bucket is not None else F.lit(None).cast("int")
    return _bucket_sizes(exploded, keys).withColumn(
        "truncated", cap.isNotNull() & (F.col("bucket_n") > cap)
    )


def _cap_buckets(exploded: DataFrame, max_bucket: int | None,
                 observation=None,
                 keys: tuple[str, ...] = ("band", "bkey")) -> DataFrame:
    """The shared skew guard for every bucket join (the band joins key
    on (band, bkey), the embedding joins on the LSH `bucket`): drop
    whole buckets larger than the cap BEFORE any join over them (their
    members are exact/near-exact dups better handled by exact_dups;
    the dropped buckets stay visible via the _bucket_stats monitors).

    Physical shape: broadcast ANTI-join against the OVER-cap keys —
    over-cap buckets number at most rows/max_bucket (tiny by
    definition), so the guard is one partial-agg sizing pass plus a
    map-side anti join, never a shuffle of the exploded frame keyed
    by bucket (the inner-join-on-all-sizes formulation shuffled every
    row to re-attach a filter verdict).

    `observation` (a pyspark Observation) makes the silent drop
    visible: it is filled EAGERLY by one tiny job at operator build
    (the over-cap agg — which also materializes the exploded frame's
    checkpoint for the main query to reuse), so observation.get
    carries dropped_buckets / dropped_rows as soon as the operator
    returns, before any action on the result. Eager, not lazy, by
    necessity: AQE collects observed metrics from the FINAL plan, and
    empty-relation propagation can rewrite away a CollectMetrics node
    in the join subtree exactly when everything was dropped — the
    loudest case would be the one that never reported."""
    if max_bucket is None:
        if observation is not None:
            _observe_zero_drops(observation, exploded.sparkSession)
        return exploded
    over = _bucket_sizes(exploded, keys).filter(F.col("bucket_n") > max_bucket)
    if observation is not None:
        # bounded collect: over-cap buckets number at most
        # rows/max_bucket by definition
        over.observe(
            observation,
            F.count(F.lit(1)).alias("dropped_buckets"),
            F.coalesce(F.sum("bucket_n"), F.lit(0)).alias("dropped_rows"),
        ).collect()
    over = over.select(*keys)
    return exploded.join(F.broadcast(over), list(keys), "left_anti")


def _observe_zero_drops(observation, spark) -> None:
    """Fill a drop observation with zeros when no cap is armed, so
    observation.get never blocks on a metric that will never fire."""
    spark.range(0).observe(
        observation,
        F.count(F.lit(1)).alias("dropped_buckets"),
        F.coalesce(F.sum(F.lit(0)), F.lit(0)).alias("dropped_rows"),
    ).collect()


def _band_join(a: DataFrame, b: DataFrame | None, id_col: str,
               first_band, finish, max_bucket: int | None = None,
               drop_observation=None, hot_threshold: int | None = 4096,
               materialize: bool = False) -> DataFrame:
    """The one banded-join driver every near-dup pair operator calls:
    exploded (id_col, band, bkey, ...) frames in, finished pairs out.
    The skew-and-dedup policy lives here once:

      * b=None is the self join (_tiled_self_join, `a.` < `b.` ids);
        otherwise `a` probes the corpus `b` through _tiled_join, or —
        when `a` is a STREAMING frame — through the plain stream-static
        equi-join (tiling's sizing pass is an action a stream cannot
        run; the corpus-side cap is that path's skew guard).
      * _cap_buckets runs on the corpus side (the only side of a self
        join) with `drop_observation`, so the observation always
        fills: exact counts under a cap, zeros unarmed. A batch probe
        side is capped too, unobserved.
      * Uncapped joins keep only a pair's FIRST colliding band
        (`first_band`, a Column over the `a.`/`b.` sides) — a streaming
        filter instead of a distinct() over O(pairs x bands) rows. A
        cap breaks that rule (a pair's first shared band may be a
        dropped bucket), so capped joins apply distinct() after
        `finish` instead — except on a stream, where distinct() is a
        stateful aggregation append mode cannot host: there a pair
        emits once per SURVIVING shared band (consumers keying on
        new_id are unaffected).

    `finish` maps the joined frame to the output columns (verify
    filters + select). `materialize` checkpoints a batch `a` before
    any sizing pass: the cap and tiling sizing passes are SEPARATE
    jobs, so exchange reuse cannot span them and an expensive
    upstream (the minhash signature kernel) would otherwise run once
    per job. Cheap banding over already-persisted inputs (phash)
    skips it — re-deriving two narrow projections costs less than
    writing one to the block manager."""
    streaming = a.isStreaming
    if materialize and not streaming:
        a = a.localCheckpoint(eager=False)
    capped = max_bucket is not None
    if b is None:
        joined = _tiled_self_join(
            _cap_buckets(a, max_bucket, drop_observation), id_col, hot_threshold
        )
    else:
        b = _cap_buckets(b, max_bucket, drop_observation)
        if streaming:
            joined = a.alias("a").join(b.alias("b"), ["band", "bkey"])
        else:
            joined = _tiled_join(
                _cap_buckets(a, max_bucket), b, id_col, id_col, hot_threshold
            )
    if not capped:
        joined = joined.filter(first_band)
    out = finish(joined)
    return out.distinct() if capped and not streaming else out


def _id_pair(id_col: str, left: str, right: str):
    """`finish` for the set-similarity joins: the two sides' ids."""
    return lambda j: j.select(
        F.col(f"a.{id_col}").alias(left), F.col(f"b.{id_col}").alias(right)
    )


def lsh_pairs(docs: DataFrame, id_col: str = "doc_id", text: str = "text",
              rows_per_band: int = 4, max_bucket: int | None = None,
              drop_observation=None) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a < doc_b sharing >= 1 band).

    The band key is an equi-join key: Catalyst plans a plain shuffled
    hash join keyed on (band_idx, band_key) — at 10^12 docs this is
    the only join shape that survives. 4 rows per band keeps the
    collision rate low enough that bucket sizes stay bounded.

    `max_bucket` is the skew guard: a degenerate band key (e.g. a
    corpus of identical short docs) would otherwise create one bucket
    whose self-join is O(n^2) in a single task. Buckets larger than
    the cap are dropped BEFORE the join (their members are exact or
    near-exact dups better handled by exact_dups); the dropped buckets
    stay visible via lsh_bucket_stats with the same cap, and in-band
    via `drop_observation` (filled at build — zeros when unarmed).
    Surviving buckets still tile: a bucket AT the cap (e.g. 32768) is
    n^2/2 ~ 5*10^8 pairs in one task under a plain join — the cap
    bounds memory blowup, the tiling bounds task runtime.

    Dedup of multi-band collisions: without a cap, a pair is emitted
    from its FIRST colliding band only (measured 3x cheaper than
    distinct() on duplicate-heavy corpora); with a cap, distinct()
    (see _band_join).
    """
    capped = max_bucket is not None
    n_bands = (len(MINHASH_PARAMS) + rows_per_band - 1) // rows_per_band
    # the capped path checkpoints the narrow signatures (cap sizing,
    # tiling sizing and the join all re-band them); the uncapped path
    # checkpoints the keyed exploded frame (sizing + join)
    return _band_join(
        _lsh_exploded(docs, id_col, text, rows_per_band,
                      with_keys=not capped, materialize=capped),
        None, id_col, F.expr(_first_band_pred(n_bands)),
        _id_pair(id_col, "doc_a", "doc_b"), max_bucket, drop_observation,
        materialize=not capped,
    )


def lsh_pairs_against(new_docs: DataFrame, corpus: DataFrame,
                      id_col: str = "doc_id", text: str = "text",
                      rows_per_band: int = 4,
                      max_bucket: int | None = None,
                      hot_threshold: int = 4096,
                      drop_observation=None) -> DataFrame:
    """Incremental dedup: banded-LSH candidate pairs between a NEW
    batch and an EXISTING corpus — (new_id, corpus_id) sharing >= 1
    band. The daily-ingest shape: a 10^12-doc corpus is deduped ONCE
    (lsh_pairs / lsh_components); every subsequent batch then joins
    its signatures against the corpus's instead of re-running the
    corpus self-join. Cost scales with |batch| x collision rate, not
    |corpus|^2.

    The corpus signatures and a batch new side's banded rows are
    checkpointed (the signature aggregation is the dominant cost; in
    production the CORPUS side is a persisted table — here the
    checkpoint stands in for it, and the operator's join shape is
    identical either way).

    Skew: a hot band key (a stopword-heavy or boilerplate signature
    shared by many docs on both sides) would put |new-bucket| x
    |corpus-bucket| comparisons in ONE join task; the batch path
    routes through _tiled_join, which sizes both sides and tiles hot
    buckets into bounded sub-tasks (`hot_threshold` = per-task pair
    budget sqrt). `max_bucket` additionally drops over-cap buckets
    whole on both sides (their members are exact/near-exact dups
    better handled by exact_dups) and the first-band rule yields to
    distinct() (see _band_join).

    `new_docs` may be a STREAMING DataFrame (readStream source): the
    operator then skips the stream-side checkpoint and the tiling
    sizing pass (both are actions) and plans a stream-static band
    join — the corpus side still caps via max_bucket, which is the
    available skew guard on that path.

    A pair is emitted only for ids on opposite sides; a doc present in
    both frames matches itself (hash-identical signatures) — filter
    ids upstream if re-ingestion is possible.

    `drop_observation` (a pyspark Observation) surfaces the CORPUS
    side's capped drops: filled eagerly at operator build, so
    observation.get has dropped_buckets / dropped_rows as soon as the
    call returns (see _cap_buckets)."""
    capped = max_bucket is not None
    n_bands = (len(MINHASH_PARAMS) + rows_per_band - 1) // rows_per_band
    return _band_join(
        _lsh_exploded(new_docs, id_col, text, rows_per_band,
                      with_keys=not capped),
        _lsh_exploded(corpus, id_col, text, rows_per_band,
                      with_keys=not capped, materialize=True),
        id_col, F.expr(_first_band_pred(n_bands)),
        _id_pair(id_col, "new_id", "corpus_id"), max_bucket,
        drop_observation, hot_threshold, materialize=True,
    )


def _hamming_pairs(a: DataFrame, b: DataFrame | None, id_col: str,
                   sig: str, n_bands: int, max_hamming: int,
                   names: tuple[str, str], verify_col: str | None,
                   max_bucket: int | None, drop_observation,
                   hot_threshold: int | None) -> DataFrame:
    """The 64-bit-signature band join (phash, simhash, the crossmodal
    fold): _band_join with the XOR first-band rule, the exact
    bit_count verify and, with `verify_col`, exact equality of the
    two sides' carried values. Output (names..., hamming[,
    verify_col])."""
    xor = F.col(f"a.{sig}").bitwiseXOR(F.col(f"b.{sig}"))

    def finish(joined):
        out = joined.withColumn("hamming", F.bit_count(xor)).filter(
            F.col("hamming") <= max_hamming
        )
        sel = [
            F.col(f"a.{id_col}").alias(names[0]),
            F.col(f"b.{id_col}").alias(names[1]),
            F.col("hamming"),
        ]
        if verify_col is not None:
            # the folded fingerprint admitted the candidate, the
            # carried value decides
            out = out.filter(
                F.col(f"a.{verify_col}") == F.col(f"b.{verify_col}")
            )
            sel.append(F.col(f"a.{verify_col}").alias(verify_col))
        return out.select(*sel)

    return _band_join(
        a, b, id_col, _first_band_xor_pred(xor, F.col("band"), n_bands),
        finish, max_bucket, drop_observation, hot_threshold,
    )


def phash_neardup_against(new_images: DataFrame, corpus: DataFrame,
                          max_hamming: int = 8,
                          id_col: str = "image_id", phash: str = "phash",
                          n_bands: int = 4,
                          max_bucket: int | None = None,
                          hot_threshold: int = 4096,
                          drop_observation=None,
                          partition_col: str | None = None,
                          verify_col: str | None = None) -> DataFrame:
    """Incremental image near-dup: (new_id, corpus_id, hamming) pairs
    within the Hamming ball, candidates from the same band split as
    phash_neardup_pairs but joined new-batch-vs-corpus — the ingest
    filter that asks "is this incoming image a near-dup of anything we
    already keep?" without re-pairing the corpus against itself.

    Same recall contract as phash_neardup_pairs: guaranteed when
    max_hamming < n_bands (pigeonhole), recall-oriented beyond.

    Skew: near-dup-heavy corpora concentrate band keys by
    construction, so the batch path routes through _tiled_join — hot
    buckets (|new| x |corpus| over the hot_threshold^2 pair budget)
    tile into bounded sub-tasks; cold corpora pay one sizing job and
    zero tiling. `max_bucket` drops over-cap corpus band buckets
    whole (batch: both sides), the _cap_buckets discipline.

    `new_images` may be a STREAMING DataFrame (this is what
    streaming_neardup_matches passes): the sizing action is
    impossible there, so the plan stays a stream-static equi-join
    with the corpus-side max_bucket cap as the skew guard (see
    _band_join for the capped-stream emission rule).

    `drop_observation` (a pyspark Observation) surfaces the corpus
    side's capped drops: filled eagerly at operator build (the corpus
    side is static even under a streaming new_images frame, so the
    one sizing job is always legal), observation.get is ready as soon
    as the call returns — zeros when unarmed; see _cap_buckets.

    `partition_col` folds a non-negative < 2^31 long column into every
    band bucket key on BOTH sides (pairs only within equal values —
    see phash_neardup_pairs). `verify_col` is carried through the band
    join on both sides and the output keeps only rows where the two
    sides' values are EQUAL, emitting it as a column; it rides the
    exploded frames (n_bands x replication) because joining captions
    back onto the pair stream would be a stream-stream join when
    new_images is streaming — carry-through is the stream-safe
    verify. Together these give crossmodal_neardup_against its joint
    caption+image semantics."""
    carry = (verify_col,) if verify_col is not None else ()

    def banded(images):
        return _banded_explode(images, id_col, phash, n_bands,
                               partition_col=partition_col, carry=carry)

    return _hamming_pairs(
        banded(new_images), banded(corpus), id_col, phash, n_bands,
        max_hamming, ("new_id", "corpus_id"), verify_col, max_bucket,
        drop_observation, hot_threshold,
    )


def lsh_star_edges(docs: DataFrame, id_col: str = "doc_id", text: str = "text",
                   rows_per_band: int = 4, max_bucket: int | None = None) -> DataFrame:
    """Star-shaped dedup edges: each doc links to its band-bucket MINIMUM.

    The scale-correct alternative to pair enumeration: a bucket of n
    near-identical docs yields n-1 edges instead of n*(n-1)/2 pairs
    (a 2,320-doc bucket: 2,319 edges vs 2.7M pairs), while preserving
    bucket connectivity exactly — so connected components over star
    edges equal components over the full `lsh_pairs` graph. This is
    the edge set `lsh_components` consumes.
    """
    from pyspark.sql import Window

    exploded = _cap_buckets(
        _lsh_exploded(
            docs, id_col, text, rows_per_band,
            # the cap path consumes the frame twice (sizing + join)
            materialize=max_bucket is not None,
        ),
        max_bucket,
    )
    w = Window.partitionBy("band", "bkey")
    return (
        exploded.withColumn("root", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("root"))
        .select(F.col("root").alias("src"), F.col(id_col).alias("dst"))
        .distinct()
    )


def lsh_components(docs: DataFrame, id_col: str = "doc_id", text: str = "text",
                   rows_per_band: int = 4, max_bucket: int | None = None,
                   max_iter: int = 50) -> DataFrame:
    """Duplicate clusters: (doc_id, component) with component = the
    minimum doc id reachable through shared LSH buckets.

    Min-label propagation over the star-edge graph: every iteration
    each node takes the min of its own label and its neighbors'
    labels; converged when no (node, label) pair changes. Bucket-local
    stars give diameter ~= #overlapping buckets, so convergence is a
    handful of iterations, each one shuffle on the edge key — the
    iterative-join shape Spark connected-components jobs use at scale
    (each round localCheckpoints to truncate lineage; on a cluster
    that maps to rdd checkpoint against a fault-tolerant store).

    This is the operator a 10^12-doc dedup actually runs: the pair
    list (`lsh_pairs`) is quadratic inside hot buckets, the component
    labelling is linear and directly yields keep/drop decisions
    (keep doc_id == component).
    """
    edges = lsh_star_edges(docs, id_col, text, rows_per_band, max_bucket)
    nodes = docs.select(F.col(id_col).alias("node"))
    return label_propagate(nodes, edges, max_iter).select(
        F.col("node").alias(id_col), F.col("label").alias("component")
    )


def label_map(edges: DataFrame,
              max_iter: int = 50,
              driver_edges: int = 200_000) -> tuple:
    """Sparse connected-components labels over edges(src, dst)
    [undirected]: (mapping, broadcastable) where mapping is a
    (node, label) DataFrame covering ONLY edge-touched nodes (label =
    min reachable node id), or None when there are no edges. Every
    node absent from the mapping is its own label by definition.

    Callers fold the mapping onto any frame keyed by node with a LEFT
    join + coalesce(label, node) — at the CALLER's cardinality, and
    map-side when `broadcastable` (the driver union-find fast path).
    This is the core label_propagate shares with phash_components /
    crossmodal_components / the multimodal cascade: those operators
    used to materialize a per-node component frame and shuffle-join
    their row tables against it; folding the sparse mapping directly
    deletes that node-cardinality join (in a realistic corpus the
    edge-touched set is orders of magnitude smaller than the corpus).

    Edge sets at or under `driver_edges` run union-find ON THE DRIVER:
    each distributed iteration costs 3 shuffles of scheduler latency
    (measured 1.7-2.9 s PER ITERATION on a ~100-edge graph at
    local[32]) while path-halving union-find on 200k collected edges
    is ~0.1 s and the result rebroadcasts map-side. This is a BOUNDED
    collect — the count is already in hand and the transfer caps at
    2*driver_edges id pairs. Wide graphs (> driver_edges) take the
    distributed loop (pointer-doubled min-label propagation, one job
    per round with the convergence test riding the checkpoint action
    as an Observation); driver_edges=0 forces it (tests pin
    loop==driver equality)."""
    from pyspark.sql import Observation

    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # ONE bounded job decides the path AND transfers the edges when
    # small: limit-collect up to the driver cap + 1 (from the already
    # checkpointed frame, so this never recomputes the band join) —
    # the earlier count-then-collect shape paid a second scheduler
    # round trip per invocation, and the composed cascade invokes
    # label_map three times per run
    head = und.limit(2 * driver_edges + 1).collect() if driver_edges else []
    if driver_edges and len(head) == 0:
        # all-isolated (the common case for discriminating thresholds
        # on realistic corpora): no mapping, skip the fold entirely
        return None, True
    if driver_edges and len(head) <= 2 * driver_edges:
        from pyspark.sql.types import StructField, StructType

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in head:
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rs] = rd
        comp_min: dict = {}
        for x in parent:
            r = find(x)
            if r not in comp_min or x < comp_min[r]:
                comp_min[r] = x
        ntype = und.schema["src"].dataType
        mapping = edges.sparkSession.createDataFrame(
            [(x, comp_min[find(x)]) for x in parent],
            StructType([StructField("node", ntype),
                        StructField("label", ntype)]),
        )
        return mapping, True
    # Right-size the edge frame's partitioning to the EDGE count: the
    # checkpoint inherits the upstream join's partition count (32+ on
    # the bench session), and every loop stage then schedules that many
    # near-empty tasks PER ITERATION. coalesce is narrow (no shuffle);
    # the re-checkpoint materializes the small copy once. At cluster
    # scale p grows with the edges, so wide graphs keep their
    # parallelism — this only trims scheduler latency on small ones.
    # distributed path (or driver_edges=0 forcing it): the exact edge
    # count is only needed for partition right-sizing
    n_edges = und.count()
    if n_edges == 0:
        return None, True
    p = max(1, min(und.rdd.getNumPartitions(), 1 + n_edges // 200_000))
    if p < und.rdd.getNumPartitions():
        und = und.coalesce(p).localCheckpoint()
    # Iterate ONLY over edge-touched nodes: in a realistic corpus most
    # items are unique (isolated), and materializing the full node set
    # every round would dominate. Isolated nodes are their own label
    # by definition and rejoin at the end.
    labels = (
        und.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for it in range(max_iter):
        nbr = (
            und.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "node")
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer doubling: follow label -> label's label, halving path
        # lengths so chains converge in O(log diameter) rounds instead
        # of O(diameter) (one-hop-only propagation would need as many
        # rounds as the longest chain)
        mapping = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        )
        obs = Observation(f"label_propagate_{it}")
        new = (
            stepped.join(mapping, "label", "left")
            .select(
                "node", "old",
                F.least(F.col("label"), F.coalesce("label2", "label")).alias("label"),
            )
            .observe(
                obs,
                F.sum((F.col("label") != F.col("old")).cast("long")).alias("changed"),
            )
            .select("node", "label")
            .localCheckpoint()  # the action that also fills the observation
        )
        labels = new
        if not (obs.get["changed"] or 0):
            converged = True
            break
    if not converged:
        # With pointer doubling, max_iter=50 covers any graph of
        # diameter < 2^50; hitting this means the caller passed a tiny
        # max_iter. Returning half-propagated labels would silently
        # mislabel components (duplicates kept), so fail loudly.
        raise ValueError(
            f"label_propagate did not converge within max_iter={max_iter}; "
            "raise max_iter (labels would be incorrect, not approximate)"
        )
    # labels covers exactly the edge-touched nodes (the loop iterated
    # only over them); isolated nodes fold to themselves at the caller
    return labels, False


def _fold_labels(df: DataFrame, key, mapping, broadcastable: bool,
                 out: str = "label"):
    """Left-join the sparse label mapping onto `df` keyed by column
    expression `key` (built from df's columns), coalescing absent
    nodes to their own key — the shared fold every label_map consumer
    runs, at the CALLER's cardinality and map-side when the mapping
    is driver-sized. mapping=None (no edges) short-circuits to
    out := key with no join at all."""
    if mapping is None:
        return df.withColumn(out, key)
    m = F.broadcast(mapping) if broadcastable else mapping
    return df.join(m, key == m["node"], "left").select(
        *[df[c] for c in df.columns],
        F.coalesce(m["label"], key).alias(out),
    )


def label_propagate(nodes: DataFrame, edges: DataFrame,
                    max_iter: int = 50,
                    driver_edges: int = 200_000) -> DataFrame:
    """Connected components by min-label propagation: nodes(node) +
    edges(src, dst) [undirected] -> (node, label) with label = the min
    node id reachable. A thin rejoin over label_map (see there for the
    driver fast path / distributed loop trade): the sparse mapping
    folds onto the node list with one left join — map-side when the
    mapping is driver-sized."""
    mapping, bc = label_map(edges, max_iter, driver_edges)
    if mapping is None:
        return nodes.withColumn("label", F.col("node"))
    m = F.broadcast(mapping) if bc else mapping
    return nodes.join(m, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


def phash_components(images: DataFrame, id_col: str = "image_id",
                     phash: str = "phash", max_hamming: int = 8,
                     max_iter: int = 50, n_bands: int = 4,
                     hot_threshold: int | None = 4096,
                     max_bucket: int | None = None,
                     drop_observation=None) -> DataFrame:
    """Image near-duplicate clusters: (image_id, component) with
    component = the minimum image id in the cluster.

    The 10^12-image shape, in two levels (phash_group_labels):
      1. byte-identical perceptual hashes collapse FIRST (distinct on
         the 64-bit phash) — a million identical crops become ONE node
         below, so degenerate corpora cannot re-create the quadratic
         bucket problem;
      2. the band join + exact Hamming verify runs over DISTINCT hash
         values only, and min-label propagation clusters the values;
         each image then inherits the min image id of its cluster —
         one min over a window partitioned by the group key. NULL
         hashes are singleton clusters.

    Unlike `lsh_components` (bucket connectivity IS the doc-dedup
    semantic), image clusters propagate only through VERIFIED pairs
    (hamming <= max_hamming), matching phash_neardup_pairs exactly.

    `max_bucket` / `drop_observation` thread to the band join
    (phash_neardup_pairs): because the join runs over DISTINCT hash
    values, the observed dropped_rows count DISTINCT HASHES whose
    band bucket exceeded the cap, not raw images — the level at which
    the cap actually acts here. Unarmed (the default) the observation
    fills with zeros eagerly.
    """
    from pyspark.sql import Window

    lab = phash_group_labels(
        images.select(id_col, phash), id_col, phash, max_hamming, max_iter,
        n_bands, hot_threshold, max_bucket, drop_observation,
    )
    return lab.select(
        id_col,
        F.min(id_col).over(Window.partitionBy("_plabel")).alias("component"),
    )


def simhash64(docs: DataFrame, id_col: str = "doc_id", text: str = "text",
              full_width: bool = False) -> DataFrame:
    """64-bit simhash: bit b set iff more than half the tokens have bit
    b set in their hash.

    full_width=True hashes tokens WITHOUT the TOKEN_MOD reduction
    (60 md5-prefix bits), so all 60 signature bits carry signal — the
    variant the BANDED near-dup join needs (with the default 20-bit
    reduction, bands over bits 20..63 would all collide in one
    mega-bucket). The default stays mod-reduced for parity with the
    pinned `simhash` oracle.

    ONE hash-agg over token rows with 60 conditional-sum expressions
    (plus the token count) — no per-bit explode: the earlier
    (doc, bit) formulation pushed 60x the token rows through its
    first aggregate's hash table. Partial aggregation still applies
    (each executor pre-reduces to one row per doc), so the shuffle
    carries #docs rows either way but the map side now hashes token
    rows once instead of 60 times (measured 2x warm, and the smaller
    aggregate codegen-compiles faster cold). No UDF anywhere.

    Only bits below TOKEN_MOD's width are aggregated: _tokens
    guarantees h < TOKEN_MOD < 2^20, so bits 20..59 have zero ones in
    every document and can never pass the majority test — identical
    output to the full 60-bit fold (the SQL oracle still folds all 60
    and hashes equal)."""
    n_bits = 60 if full_width else (TOKEN_MOD - 1).bit_length()
    toks = _tokens(docs, id_col, text, mod=None if full_width else TOKEN_MOD)
    aggs = [
        F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"o{b}") for b in range(n_bits)
    ] + [F.count(F.lit(1)).alias("n")]
    sums = toks.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(n_bits):
        sim = sim + F.when(
            F.col(f"o{b}") * 2 > F.col("n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3,
                          id_col: str = "doc_id", text: str = "text",
                          n_bands: int = 4,
                          hot_threshold: int | None = 4096) -> DataFrame:
    """Document near-dup pairs by SIMHASH Hamming distance: compute the
    64-bit simhash signature (one hash-agg, no UDF), then reuse the
    phash band machinery — band split by pigeonhole (guaranteed recall
    while max_hamming < n_bands), adaptive hot-bucket tiling, exact
    bit_count verify. Output (id_a < id_b, hamming).

    This is the classic large-scale text near-dup shape (simhash +
    Hamming ball) beside the minhash/Jaccard family: simhash favors
    small perturbations of LONG documents (a few changed tokens flip
    few bits), minhash favors set overlap. The signature frame
    checkpoints: the band join consumes it on both sides plus the
    sizing pass, and the signature aggregation is the dominant cost."""
    sig = simhash64(docs, id_col, text, full_width=True).localCheckpoint(
        eager=False
    )
    return phash_neardup_pairs(
        sig, max_hamming=max_hamming, id_col=id_col, phash="simhash",
        n_bands=n_bands, hot_threshold=hot_threshold,
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id", text: str = "text",
                        n: int = 3, threshold: float = 0.2,
                        max_df: int | str | None = "auto") -> DataFrame:
    """Exact Jaccard over token n-gram shingles, via inverted-index
    self-join (only docs sharing a shingle ever meet).

    `max_df` is the hot-shingle guard: a shingle present in more than
    max_df documents (a stopword phrase) would fan the self-join out
    O(df^2) in one bucket. Such shingles are dropped from the INDEX
    side only — doc sizes still count them, so reported Jaccard is a
    lower bound for affected pairs (the standard df-ceiling trade,
    stated rather than silent).

    Default max_df='auto' = max(1000, 1% of the corpus row count, via
    one count() job): the guarded path is the DEFAULT path — an
    unguarded O(df^2) blowup should require opting OUT (max_df=None),
    not reading the docstring. At the default, a shingle must appear
    in over 1000 docs (and over 1% of the corpus) before any pair's
    Jaccard turns lower-bound, which no discriminating shingle does."""
    if max_df == "auto":
        max_df = max(1000, int(0.01 * docs.count()))
    # one materialization of the (doc, shingle) index: doc sizes, the
    # optional df guard, and both join sides consume it — without the
    # checkpoint the tokenize+explode+distinct subtree plans once per
    # consumer (4 scans of the corpus observed in the plan audit)
    shingles = docs.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, size(split({text},' ')) - {n}),"
                f" i -> concat_ws(' ', slice(split({text},' '), i + 1, {n})))"
            )
        ).alias("sh"),
    ).distinct().localCheckpoint(eager=False)
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        df_ok = shingles.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") <= max_df
        )
        shingles = shingles.join(df_ok.select("sh"), "sh")
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
    )


def phash_neardup_pairs(images: DataFrame, max_hamming: int = 8,
                        id_col: str = "image_id", phash: str = "phash",
                        n_bands: int = 4,
                        hot_threshold: int | None = 4096,
                        max_bucket: int | None = None,
                        drop_observation=None,
                        partition_col: str | None = None,
                        verify_col: str | None = None) -> DataFrame:
    """Near-duplicate image pairs by phash Hamming distance.

    `partition_col` (a non-negative < 2^31 long column, e.g. a caption
    fingerprint) is folded into every band bucket key: rows can only
    pair within equal values, the fold costs nothing (one shift-or in
    the existing key expression), hot phash buckets are SPLIT by the
    partition value before the skew guard ever sees them, and the
    first-collision-band dedup stays sound (the fold is uniform
    across bands). This is how crossmodal_neardup_pairs gets joint
    caption+image semantics without intersecting two pair streams.

    Band trick: split the 64-bit hash into n_bands equal bands; by
    pigeonhole any pair within Hamming <= max_hamming shares an
    identical band whenever max_hamming < n_bands (guaranteed recall);
    beyond that it is a RECALL-oriented candidate generator (the
    standard LSH trade). The exact Hamming filter verifies candidates.

    Band-count tuning is the corpus-size lever: tighter thresholds
    want FEWER, WIDER bands — for max_hamming=1, 2 x 32-bit bands
    keep guaranteed recall while making accidental bucket collisions
    ~2^16x rarer than 4 x 16-bit, which is the difference between a
    candidate join that scales and one that re-goes quadratic on a
    10^12-image corpus.

    `max_bucket` arms the _cap_buckets skew guard (drop whole band
    buckets larger than the cap BEFORE the join; their members are
    near-exact dups better collapsed by a distinct() upstream);
    `drop_observation` (a pyspark Observation) surfaces the drop
    counts eagerly at operator build — zeros when the cap is unarmed,
    so observation.get never blocks (see _cap_buckets). With the cap
    armed the first-collision-band dedup cannot apply (a pair's first
    shared band may be a dropped bucket), so the capped path dedups
    the verified pair stream with distinct() instead — the same
    contract as phash_neardup_against.

    `verify_col` is carried THROUGH the band join on both sides
    (riding the banding explode — see _banded_explode) and the output
    keeps only pairs whose two values are EQUAL, emitting the column.
    Paired with `partition_col` = a fingerprint of the same column,
    this is the one-join crossmodal shape: the fold makes cross-value
    candidates impossible, the carried equality rejects fingerprint
    collisions — no join-back against the corpus (which would be two
    extra shuffles of the full (id, value) projection at 10^12 rows;
    the streaming *_against path proved the carried shape first and
    the batch path now matches it).
    """
    carry = (verify_col,) if verify_col is not None else ()
    return _hamming_pairs(
        _banded_explode(images, id_col, phash, n_bands,
                        partition_col=partition_col, carry=carry),
        None, id_col, phash, n_bands, max_hamming, ("id_a", "id_b"),
        verify_col, max_bucket, drop_observation, hot_threshold,
    )


def crossmodal_neardup_pairs(images: DataFrame, max_hamming: int = 8,
                             id_col: str = "image_id",
                             phash: str = "phash",
                             caption: str = "caption",
                             n_bands: int = 4,
                             hot_threshold: int | None = 4096,
                             max_bucket: int | None = None,
                             drop_observation=None) -> DataFrame:
    """Joint caption+image near-duplicates over the image+caption
    table: pairs whose captions are IDENTICAL and whose phash Hamming
    distance is <= max_hamming — the classic web-crawl duplicate
    (same alt-text, re-encoded/resized image), which neither modality
    catches alone (exact caption dedup keeps both copies when the
    bytes differ; phash dedup alone merges distinct items that happen
    to look alike). Output: (id_a, id_b, hamming, <caption>).

    Scale design: the caption's rolling-hash fingerprint (the same
    Catalyst fold as text.with_fingerprint, < 2^31) is folded into
    every phash band bucket key via `partition_col`, so
      * cross-caption pairs never enter the candidate stream (vs
        intersecting two independently generated pair sets, which
        pays both full self-joins);
      * hot phash buckets (near-identical imagery) are split by
        caption BEFORE the skew guard sizes them — the tiling /
        max_bucket machinery then only sees same-caption crowds;
      * the one extra cost is a shift-or inside the existing band
        key expression: no extra shuffle, no extra scan.
    Fingerprint equality is necessary but not sufficient (mod-2^31
    collisions), so exact caption equality is verified on the CARRIED
    caption values (`verify_col` — the caption rides the banding
    explode on both sides and the verify is a column filter). The
    earlier join-back formulation re-joined the full (id, caption)
    projection onto the pair stream twice — two corpus-wide shuffles
    at 10^12 rows; the carried shape (proven first on the streaming
    path, where a join-back would be a stream-stream join) trades
    them for caption x n_bands bytes in the exploded frame.
    """
    from .text import with_fingerprint

    fp = with_fingerprint(
        images.select(id_col, phash, caption), text=caption, out="_cap_fp"
    )
    return phash_neardup_pairs(
        fp, max_hamming=max_hamming, id_col=id_col, phash=phash,
        n_bands=n_bands, hot_threshold=hot_threshold,
        max_bucket=max_bucket, drop_observation=drop_observation,
        partition_col="_cap_fp", verify_col=caption,
    )


def crossmodal_neardup_against(new_images: DataFrame, corpus: DataFrame,
                               max_hamming: int = 8,
                               id_col: str = "image_id",
                               phash: str = "phash",
                               caption: str = "caption",
                               n_bands: int = 4,
                               max_bucket: int | None = None,
                               hot_threshold: int = 4096,
                               drop_observation=None) -> DataFrame:
    """Incremental joint caption+image near-dup: (new_id, corpus_id,
    hamming, <caption>) pairs where the arriving image's caption
    EQUALS a kept image's caption and the phashes are within the
    Hamming ball — the ingest filter form of crossmodal_neardup_pairs
    ("is this incoming image+caption pair a re-encode of something we
    already keep?").

    Same scale design as the batch form: the caption fingerprint
    folds into the band bucket keys on both sides (cross-caption
    candidates never exist; hot corpus buckets are caption-split
    before the cap/tiling guard sees them). Exact caption equality is
    verified via carry-through (`verify_col`), not a join-back,
    because `new_images` may be a STREAMING frame (this is what
    streaming_crossmodal_matches passes) and joining captions back
    onto the pair stream would be a stream-stream join.
    """
    from .text import with_fingerprint

    def fp(df):
        return with_fingerprint(
            df.select(id_col, phash, caption), text=caption, out="_cap_fp"
        )

    return phash_neardup_against(
        fp(new_images), fp(corpus), max_hamming=max_hamming,
        id_col=id_col, phash=phash, n_bands=n_bands,
        max_bucket=max_bucket, hot_threshold=hot_threshold,
        drop_observation=drop_observation,
        partition_col="_cap_fp", verify_col=caption,
    )


def phash_group_labels(images: DataFrame, id_col: str = "image_id",
                       phash: str = "phash", max_hamming: int = 8,
                       max_iter: int = 50, n_bands: int = 4,
                       hot_threshold: int | None = 4096,
                       max_bucket: int | None = None,
                       drop_observation=None,
                       out: str = "_plabel") -> DataFrame:
    """images + one GROUP-KEY column `out` identifying each row's
    phash near-dup cluster — phash_components is this plus one
    min(id) window over `out`: `out` is a struct group key (solo = own
    id for NULL-hash singleton rows, lab = the min reachable hash
    value otherwise), valid for aggregation but NOT an image id.

    The curation pipelines' collapse primitive (see
    crossmodal_group_labels for the rationale): their next step is a
    groupBy + min_by that recovers the representative row and the
    cluster size anyway, so phash_components' window at image
    cardinality would compute a per-row answer only to immediately
    re-aggregate it. Same two-level shape:
    distinct hashes are the join nodes, the sparse label fold
    attaches the cluster key map-side whenever the edge set fit the
    driver union-find path."""
    ph_nonnull = images.filter(F.col(phash).isNotNull())
    distinct_ph = (
        ph_nonnull.select(F.col(phash).alias("ph")).distinct()
        .localCheckpoint(eager=False)
    )
    pairs = phash_neardup_pairs(
        distinct_ph.withColumn("pid", F.col("ph")),
        max_hamming=max_hamming, id_col="pid", phash="ph", n_bands=n_bands,
        hot_threshold=hot_threshold, max_bucket=max_bucket,
        drop_observation=drop_observation,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    mapping, bc = label_map(edges, max_iter)
    lab = _fold_labels(images, F.col(phash), mapping, bc, out="_lab")
    return lab.withColumn(
        out,
        F.struct(
            F.when(F.col(phash).isNull(), F.col(id_col)).alias("solo"),
            F.when(F.col(phash).isNotNull(), F.col("_lab")).alias("lab"),
        ),
    ).drop("_lab")


def _crossmodal_node_edges(nodes: DataFrame, max_hamming: int,
                           n_bands: int, hot_threshold: int | None,
                           max_bucket: int | None,
                           drop_observation) -> DataFrame:
    """Verified crossmodal edges over a DISTINCT (nid, cap, ph) node
    frame — crossmodal_group_labels' internal pair generator.

    The node key nid = cap || '|' || ph embeds the caption, so exact
    caption equality can be checked on the PAIR STREAM from the two
    nids (the phash suffix contains no '|', so the LAST '|' always
    splits unambiguously) instead of carrying the caption through the
    banded explode as a verify column — that carry cost caption bytes
    x n_bands x nodes x 2 sides through the band-join exchange
    (~20-25% of the exploded row) and existed only to be compared
    once per CANDIDATE, of which there are orders of magnitude fewer.
    The public crossmodal_neardup_pairs keeps the carried verify: its
    callers need the caption as an output column and the streaming
    form cannot re-derive it from arbitrary ids."""
    from .text import with_fingerprint

    fp = with_fingerprint(nodes, text="cap", out="_cap_fp")
    pairs = phash_neardup_pairs(
        fp.select("nid", "ph", "_cap_fp"), max_hamming=max_hamming,
        id_col="nid", phash="ph", n_bands=n_bands,
        hot_threshold=hot_threshold, max_bucket=max_bucket,
        drop_observation=drop_observation, partition_col="_cap_fp",
    )

    def cap_of(c):
        return F.expr(
            f"left({c}, length({c}) - "
            f"length(substring_index({c}, '|', -1)) - 1)"
        )

    # fingerprint equality admitted the candidate, the exact caption
    # (recovered from the node keys) decides — same verify semantics
    # as the carried-column form, evaluated per candidate pair
    return pairs.filter(cap_of("id_a") == cap_of("id_b")).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )


def crossmodal_group_labels(images: DataFrame, id_col: str = "image_id",
                            phash: str = "phash", caption: str = "caption",
                            max_hamming: int = 8, max_iter: int = 50,
                            n_bands: int = 4,
                            hot_threshold: int | None = 4096,
                            max_bucket: int | None = None,
                            drop_observation=None,
                            out: str = "_xlabel") -> DataFrame:
    """images + one GROUP-KEY column `out` identifying each row's
    joint caption+image near-dup cluster — crossmodal_components is
    this plus one min(id) window over `out`: `out` is a struct group
    key (solo = own id for NULL-caption/phash singleton rows, lab =
    the min reachable node key otherwise), valid for aggregation but
    NOT an image id.

    This is the collapse primitive the composed curation needs: its
    next step is a groupBy + min_by that recovers the representative
    row anyway, so materializing (image_id, component) first — the
    window at image cardinality crossmodal_components adds — would
    compute a per-row answer only to immediately re-aggregate it. The sparse label fold (label_map)
    attaches the cluster key map-side whenever the edge set fit the
    driver union-find path, so the whole crossmodal collapse costs
    one distinct, one band join, and the caller's one groupBy."""
    nonnull = F.col(phash).isNotNull() & F.col(caption).isNotNull()
    nodes = (
        images.filter(nonnull)
        .select(F.col(caption).alias("cap"), F.col(phash).alias("ph"))
        .distinct()
        .select(
            F.concat_ws("|", "cap", F.col("ph").cast("string")).alias("nid"),
            "cap", "ph",
        )
        .localCheckpoint(eager=False)
    )
    edges = _crossmodal_node_edges(
        nodes, max_hamming, n_bands, hot_threshold, max_bucket,
        drop_observation,
    )
    mapping, bc = label_map(edges, max_iter)
    nid = F.when(
        nonnull, F.concat_ws("|", F.col(caption), F.col(phash).cast("string"))
    )
    lab = _fold_labels(
        images.withColumn("_nid", nid), F.col("_nid"), mapping, bc, out="_lab"
    )
    return lab.withColumn(
        out,
        F.struct(
            # NULL cap/ph rows are singletons: their own id is the key
            # (lab stays NULL there — a NULL _nid matches nothing and
            # coalesces to NULL, which is exactly the empty slot)
            F.when(F.col("_nid").isNull(), F.col(id_col)).alias("solo"),
            F.col("_lab").alias("lab"),
        ),
    ).drop("_nid", "_lab")


def crossmodal_components(images: DataFrame, id_col: str = "image_id",
                          phash: str = "phash", caption: str = "caption",
                          max_hamming: int = 8, max_iter: int = 50,
                          n_bands: int = 4,
                          hot_threshold: int | None = 4096,
                          max_bucket: int | None = None,
                          drop_observation=None) -> DataFrame:
    """Joint caption+image near-duplicate clusters: (image_id,
    component) with component = the minimum image id reachable through
    VERIFIED crossmodal pairs (identical caption AND phash Hamming <=
    max_hamming) — pairs -> clusters for the crossmodal family, the
    same step lsh_components / phash_components provide for the text
    and image modalities.

    Same two-level 10^12 shape as phash_components, with the node
    collapsed one level further (crossmodal_group_labels):
    byte-identical (caption, phash) PAIRS dedup first (a million exact
    re-posts of one captioned image become ONE node), then the
    caption-folded band join + min-label propagation run over distinct
    nodes only, and each image inherits its cluster's min id — one min
    over a window partitioned by the group key. Because edges never
    cross captions (the fold makes cross-caption candidates
    impossible), every cluster lives inside one caption group by
    construction. NULL phash or NULL caption rows are singleton
    clusters (they cannot band-join).
    """
    from pyspark.sql import Window

    lab = crossmodal_group_labels(
        images.select(id_col, phash, caption), id_col, phash, caption,
        max_hamming, max_iter, n_bands, hot_threshold, max_bucket,
        drop_observation,
    )
    return lab.select(
        id_col,
        F.min(id_col).over(Window.partitionBy("_xlabel")).alias("component"),
    )
