"""Skew guards for the dedup joins: a degenerate corpus (many identical
docs -> one mega band-bucket / hot shingle) must complete in bounded
time with the cap on, and the truncation must be VISIBLE via stats."""

import pytest
from pyspark.sql import functions as F

from segment_rtree_spark.operators.dedup import (
    lsh_bucket_stats,
    lsh_pairs,
    ngram_jaccard_pairs,
)


@pytest.fixture(scope="module")
def degenerate_docs(spark):
    # 10k identical docs: every band key collides -> without a cap the
    # self-join would be ~10k^2/2 = 50M pairs in ONE task.
    return spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same short document every single time").alias("text"),
    )


def test_lsh_cap_drops_mega_bucket(spark, degenerate_docs):
    pairs = lsh_pairs(degenerate_docs, max_bucket=100)
    assert pairs.count() == 0  # both buckets exceed the cap

    stats = lsh_bucket_stats(degenerate_docs, max_bucket=100).collect()
    assert len(stats) == 2  # 2 bands, one bucket each
    assert all(r["bucket_n"] == 10_000 and r["truncated"] for r in stats)


def test_lsh_cap_keeps_small_buckets(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "totally different words here")],
        "doc_id long, text string",
    )
    capped = sorted(lsh_pairs(docs, max_bucket=100).collect())
    uncapped = sorted(lsh_pairs(docs).collect())
    assert capped == uncapped  # cap far above any bucket -> identical output
    assert (1, 2) in {(r["doc_a"], r["doc_b"]) for r in capped}


def test_ngram_max_df_guard(spark, degenerate_docs):
    # every shingle has df=10k; with the ceiling the index side empties
    out = ngram_jaccard_pairs(degenerate_docs, max_df=50)
    assert out.count() == 0

    # and a small corpus below the ceiling is unaffected
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "q w e r t")],
        "doc_id long, text string",
    )
    with_cap = sorted(ngram_jaccard_pairs(docs, max_df=50).collect())
    without = sorted(ngram_jaccard_pairs(docs).collect())
    assert with_cap == without


def _uf_components(pairs, nodes):
    """Driver-side union-find oracle over an explicit pair list."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_lsh_components_equal_pair_graph(spark):
    """Star edges preserve bucket connectivity: components from the
    O(n)-edge star graph == union-find over the full O(n^2) pair list."""
    from segment_rtree_spark.operators.dedup import lsh_components

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    nodes = [r["doc_id"] for r in docs.select("doc_id").collect()]
    pairs = [(r["doc_a"], r["doc_b"]) for r in lsh_pairs(docs).collect()]
    expected = _uf_components(pairs, nodes)

    got = {
        r["doc_id"]: r["component"]
        for r in lsh_components(docs).collect()
    }
    assert got == expected


def test_lsh_components_respects_bucket_cap(spark, degenerate_docs):
    from segment_rtree_spark.operators.dedup import lsh_components

    # with every bucket over the cap no edges survive: all singletons
    out = lsh_components(degenerate_docs, max_bucket=100)
    assert out.filter(F.col("doc_id") != F.col("component")).count() == 0
    assert out.count() == 10_000


def test_label_propagate_random_graphs(spark):
    """Seeded random graphs: label_propagate == union-find, including
    long chains (worst-case diameter for the iteration count)."""
    import numpy as np

    from segment_rtree_spark.operators.dedup import label_propagate

    rng = np.random.default_rng(7)
    for trial in range(4):
        n = 60
        nodes = list(range(n))
        if trial == 3:
            edges = [(i, i + 1) for i in range(n - 1)]  # one long chain
        else:
            m = int(rng.integers(0, 50))
            edges = [
                (int(a), int(b))
                for a, b in rng.integers(0, n, size=(m, 2))
                if a != b
            ]
        expected = _uf_components(
            [(min(a, b), max(a, b)) for a, b in edges], nodes
        )
        ndf = spark.createDataFrame([(i,) for i in nodes], "node long")
        if edges:
            edf = spark.createDataFrame(edges, "src long, dst long")
        else:
            edf = spark.createDataFrame([], "src long, dst long")
        got = {r["node"]: r["label"] for r in label_propagate(ndf, edf).collect()}
        assert got == expected, f"trial {trial}"
        # driver_edges=0 forces the distributed pointer-doubling loop;
        # the default takes the driver union-find fast path — both
        # must agree with the reference exactly
        loop = {
            r["node"]: r["label"]
            for r in label_propagate(ndf, edf, driver_edges=0).collect()
        }
        assert loop == expected, f"trial {trial} (distributed loop)"


def test_tiled_self_join_matches_plain(spark):
    """Hot-bucket tiling + first-collision-band emission must produce
    exactly the distinct pair set of the plain join (each pair once,
    no matter how many bands or tiles it collides in)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from segment_rtree_spark.operators.dedup import lsh_pairs

    # 300 identical docs (one mega bucket in every band, forced hot by
    # the tiny threshold below) + 50 unique docs
    texts = ["the same exact doc"] * 300 + [f"unique doc number {i} xyz{i}" for i in range(50)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    from segment_rtree_spark.operators import dedup as D

    ex = D._lsh_exploded(docs, "doc_id", "text", 4, with_keys=True)
    tiled = (
        D._tiled_self_join(ex, "doc_id", hot_threshold=64)
        .filter(F.expr(D._first_band_pred(2)))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    plain = lsh_pairs(docs, max_bucket=10**9)  # capped path = distinct()
    t = tiled.toPandas()
    assert t.duplicated(["doc_a", "doc_b"]).sum() == 0
    assert len(t) >= 300 * 299 // 2  # at least the identical-doc clique
    assert tiled.exceptAll(plain).count() == 0
    assert plain.exceptAll(tiled).count() == 0


def test_tiled_self_join_max_tiling(spark):
    """hot_threshold=1 pushes every bucket through the tiled path with
    maximal g: pair completeness must survive extreme tiling (every
    ordered pair still meets in exactly one tile)."""
    import pandas as pd

    from segment_rtree_spark.operators import dedup as D

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "text": ["same doc text"] * 40})
    )
    ex = D._lsh_exploded(docs, "doc_id", "text", 4, with_keys=True)
    out = D._tiled_self_join(ex, "doc_id", hot_threshold=1)
    assert out.count() == 2 * (40 * 39 // 2)  # both bands, pre-first-band-filter


def test_first_band_pred_shapes():
    from segment_rtree_spark.operators.dedup import _first_band_pred

    assert _first_band_pred(1) == "true"
    assert _first_band_pred(2) == "(a.bi <= 0 or a.keys[0] != b.keys[0])"
    assert "a.keys[2]" in _first_band_pred(4)


def test_simhash_trimmed_bits_match_full(spark):
    """simhash64 aggregates only TOKEN_MOD-width bits; verify against
    an explicit full-60-bit recompute on a real corpus slice."""
    import pandas as pd

    from segment_rtree_spark.operators.dedup import simhash64, _tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    got = simhash64(docs).toPandas().set_index("doc_id")["simhash"]
    toks = _tokens(docs, "doc_id", "text").toPandas()
    for doc_id, grp in toks.groupby("doc_id"):
        h = grp["h"].to_numpy()
        n = len(h)
        want = 0
        for b in range(60):
            if int(((h >> b) & 1).sum()) * 2 > n:
                want |= 1 << b
        assert got[doc_id] == want


def test_minhash_kernel_expr_parity(spark):
    """The Arrow signature kernel must be bit-identical to the
    pure-Catalyst twin: same md5-prefix token hash, same permutation
    minima — on the real corpus AND on edge texts (empty string,
    repeated single token, NULL text which yields no row on either
    path, and multi-space runs whose empty tokens both paths keep)."""
    import pandas as pd

    from segment_rtree_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = minhash_signatures(docs, impl="expr").toPandas()
    b = minhash_signatures(docs, impl="kernel").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b) and len(a) == docs.count()

    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": ["", "tok tok tok", None, "a  b   c", "solo"],
            }
        )
    )
    ae = minhash_signatures(edge, impl="expr").toPandas().sort_values("doc_id").reset_index(drop=True)
    be = minhash_signatures(edge, impl="kernel").toPandas().sort_values("doc_id").reset_index(drop=True)
    assert ae.equals(be)
    assert set(ae["doc_id"]) == {1, 2, 4, 5}  # NULL text drops its row


def test_minhash_kernel_id_exact_beside_a_null(spark):
    """A 64-bit doc id stays exact when a NULL id shares its Arrow batch
    (a pandas round trip widened it to float64 and rounded 2^62+1); the
    kernel's rows equal the Catalyst twin's."""
    from segment_rtree_spark.operators.dedup import minhash_signatures

    big = (1 << 62) + 1
    docs = spark.createDataFrame(
        [(big, "a b c"), (None, "d e")], "doc_id long, text string"
    ).coalesce(1)
    got = {tuple(r) for r in minhash_signatures(docs).collect()}
    assert {r[0] for r in got} == {big, None}
    assert got == {tuple(r) for r in minhash_signatures(docs, impl="expr").collect()}


def test_incremental_pairs_match_full_self_join(spark):
    """lsh_pairs_against(new, corpus) must equal the cross-side subset
    of lsh_pairs(all docs): incremental ingest finds exactly the
    new-vs-kept duplicates the full self-join would, never more."""
    from pyspark.sql import functions as F

    from segment_rtree_spark.operators.dedup import lsh_pairs, lsh_pairs_against

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    inc = {
        (r["new_id"], r["corpus_id"])
        for r in lsh_pairs_against(new, corpus).collect()
    }
    full = lsh_pairs(docs).collect()
    cross = set()
    for r in full:
        a, b = r["doc_a"], r["doc_b"]
        if (a % 5 == 0) != (b % 5 == 0):  # one side new, one corpus
            cross.add((a, b) if a % 5 == 0 else (b, a))
    assert inc == cross and inc


def test_phash_incremental_matches_full(spark):
    """phash_neardup_against == cross-side subset of the full pair set
    (same bands, same Hamming verify)."""
    from pyspark.sql import functions as F

    from segment_rtree_spark.operators.dedup import (
        phash_neardup_against,
        phash_neardup_pairs,
    )
    from segment_rtree_spark.synth import images_df_arith

    imgs = images_df_arith(spark, 400)
    new = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) == 0)
    corpus = imgs.filter(F.col("phash").bitwiseAND(F.lit(1)) != 0)
    inc = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in phash_neardup_against(new, corpus, max_hamming=16).collect()
    }
    parity = {r["image_id"]: r["phash"] & 1 for r in imgs.select("image_id", "phash").collect()}
    cross = set()
    for r in phash_neardup_pairs(imgs, max_hamming=16).collect():
        a, b, h = r["id_a"], r["id_b"], r["hamming"]
        if parity[a] != parity[b]:
            cross.add((a, b, h) if parity[a] == 0 else (b, a, h))
    assert inc == cross and inc


def test_tiled_join_bounds_hot_bucket_tasks(spark):
    """Two-sided hot-bucket tiling: a new batch and a corpus sharing
    ONE band key must split into g_a x g_b bounded tiles, every cross
    pair meeting in EXACTLY one tile (no dups, no losses)."""
    from collections import Counter

    from segment_rtree_spark.operators.dedup import _tiled_join

    a = spark.range(600).select(
        F.col("id").alias("new_id"), F.lit(0).alias("band"), F.lit("k").alias("bkey")
    )
    b = spark.range(400).select(
        (F.col("id") + 10_000).alias("corpus_id"),
        F.lit(0).alias("band"),
        F.lit("k").alias("bkey"),
    )
    rows = (
        _tiled_join(a, b, "new_id", "corpus_id", hot_threshold=100)
        .select("new_id", "corpus_id", "i", "j")
        .collect()
    )
    pairs = {(r["new_id"], r["corpus_id"]) for r in rows}
    assert len(rows) == len(pairs) == 600 * 400  # exactly-once per pair
    tiles = Counter((r["i"], r["j"]) for r in rows)
    assert len(tiles) == 24  # g_a=6 x g_b=4 sub-tasks, not one task
    # per-task pair budget held up to hash-salting variance (groups
    # are ~n/g, not exactly n/g): every tile far below the 240k
    # single-task blowup, within 2x of the T^2 budget
    assert max(tiles.values()) <= 2 * 100 * 100


def test_tiled_join_cold_path_untouched(spark):
    """No bucket over the pair budget -> the plain equi-join (no tile
    columns, no replication)."""
    from segment_rtree_spark.operators.dedup import _tiled_join

    a = spark.range(50).select(
        F.col("id").alias("new_id"), F.lit(0).alias("band"), F.lit("k").alias("bkey")
    )
    b = spark.range(40).select(
        (F.col("id") + 100).alias("corpus_id"),
        F.lit(0).alias("band"),
        F.lit("k").alias("bkey"),
    )
    out = _tiled_join(a, b, "new_id", "corpus_id", hot_threshold=100)
    assert "i" not in out.columns and out.count() == 50 * 40


def test_phash_incremental_hot_bucket_end_to_end(spark):
    """Degenerate corpus (every image one phash) through the tiled
    incremental path == the plain-join result, with tiling forced on
    via a tiny hot_threshold."""
    from segment_rtree_spark.operators.dedup import phash_neardup_against

    new = spark.range(300).select(
        F.concat(F.lit("n"), F.col("id")).alias("image_id"),
        F.lit(0x1234).cast("long").alias("phash"),
    )
    corp = spark.range(200).select(
        F.concat(F.lit("c"), F.col("id")).alias("image_id"),
        F.lit(0x1234).cast("long").bitwiseXOR((F.col("id") % 2).cast("long")).alias("phash"),
    )
    tiled = phash_neardup_against(new, corp, max_hamming=2, hot_threshold=50)
    plain = phash_neardup_against(new, corp, max_hamming=2, hot_threshold=10**6)
    t = {tuple(r) for r in tiled.collect()}
    p = {tuple(r) for r in plain.collect()}
    assert t == p and len(t) == 300 * 200


def test_lsh_incremental_hot_bucket_end_to_end(spark):
    """Identical-text ingest (all docs share every band key) tiles the
    new-vs-corpus band join and still emits each cross pair once."""
    from segment_rtree_spark.operators.dedup import lsh_pairs_against

    new = spark.range(150).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
    )
    corp = spark.range(100).select(
        (F.col("id") + 1000).alias("doc_id"), F.lit("a b c d e").alias("text")
    )
    got = lsh_pairs_against(new, corp, hot_threshold=32)
    assert got.count() == 150 * 100
    assert got.distinct().count() == 150 * 100


def test_ngram_auto_df_guard(spark):
    """max_df defaults to 'auto': stopword-phrase shingles (df > cap)
    are dropped WITHOUT caller opt-in, so the degenerate corpus runs
    bounded; max_df=None re-arms the unguarded path."""
    from segment_rtree_spark.operators.dedup import ngram_jaccard_pairs

    hot = spark.range(1100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the quick brown fox t"), F.col("id")).alias("text"),
    )
    # the two corpus-wide trigrams exceed the auto cap (1100 > 1000)
    # and leave the index; the remaining shingle is unique per doc
    assert ngram_jaccard_pairs(hot, threshold=0.01).count() == 0
    small = hot.limit(50)
    # under the auto cap (df=50 <= 1000) the same corpus pairs freely
    assert ngram_jaccard_pairs(small, threshold=0.01).count() == 50 * 49 // 2


def test_tiled_join_random_parity(spark):
    """Randomized bucket structures: the tiled two-sided join equals
    the plain equi-join pair set for every hot/cold mix (tiny
    hot_threshold forces tiling on most buckets)."""
    import random

    from segment_rtree_spark.operators.dedup import _tiled_join

    rnd = random.Random(13)
    rows_a, rows_b = [], []
    for band in range(3):
        for bk in range(6):
            key = f"k{bk}"
            for i in range(rnd.randint(0, 40)):
                rows_a.append((rnd.randint(0, 10_000), band, key))
            for i in range(rnd.randint(0, 40)):
                rows_b.append((20_000 + rnd.randint(0, 10_000), band, key))
    a = spark.createDataFrame(rows_a, "new_id long, band int, bkey string").distinct()
    b = spark.createDataFrame(rows_b, "corpus_id long, band int, bkey string").distinct()
    plain = {
        (r["new_id"], r["corpus_id"])
        for r in a.alias("a").join(b.alias("b"), ["band", "bkey"])
        .select("new_id", "corpus_id").collect()
    }
    tiled = [
        (r["new_id"], r["corpus_id"])
        for r in _tiled_join(a, b, "new_id", "corpus_id", hot_threshold=8)
        .select("new_id", "corpus_id").collect()
    ]
    # NOTE: plain pairs sharing several bands appear once per shared
    # band in both formulations; compare multisets via sorted lists
    plain_ms = sorted(
        (r["new_id"], r["corpus_id"])
        for r in a.alias("a").join(b.alias("b"), ["band", "bkey"])
        .select("new_id", "corpus_id").collect()
    )
    assert sorted(tiled) == plain_ms
    assert set(tiled) == plain


def test_simhash_neardup_pairs(spark):
    """Full-width simhash Hamming pairs: exact dups at hamming 0,
    light perturbations inside the ball, unrelated docs absent."""
    from segment_rtree_spark.operators.dedup import simhash_neardup_pairs

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain keeps falling on the quiet grey town").split()
    perturbed = list(base)
    perturbed[3] = "wolf"  # one token swap: few sign flips on long docs
    docs = spark.createDataFrame(
        [
            (1, " ".join(base)),
            (2, " ".join(base)),          # exact dup of 1
            (3, " ".join(perturbed)),     # near dup of 1
            (4, "completely different content about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, max_hamming=8).collect()
    }
    assert got[(1, 2)] == 0
    assert (1, 3) in got and got[(1, 3)] <= 8
    assert not any(4 in p for p in got)


def test_drop_observation_counts_capped_corpus_buckets(spark):
    """drop_observation makes the max_bucket guard observable in-band:
    after one action on the result, observation.get carries the count
    of dropped corpus band buckets and rows — no separate stats run."""
    from pyspark.sql import Observation

    from segment_rtree_spark.operators.dedup import phash_neardup_against

    hot = spark.range(40).select(
        F.concat(F.lit("h"), F.col("id")).alias("image_id"),
        F.lit(0x0F0F0F0F0F0F0F0F).alias("phash"),
    )
    cold = spark.range(5).select(
        F.concat(F.lit("c"), F.col("id")).alias("image_id"),
        (F.col("id") * 3 + 1).alias("phash"),
    )
    corpus = hot.unionAll(cold)
    new = spark.createDataFrame(
        [("n0", 0x0F0F0F0F0F0F0F0F), ("n1", 4)], "image_id string, phash long"
    )
    obs = Observation("corpus_drops")
    out = phash_neardup_against(
        new, corpus, max_hamming=16, max_bucket=10, drop_observation=obs
    )
    rows = out.collect()  # the action that materializes the metrics
    # all 4 bands of the 40-image pile exceed the cap of 10
    assert obs.get == {"dropped_buckets": 4, "dropped_rows": 160}
    assert not any(r["new_id"] == "n0" for r in rows)  # pile dropped
    assert any(r["new_id"] == "n1" for r in rows)      # cold side intact

    # healthy corpus: guard armed but nothing over cap -> zero metrics
    obs2 = Observation("no_drops")
    phash_neardup_against(
        new, cold, max_hamming=16, max_bucket=10, drop_observation=obs2
    ).collect()
    assert obs2.get == {"dropped_buckets": 0, "dropped_rows": 0}


@pytest.mark.parametrize(
    "op",
    ["lsh_pairs", "lsh_pairs_against", "phash_neardup_against",
     "crossmodal_neardup_against"],
)
def test_unarmed_drop_observation_reads_zeros(spark, op):
    """With max_bucket=None every pair operator still fills its
    drop_observation (zeros, at build), so observation.get never
    blocks on a metric no cap will ever fire."""
    from pyspark.sql import Observation

    from segment_rtree_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"doc {i % 3} tokens") for i in range(6)], "doc_id long, text string"
    )
    imgs = spark.createDataFrame(
        [(f"i{i}", i * 3, f"cap {i % 2}") for i in range(6)],
        "image_id string, phash long, caption string",
    )
    obs = Observation(f"unarmed_{op}")
    fn = getattr(D, op)
    if op == "lsh_pairs":
        fn(docs, max_bucket=None, drop_observation=obs)
    elif op == "lsh_pairs_against":
        fn(docs, docs, max_bucket=None, drop_observation=obs)
    else:
        fn(imgs, imgs, max_bucket=None, drop_observation=obs)
    assert obs.get == {"dropped_buckets": 0, "dropped_rows": 0}


def test_phash_band_stats_matches_bruteforce(spark):
    """phash_band_stats (band, bkey, bucket_n, truncated) equals a
    brute-force python recount of the band split."""
    import collections

    import numpy as np
    import pandas as pd

    from segment_rtree_spark.operators.dedup import phash_band_stats

    rng = np.random.default_rng(7)
    hashes = [int(x) for x in rng.integers(0, 2**63, size=200)]
    hashes += [hashes[0]] * 30  # one hot pile
    pdf = pd.DataFrame(
        {"image_id": [f"i{k}" for k in range(len(hashes))],
         "phash": np.array(hashes, np.int64)}
    )
    got = {
        (r["band"], r["bkey"]): (r["bucket_n"], r["truncated"])
        for r in phash_band_stats(
            spark.createDataFrame(pdf), n_bands=4, max_bucket=20
        ).collect()
    }
    want = collections.Counter()
    for h in hashes:
        for b in range(4):
            want[(b, (h >> (16 * b)) & 0xFFFF)] += 1
    assert {k: v[0] for k, v in got.items()} == dict(want)
    for k, (n, trunc) in got.items():
        assert trunc == (n > 20)


def test_crossmodal_neardup_matches_bruteforce(spark):
    """crossmodal_neardup_pairs == brute force (identical caption AND
    hamming <= t) on a random corpus with duplicate captions. The
    corpus confines within-caption xors to the low bits of band 0, so
    banding has full recall and the brute-force set is the complete
    semantic answer."""
    import itertools

    import numpy as np

    from segment_rtree_spark.operators.dedup import crossmodal_neardup_pairs

    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        g = i % 23
        base = int(rng.integers(0, 1 << 60)) if g == 0 and i < 23 else None
        rows.append((f"im{i:04d}", f"caption {g}",
                     (int(np.random.default_rng(g).integers(0, 1 << 60))
                      ^ int(rng.integers(0, 16)))))
    df = spark.createDataFrame(rows, "image_id string, caption string, phash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"], r["caption"])
        for r in crossmodal_neardup_pairs(df, max_hamming=8).collect()
    }
    want = set()
    for (ia, ca, pa), (ib, cb, pb) in itertools.combinations(rows, 2):
        if ca == cb:
            h = bin(pa ^ pb).count("1")
            if h <= 8:
                a, b = sorted((ia, ib))
                want.add((a, b, h, ca))
    got_norm = {(min(a, b), max(a, b), h, c) for a, b, h, c in got}
    assert got_norm == want and len(want) > 50


def test_crossmodal_fingerprint_collision_excluded(spark):
    """'bA' and 'a`' share the rolling-hash fingerprint (98*31+65 ==
    97*31+96 == 3103): the folded band keys collide, so the pair
    ENTERS the candidate stream — the exact-caption verify must drop
    it. Same phash makes hamming 0, the easiest pair to admit."""
    from segment_rtree_spark.operators.text import with_fingerprint
    from segment_rtree_spark.operators.dedup import crossmodal_neardup_pairs

    rows = [("x1", "bA", 7), ("x2", "a`", 7), ("x3", "bA", 6)]
    df = spark.createDataFrame(rows, "image_id string, caption string, phash long")
    fps = {r["caption"]: r["fp"]
           for r in with_fingerprint(df, text="caption", out="fp").collect()}
    assert fps["bA"] == fps["a`"]  # the premise: a real collision
    got = [(r["id_a"], r["id_b"], r["hamming"], r["caption"])
           for r in crossmodal_neardup_pairs(df, max_hamming=8).collect()]
    # only the same-caption pair survives; the collision pair is gone
    assert got == [("x1", "x3", 1, "bA")]


def test_partition_fold_wide_bands(spark):
    """partition_col with n_bands=2 (32-bit band keys): the (fp <<
    width) | key fold must stay inside a signed long at the widest
    band setting (fp < 2^31, width 32 -> 63 bits)."""
    from segment_rtree_spark.operators.dedup import crossmodal_neardup_pairs

    rows = [
        ("a1", "same cap", (1 << 59) ^ 3),
        ("a2", "same cap", (1 << 59) ^ 5),
        ("b1", "other cap", (1 << 59) ^ 3),
    ]
    df = spark.createDataFrame(rows, "image_id string, caption string, phash long")
    got = crossmodal_neardup_pairs(df, max_hamming=8, n_bands=2).collect()
    # phashes differ by 3^5 = 0b110 -> hamming 2; the cross-caption
    # row shares a1's exact phash but must not pair
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [
        ("a1", "a2", 2)
    ]


def test_crossmodal_against_matches_bruteforce(spark):
    """Incremental crossmodal == brute force (caption equal AND
    hamming <= t, new x corpus), including a cross-side fingerprint
    collision that must be generated then rejected by the carried-
    column verify."""
    import numpy as np

    from segment_rtree_spark.operators.dedup import crossmodal_neardup_against

    rng = np.random.default_rng(13)
    mk = lambda n, pre: [
        (f"{pre}{j:03d}", f"cap {j % 11}",
         int(np.random.default_rng(j % 11).integers(0, 1 << 60))
         ^ int(rng.integers(0, 16)))
        for j in range(n)
    ]
    new = mk(60, "n")
    # collision pair across sides: captions 'bA'/'a`' share fp 3103
    new.append(("nCOLL", "bA", 12345))
    corp = mk(80, "c") + [("cCOLL", "a`", 12345)]
    ndf = spark.createDataFrame(new, "image_id string, caption string, phash long")
    cdf = spark.createDataFrame(corp, "image_id string, caption string, phash long")
    got = {
        (r["new_id"], r["corpus_id"], r["hamming"], r["caption"])
        for r in crossmodal_neardup_against(ndf, cdf, max_hamming=8).collect()
    }
    want = {
        (ia, ib, bin(pa ^ pb).count("1"), ca)
        for ia, ca, pa in new for ib, cb, pb in corp
        if ca == cb and bin(pa ^ pb).count("1") <= 8
    }
    assert got == want and len(want) > 20
    assert not any(a == "nCOLL" for a, _, _, _ in got)


def test_crossmodal_components_bruteforce(spark):
    """Joint caption+image clusters == brute-force union-find over
    (caption equal AND hamming <= t) pairs, including exact-duplicate
    (caption, phash) rows collapsing to one node and NULL rows as
    singletons."""
    import numpy as np

    from segment_rtree_spark.operators.dedup import crossmodal_components

    rng = np.random.default_rng(7)
    rows = []
    for j in range(120):
        g = j % 9
        ph = (g * 2654435761) ^ int(rng.integers(0, 8))
        rows.append((f"i{j:03d}", f"cap {g % 5}", ph))
    rows += [("iDUP1", "cap 0", rows[0][2]), ("iDUP2", "cap 0", rows[0][2])]
    rows += [("iNULL1", None, 42), ("iNULL2", "cap 1", None)]
    df = spark.createDataFrame(
        rows, "image_id string, caption string, phash long"
    )

    got = {
        (r["image_id"], r["component"])
        for r in crossmodal_components(df, max_hamming=8).collect()
    }

    # brute force
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    valid = [(i, c, p) for i, c, p in rows if c is not None and p is not None]
    for a in range(len(valid)):
        for b in range(a + 1, len(valid)):
            ia, ca, pa = valid[a]
            ib, cb, pb = valid[b]
            if ca == cb and bin(pa ^ pb).count("1") <= 8:
                parent[find(ia)] = find(ib)
    comp = {}
    for i, _, _ in valid:
        comp.setdefault(find(i), []).append(i)
    want = {
        (i, min(members))
        for members in comp.values()
        for i in members
    }
    want |= {("iNULL1", "iNULL1"), ("iNULL2", "iNULL2")}
    assert got == want
    # the seeded corpus must actually exercise multi-row clusters
    assert len({c for _, c in want}) < len(want)
