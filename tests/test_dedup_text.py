"""Tests for the dedup family + text functions."""

from pyspark.sql import functions as F

from vector_search_spark.functions.text import poly_hash
from vector_search_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    tokenset_fingerprint,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps", "s0"),
        (2, "the quick brown fox jumps", "s0"),          # exact dup of 1
        (3, "jumps fox brown quick the the", "s0"),      # same token set as 1
        (4, "completely different words here now", "s0"),
        (5, "the quick brown fox leaps", "s0"),          # near dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_tokenset_fingerprint_order_insensitive(spark):
    fp = {
        r.doc_id: r.fingerprint
        for r in tokenset_fingerprint(_docs(spark), "text", "doc_id").collect()
    }
    assert fp[1] == fp[2] == fp[3]
    assert fp[1] != fp[4]


def test_jaccard_pairs_exact(spark):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(_docs(spark), "text", "doc_id", ["source"], 0.5).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 1.0
    # {the,quick,brown,fox,jumps} vs {the,quick,brown,fox,leaps}: 4/6
    assert abs(got[(1, 5)] - 4 / 6) < 1e-9
    assert (1, 4) not in got


def test_lsh_sound_and_finds_exact_dups(spark):
    # soundness: every emitted pair really has jaccard >= threshold;
    # exact duplicates (jaccard 1.0) always collide in every band.
    for hash_fn in ("poly", "xxhash64"):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in minhash_lsh_pairs(
                _docs(spark), "text", "doc_id", 16, 4, 0.5, hash_fn
            ).collect()
        }
        assert got[(1, 2)] == 1.0
        assert got[(1, 3)] == 1.0
        for j in got.values():
            assert j >= 0.5


def test_lsh_subset_of_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, "text", "doc_id", [], 0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "text", "doc_id", 16, 4, 0.5).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) > 0.5  # decent recall at these params


def test_minhash_probe_equals_two_stage_lsh(spark, sf_dir, tmp_path):
    """The persisted MinHash index's probe (its batch shingled, hashed and
    signed in ONE fused Arrow pass) finds exactly the (batch, corpus)
    pairs and Jaccard values that the two-stage ``minhash_lsh_pairs``
    finds over corpus ∪ batch: same sets, same signatures, same band
    keys. Writing the index again to the same path replaces it: one base
    directory holding ``bands/`` and ``sets/`` stays."""
    import os

    from vector_search_spark.operators.dedup import (
        minhash_index_write,
        minhash_probe_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_new = F.col("doc_id") % 5 == 0
    batch = docs.filter(is_new)
    path = str(tmp_path / "mh_idx")
    minhash_index_write(batch, "text", "doc_id", path)  # replaced below
    minhash_index_write(docs.filter(~is_new), "text", "doc_id", path)
    assert sorted(os.listdir(path)) == ["_MARKER", "base-1"]
    assert sorted(os.listdir(os.path.join(path, "base-1"))) == ["bands", "sets"]

    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in minhash_probe_pairs(
            spark, path, batch, "text", "doc_id", 0.5
        ).collect()
    }
    new_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    want = {}
    for r in minhash_lsh_pairs(
        docs, "text", "doc_id", 16, 4, 0.5, shingle_n=3
    ).collect():
        if (r.id_a in new_ids) != (r.id_b in new_ids):
            pair = (r.id_a, r.id_b) if r.id_a in new_ids else (r.id_b, r.id_a)
            want[pair] = r.jaccard
    assert got and got == want


def test_poly_hash_deterministic_and_spread(spark):
    df = spark.createDataFrame([("a",), ("b",), ("ab",), ("ba",), ("a",)], ["s"])
    vals = [r.h for r in df.select(poly_hash("s").alias("h")).collect()]
    assert vals[0] == vals[4]
    assert len({vals[0], vals[1], vals[2], vals[3]}) == 4
    assert all(0 <= v < 1_000_000_007 for v in vals)


def test_word_shingles_expression_matches_arrow_impl(spark, sf_dir):
    """The expression-variant word_shingles and the Arrow shingle stage in
    dedup._unit_sets must produce the same shingle SETS — both mirror the
    _DUCK_SHINGLES3 oracle, so divergence would break parity silently."""
    from pyspark.sql import functions as F

    from vector_search_spark.functions.text import word_shingles
    from vector_search_spark.operators.dedup import _unit_sets
    from vector_search_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100)
    expr = {
        r.doc_id: frozenset(r.tk)
        for r in docs.select("doc_id", word_shingles("text", 3).alias("tk")).collect()
    }
    arrow = {
        r.id: frozenset(r.tk)
        for r in _unit_sets(docs, "text", "doc_id", 3).collect()
    }
    assert expr == arrow and len(expr) == 100


def test_jaccard_max_block_size_small_blocks_unchanged(spark):
    """With every block under the bound, the guarded path must be EXACTLY
    the unguarded result (guard only reroutes oversized blocks)."""
    docs = _docs(spark)
    plain = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, "text", "doc_id", ["source"], 0.5).collect()
    }
    guarded = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            docs, "text", "doc_id", ["source"], 0.5, max_block_size=100
        ).collect()
    }
    assert plain == guarded


def test_jaccard_max_block_size_oversized_block_degrades_soundly(spark, sf_dir):
    """A block over the bound switches to MinHash-banded candidates: the
    result must be a SUBSET of the exact pairs (exact precision), keep
    every exact-duplicate pair (jaccard 1.0 collides in all bands), and
    retain decent recall on the planted near-dups."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, "text", "doc_id", [], 0.5, shingle_n=3).collect()
    }
    # one global block of 200 docs > bound of 50 -> the LSH path handles all
    guarded = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            docs, "text", "doc_id", [], 0.5, shingle_n=3, max_block_size=50
        ).collect()
    }
    assert set(guarded) <= set(exact)
    for pair, j in guarded.items():
        assert j == exact[pair]  # identical exact re-rank values
    full = {p for p, j in exact.items() if j == 1.0}
    assert full <= set(guarded)
    if exact:
        assert len(guarded) / len(exact) > 0.5


def test_jaccard_max_block_size_hashed_units(spark, sf_dir):
    """The guard must also work with hashed shingle units (prehashed
    signature path)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(
            docs, "text", "doc_id", [], 0.5, shingle_n=3, hashed=True
        ).collect()
    }
    guarded = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(
            docs, "text", "doc_id", [], 0.5, shingle_n=3, hashed=True,
            max_block_size=40,
        ).collect()
    }
    assert guarded <= exact


def test_embedding_neardup_adaptive_width(spark):
    """The guarded path's sub-bucket bit width must GROW with block size
    (round 11): a block of ~64x the bound gets ceil_log2(64)=6 bits even
    when n_planes (the floor) is 2, so expected sub-bucket size stays
    ~bound at any skew — a fixed plane count would leave a hot block
    quadratic. Pinned by replaying the mask arithmetic on the operator's
    own bucketed pair output: with k bits, any pair's signatures agree on
    bits 0..k-1 of the full 20-plane signature."""
    import numpy as np

    from vector_search_spark.operators.ann import make_planes
    from vector_search_spark.operators.dedup import (
        ADAPTIVE_PLANES_MAX,
        embedding_neardup_pairs,
    )

    rng = np.random.RandomState(7)
    dim = 8
    hot = [(i, "hot", [float(x) for x in rng.randn(dim)]) for i in range(640)]
    cold = [
        (1000 + i, "cold", [float(x) for x in rng.randn(dim)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(
        hot + cold, "vec_id long, label string, embedding array<float>"
    )
    pairs = embedding_neardup_pairs(
        emb, "embedding", "vec_id", "label", -1.0,
        max_block_size=10, n_planes=2, dim=dim,
    ).collect()
    # expected widths: hot m=64 -> k=6; cold m=3 -> k=2 (floor also 2)
    P = np.asarray(make_planes(ADAPTIVE_PLANES_MAX, dim, 42)).T
    pw = 1 << np.arange(ADAPTIVE_PLANES_MAX, dtype=np.int64)
    vecs = {r[0]: np.array(r[2], dtype=np.float64) for r in hot + cold}
    sig = {i: int(((v @ P) > 0) @ pw) for i, v in vecs.items()}
    k_of = {"hot": 6, "cold": 2}
    got_blocks = set()
    for r in pairs:
        k = k_of[r.block]
        mask = (1 << k) - 1
        assert sig[r.id_a] & mask == sig[r.id_b] & mask, (
            f"pair {(r.id_a, r.id_b)} in block {r.block} disagrees on the "
            f"low {k} signature bits"
        )
        got_blocks.add(r.block)
    assert got_blocks == {"hot", "cold"}
    # the hot block must actually be SUBDIVIDED more finely than the floor:
    # with threshold=-1 every same-bucket pair is emitted, so pair count
    # bounds bucket sizes — 6 bits over 640 rows gives ~10-row buckets
    # (sum ~ 64 * C(10,2) ~ 3k pairs), while 2 bits would give 4 buckets
    # of ~160 rows (~51k pairs).
    hot_pairs = sum(1 for r in pairs if r.block == "hot")
    assert 0 < hot_pairs < 20_000, hot_pairs


def test_embedding_neardup_max_block_size(spark, sf_dir):
    """Oversized embedding blocks degrade to hyperplane-LSH sub-buckets:
    subset of exact pairs, identical cosines, self-similar planted pairs
    (cos ~ 1) always collide."""
    from vector_search_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_neardup_pairs(
            emb, "embedding", "vec_id", "label", 0.8
        ).collect()
    }
    guarded = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_neardup_pairs(
            emb, "embedding", "vec_id", "label", 0.8, max_block_size=20
        ).collect()
    }
    assert set(guarded) <= set(exact)
    for pair, c in guarded.items():
        assert c == exact[pair]
    near_identical = {p for p, c in exact.items() if c > 0.999}
    assert near_identical <= set(guarded)


def test_dup_clusters_connected_components(spark):
    """Chain a-b-c-d must collapse into one cluster (propagation crosses
    multiple hops), disjoint pair stays separate, ids not in any pair are
    not emitted."""
    from vector_search_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        ["id_a", "id_b"],
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    # default path: small edge list -> driver union-find
    stats: dict = {}
    got = {r.id: r.cluster_id for r in dup_clusters(pairs, stats=stats).collect()}
    assert got == expected
    assert stats["mode"] == "driver-union-find"
    # forced iterative path must agree exactly
    stats = {}
    got_iter = {
        r.id: r.cluster_id
        for r in dup_clusters(pairs, stats=stats, driver_max_edges=0).collect()
    }
    assert got_iter == expected
    assert stats["mode"] == "iterative"


def test_operators_own_persist_lifecycle(spark, sf_dir):
    """minhash_lsh_pairs and the guarded jaccard/embedding paths must leave
    storage memory flat: internal caches are released before returning, so
    repeated invocation grows the persistent-RDD set by at most the
    caller-owned result (≤1 per call), never by the internal intermediates
    (2-3 per call unowned)."""
    from vector_search_spark.operators.dedup import embedding_neardup_pairs

    sc = spark.sparkContext

    def n_persisted():
        return sc._jsc.getPersistentRDDs().size()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    base = n_persisted()
    for i in range(3):
        minhash_lsh_pairs(docs, "text", "doc_id", 16, 4, 0.5).collect()
        jaccard_pairs(
            docs, "text", "doc_id", [], 0.5, shingle_n=3, max_block_size=40
        ).collect()
        embedding_neardup_pairs(
            emb, "embedding", "vec_id", "label", 0.8, max_block_size=20
        ).collect()
        # per round: ≤3 checkpointed results may linger until GC; the 6
        # internal persists (t, banded, 2× blocked t) must all be gone
        assert n_persisted() - base <= 3 * (i + 1)


def test_embedding_neardup_dim_mismatch_fails_loudly(spark):
    """A vector whose length differs from dim must fail the guarded path
    (silently truncated hyperplane dots would degenerate the signature)."""
    import pytest

    from vector_search_spark.operators.dedup import embedding_neardup_pairs

    rows = [(i, "b0", [float(i % 3), 1.0, 2.0]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    # block of 30 > bound of 5 -> LSH path engages -> dim check fires
    with pytest.raises(Exception, match="dim mismatch"):
        embedding_neardup_pairs(
            emb, "embedding", "vec_id", "label", 0.1, max_block_size=5, dim=64
        ).collect()
    # correct dim works
    assert (
        embedding_neardup_pairs(
            emb, "embedding", "vec_id", "label", 0.1, max_block_size=5, dim=3
        ).count()
        > 0
    )


def test_hyperplane_lsh_requires_dim(spark, sf_dir):
    import pytest

    from vector_search_spark.operators.ann import hyperplane_lsh_knn
    from vector_search_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    with pytest.raises(ValueError, match="requires dim"):
        hyperplane_lsh_knn(emb, probes, k=5)


def test_dup_clusters_nonconvergence_raises(spark):
    """Exhausting max_iterations with labels still moving must raise, not
    return wrong cluster ids silently."""
    import pytest

    from vector_search_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iterations=2, driver_max_edges=0).collect()


def test_dup_clusters_long_chain_converges(spark):
    """A 40-node path graph needs multiple propagation rounds — the label
    must still reach the far end within the iteration cap."""
    from vector_search_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], ["id_a", "id_b"]
    )
    got = {
        r.id: r.cluster_id
        for r in dup_clusters(pairs, driver_max_edges=0).collect()
    }
    assert set(got.values()) == {100}
    assert len(got) == 41


def test_dup_clusters_driver_vs_iterative_property(spark):
    """Property: the driver union-find fast path and the iterative
    pointer-halving path must produce IDENTICAL cluster assignments on
    arbitrary graphs — random edge lists with chains, cliques, self-loops
    and duplicate edges (seeded, 5 draws)."""
    import random

    from vector_search_spark.operators.dedup import dup_clusters

    rng = random.Random(42)
    for _ in range(5):
        n_nodes = rng.randint(5, 60)
        n_edges = rng.randint(1, 120)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        fast = {
            r.id: r.cluster_id for r in dup_clusters(pairs).collect()
        }
        slow = {
            r.id: r.cluster_id
            for r in dup_clusters(pairs, driver_max_edges=0).collect()
        }
        assert fast == slow, (edges, fast, slow)


def test_bloom_filter_no_false_negatives_and_bounded_fpp(spark):
    # membership keys: every inserted key MUST test positive (bloom
    # soundness — a false negative would silently drop a true
    # contamination hit); non-members must survive at ~the designed fpp
    from vector_search_spark.operators.dedup import bloom_build, bloom_member

    keys = spark.range(0, 2000).select((F.col("id") * 7 + 3).alias("h"))
    bloom_row, m_bits, k = bloom_build(keys, "h")
    members = keys.crossJoin(F.broadcast(bloom_row)).filter(
        bloom_member("h", m_bits, k)
    )
    assert members.count() == 2000  # zero false negatives

    # disjoint probe set (different residue class mod 7)
    non = spark.range(0, 20000).select((F.col("id") * 7 + 5).alias("h"))
    fp = (
        non.crossJoin(F.broadcast(bloom_row))
        .filter(bloom_member("h", m_bits, k))
        .count()
    )
    # designed fpp ~1e-3 at 16 bits/key k=6; allow 10x headroom
    assert fp <= 20000 * 0.01, fp


def test_bloom_decontaminate_equals_exact(spark, sf_dir):
    # the bloom variant is candidate generation + exact verify: its
    # output must be BIT-EXACT equal to the exact broadcast semi-join
    from vector_search_spark.plans.queries import QUERIES

    exact = {
        (r.doc_id, r.n_shared)
        for r in QUERIES["d_decontaminate"].fn(spark, sf_dir).collect()
    }
    bloom = {
        (r.doc_id, r.n_shared)
        for r in QUERIES["d_decontaminate_bloom"].fn(spark, sf_dir).collect()
    }
    assert bloom == exact


def test_hamming64_banded_pairs_synthetic_distances(spark):
    """The pHash banding must CATCH pairs at hamming 1-3 (pigeonhole: some
    16-bit band intact), and exclude hamming-4 pairs both ways a 4 can
    happen: spread one-bit-per-band (no shared band -> never a candidate)
    and concentrated in one band (candidate, killed by the <=3 verify).
    Registry row m_phash_neardup can only exercise hamming 0 (md5 fakes
    are ~32 bits apart unless payloads are identical), so this pins the
    1-3 branch the fixtures cannot reach."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators.dedup import hamming64_banded_pairs

    base1, base2 = 0x12345678, 0x1ABCDEF0
    rows = [
        (0, base1, base2),                       # reference
        (1, base1 ^ 0x1, base2),                 # hamming 1 (h1 low band)
        (2, base1 ^ 0x00010001, base2 ^ 0x1),    # hamming 3, 3 bands hit
        (3, base1 ^ 0x00010001, base2 ^ 0x00010001),  # 4, one per band
        (4, base1 ^ 0xF, base2),                 # 4, one band concentrated
        (5, 0x7654321, 0x0FEDCBA),               # unrelated
    ]
    m = spark.createDataFrame(rows, "media_id long, h1 long, h2 long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming64_banded_pairs(m).collect()
        if r["id_a"] == 0
    }
    assert got == {(0, 1): 1, (0, 2): 3}


def test_hamming64_sign_extended_inputs_masked(spark):
    """A producer that packs words as SIGN-EXTENDED 32-bit ints (real
    pHash emitting signed ints) must get the same distances as one
    emitting the unsigned values: the operator masks to the low 32 bits,
    so xor across the sign boundary cannot inflate hamming by the upper
    32 bits nor corrupt shiftright band keys."""
    from vector_search_spark.operators.dedup import hamming64_banded_pairs

    h = 0x8234_5678  # high bit set -> sign-extends to negative as int32
    signed = h - (1 << 32)
    assert signed < 0
    rows = [
        (0, h, 0x11),          # unsigned packing
        (1, signed, 0x11),     # identical signature, sign-extended packing
        (2, signed ^ 0x1, 0x11),  # hamming 1 from both of the above
    ]
    m = spark.createDataFrame(rows, "media_id long, h1 long, h2 long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming64_banded_pairs(m).collect()
    }
    assert got == {(0, 1): 0, (0, 2): 1, (1, 2): 1}


def test_span_merge_maximal_regions(spark):
    """Constructed corpus with a known shared passage: two docs share a
    10-word run (n=4 grams → duplicated gram starts 3..9 in doc 1,
    1..7 in doc 2) and a separate 4-word run; unique text yields no
    regions. Verifies island merging (adjacent duplicated gram starts
    coalesce into ONE maximal region), the span_end = last_start+n-1
    arithmetic, and that sub-n-gram overlaps (< 4 shared words) are
    invisible."""
    from vector_search_spark.operators.dedup import span_merge_maximal

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tail4 = "onefish twofish redfish bluefish"
    rows = [
        (1, f"aa bb {shared} cc dd"),            # shared run at tokens 3..12
        (2, f"{shared} xx yy zz"),               # shared run at tokens 1..10
        (3, f"pp qq rr {tail4} ss"),             # tail4 at tokens 4..7
        (4, f"{tail4} t1 t2 t3 t4"),             # tail4 at tokens 1..4
        (5, "utterly unrelated words with alpha beta only"),  # < n shared
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r.doc_id, r.span_start): r
        for r in span_merge_maximal(docs, "text", "doc_id", n=4).collect()
    }
    # doc 1: grams starting 3..9 duplicated -> one region tokens 3..12
    r1 = out[(1, 3)]
    assert (r1.span_end, r1.n_tokens, r1.n_grams) == (12, 10, 7)
    # doc 2: grams starting 1..7 -> region tokens 1..10
    r2 = out[(2, 1)]
    assert (r2.span_end, r2.n_tokens, r2.n_grams) == (10, 10, 7)
    # docs 3/4: exactly one shared 4-gram each (tail4)
    r3 = out[(3, 4)]
    assert (r3.span_end, r3.n_tokens, r3.n_grams) == (7, 4, 1)
    r4 = out[(4, 1)]
    assert (r4.span_end, r4.n_tokens, r4.n_grams) == (4, 4, 1)
    # no other regions anywhere (doc 5's 2-word overlap is sub-gram)
    assert len(out) == 4


def test_winnow_fingerprints_guarantee_and_sampling(spark):
    """Winnowing contract (Schleimer et al. 2003): (a) any shared token
    run of length >= w + k - 1 yields >= 1 SHARED fingerprint between the
    two docs; (b) fingerprints are a strict sample of the gram hashes
    (each fingerprint IS some gram's hash); (c) docs shorter than
    w + k - 1 tokens yield an empty set.  k=3, w=4 -> guarantee at 6
    shared tokens."""
    from vector_search_spark.functions.text import (
        winnow_fingerprints,
        word_shingle_hashes,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # exactly w + k - 1 = 6
    rows = [
        (1, f"aa bb cc {shared} dd ee"),
        (2, f"{shared} xx yy zz ww vv"),
        (3, "one two three four five"),  # 5 tokens < 6 -> empty
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (set(r.fp), set(r.gh))
        for r in docs.select(
            "doc_id",
            winnow_fingerprints("text", 3, 4).alias("fp"),
            word_shingle_hashes("text", 3).alias("gh"),
        ).collect()
    }
    fp1, gh1 = out[1]
    fp2, gh2 = out[2]
    # (a) the 6-token shared run forces a common selected fingerprint
    assert fp1 & fp2, "guarantee violated: no shared fingerprint"
    # (b) every fingerprint is one of the doc's own gram hashes
    assert fp1 <= gh1 and fp2 <= gh2
    # strict sampling: fewer fingerprints than grams on these docs
    assert len(fp1) < len(gh1)
    # (c) short doc -> empty fingerprint set
    assert out[3][0] == set()


def test_winnow_guarantee_zero_missed(spark, sf_dir):
    """The winnowing theorem on real data: every doc pair sharing an
    exact >= w+k-1 = 6-token run shares >= 1 winnowed fingerprint —
    n_missed must be 0 (and the fixture must actually exercise the
    claim: n_truth_pairs > 0)."""
    from vector_search_spark.plans.queries import QUERIES

    r = QUERIES["d_winnow_guarantee_eval"].fn(spark, sf_dir).first()
    assert r.n_truth_pairs > 0
    assert r.n_detected == r.n_truth_pairs
    assert r.n_missed == 0


def test_embedding_pairs_exact_banded_equivalence(spark):
    """The triangular bucket decomposition for oversized blocks must
    produce the IDENTICAL pair set as the plain group join — every pair
    exactly once (same-bucket pairs only at the diagonal key)."""
    import random

    from pyspark.sql import functions as F

    from vector_search_spark.functions.vector import l2_norm
    from vector_search_spark.operators.dedup import _embedding_pairs_exact

    rng = random.Random(3)
    rows = [
        (i, i % 3, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(240)
    ]
    df = spark.createDataFrame(rows, "id long, blk long, v array<float>")
    t = df.withColumn("nrm", l2_norm("v"))
    plain = {
        (r.id_a, r.id_b, r.block, round(r.cos, 9))
        for r in _embedding_pairs_exact(t, ["blk"], band_min=10**9).collect()
    }
    banded = {
        (r.id_a, r.id_b, r.block, round(r.cos, 9))
        for r in _embedding_pairs_exact(t, ["blk"], band_min=10, bands=4).collect()
    }
    assert plain == banded and len(plain) == 3 * 80 * 79 // 2
