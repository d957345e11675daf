"""Scale-shape tests for the dedup stack (VERDICT r2 weak #1 / #2):

- exact-duplicate families must produce O(m) minhash candidates, not the
  O(m^2) all-pairs a naive band-bucket join emits;
- the collapsed path must keep cluster semantics identical to the
  uncollapsed one;
- embedding near-dup must expose bucket width (`dims`) and OR-amplified
  `tables`, with amplification recovering recall that a single narrow
  bucket loses.
"""

import math
import random

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_identical_family_candidates_linear(spark):
    """1,000 byte-identical docs -> 999 star candidates, not 499,500 pairs."""
    from ontoweaver_spark.dedup import minhash_candidates

    m = 1000
    df = _docs(spark, [(i, "the same boilerplate page text repeated here") for i in range(m)])
    cands = minhash_candidates(df).collect()
    assert len(cands) == m - 1  # O(m) star edges
    # every member hangs off the canonical (min id)
    assert all(r["a"] == 0 for r in cands)
    assert sorted(r["b"] for r in cands) == list(range(1, m))
    # the uncollapsed join would have emitted every pair
    assert m * (m - 1) // 2 == 499500


def test_collapse_preserves_clusters(spark):
    """Collapsed and uncollapsed candidate generation give the same
    connected components (same membership, same cluster ids)."""
    from ontoweaver_spark.dedup import duplicate_clusters

    rows = []
    # family A: 4 identical docs; family B: 3 identical docs near-dup of A
    a_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b_text = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    for i in range(4):
        rows.append((i, a_text))
    for i in range(4, 7):
        rows.append((i, b_text))
    # unrelated doc
    rows.append((100, "completely different words about other topics entirely now"))
    df = _docs(spark, rows)

    collapsed = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(df, threshold=0.5).collect()
    }
    # uncollapsed reference run (the pre-r3 semantics)
    from ontoweaver_spark.dedup import connected_components, verified_candidates

    pairs = verified_candidates(df, threshold=0.5, collapse_exact=False).select("a", "b")
    ref = {
        (r["vertex"], r["component"]) for r in connected_components(pairs).collect()
    }
    # the point: collapsed and uncollapsed paths agree exactly (whether or
    # not LSH banding surfaces the cross-family 0.78-jaccard pair)
    assert collapsed == ref
    by_doc = dict(collapsed)
    assert {by_doc[i] for i in range(4)} == {0}  # family A is one cluster
    assert len({by_doc[i] for i in range(4, 7)}) == 1  # family B too


def test_case_variant_not_collapsed(spark):
    """ADVICE r3 (high): the exact-family collapse must key on a
    CASE-PRESERVING fingerprint. Docs differing only in case have
    different (case-sensitive) shingle sets, so they are NOT exact
    duplicates: no jaccard-1.0 star edge may link them."""
    from ontoweaver_spark.dedup import verified_candidates

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(spark, [(1, t), (2, t), (3, t.upper())])
    rows = verified_candidates(df, threshold=0.9).collect()
    # only the byte-identical pair survives; the case variant's true
    # case-sensitive shingle jaccard vs t is 0.0
    assert [(r["a"], r["b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_case_variant_connectivity_preserved(spark):
    """A case variant of an exact family must be banded ITSELF (it is its
    own canonical under the case-preserving collapse key): band pairs
    reachable only through the variant must survive the collapse, and the
    collapsed pair-set must match the uncollapsed one."""
    from ontoweaver_spark.dedup import minhash_candidates

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lam mu nu xi omicron pi rho sigma tau upsilon")
    up = words.upper()
    near_up = up.rsplit(" ", 1)[0] + " PHI"  # one trailing word differs
    df = _docs(spark, [(1, words), (2, words), (3, up), (4, near_up)])

    collapsed = {(r["a"], r["b"]) for r in minhash_candidates(df).collect()}
    uncollapsed = {
        (r["a"], r["b"])
        for r in minhash_candidates(df, collapse_exact=False).collect()
    }
    assert (1, 2) in collapsed  # exact family star edge
    assert (3, 4) in collapsed  # reachable only via the case variant
    # no false family edges across the case boundary
    assert not {(1, 3), (2, 3), (1, 4), (2, 4)} & collapsed
    assert collapsed == uncollapsed


def test_verified_star_jaccard_is_one(spark):
    from ontoweaver_spark.dedup import verified_candidates

    df = _docs(spark, [(1, "one two three four"), (2, "one two three four"),
                       (3, "five six seven eight")])
    rows = verified_candidates(df, threshold=0.9).collect()
    assert [(r["a"], r["b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def _random_unit(rng, d):
    v = [rng.gauss(0, 1) for _ in range(d)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_emb_near_dup_amplification_recall(spark):
    """Wider buckets (dims=12) over 16-dim vectors lose near-dup pairs that
    OR-amplification (tables=2) recovers; brute force is the recall oracle."""
    from ontoweaver_spark.dedup import embedding_near_duplicates

    rng = random.Random(7)
    d = 16
    rows = []
    vid = 0
    for _ in range(40):
        base = _random_unit(rng, d)
        # near-dup partner: tiny perturbation (cosine ~ 0.999)
        pert = [x + rng.gauss(0, 0.02) for x in base]
        n = math.sqrt(sum(x * x for x in pert))
        rows.append((vid, base))
        rows.append((vid + 1, [x / n for x in pert]))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    # recall oracle by construction: every (2i, 2i+1) pair is a near-dup
    # at threshold 0.99 (perturbation sigma makes cosine ~0.999)
    expected = {(i, i + 1) for i in range(0, 2 * 40, 2)}

    def found(dims, tables):
        got = {
            (r["a"], r["b"])
            for r in embedding_near_duplicates(
                df, threshold=0.99, dims=dims, tables=tables
            ).collect()
        }
        return got & expected

    narrow = found(dims=12, tables=1)
    amplified = found(dims=12, tables=2)
    # a 12-bit bucket over 16 dims misses some perturbed pairs (a sign flip
    # in any of 12 dims splits the pair); the second table must recover some
    assert len(narrow) < len(expected)
    assert len(amplified) > len(narrow)
    assert narrow <= amplified  # OR-amplification only adds candidates


def test_emb_near_dup_default_matches_old_shape(spark):
    """dims=8/tables=1 keeps the original first-8-signs semantics."""
    from ontoweaver_spark.dedup import embedding_near_duplicates
    from ontoweaver_spark.similarity import sign_bucket

    df = spark.createDataFrame(
        [(1, [0.5, -0.2, 0.1, 0.3, -0.4, 0.2, 0.6, -0.1, 0.9]),
         (2, [0.4, -0.1, 0.2, 0.2, -0.5, 0.1, 0.5, -0.2, 0.8]),
         (3, [-0.4, 0.1, -0.2, -0.2, 0.5, -0.1, -0.5, 0.2, 0.8])],
        "vec_id bigint, embedding array<double>",
    )
    pairs = embedding_near_duplicates(df, threshold=0.9).collect()
    assert [(r["a"], r["b"]) for r in pairs] == [(1, 2)]
    buckets = df.select(sign_bucket(F.col("embedding")).alias("bk")).collect()
    assert buckets[0]["bk"] == buckets[1]["bk"] != buckets[2]["bk"]


def test_simhash_near_duplicates_pigeonhole_exact(spark):
    """Banded candidate generation must find EVERY hamming<=k pair (the
    pigeonhole guarantee), verified against brute-force popcount."""
    from itertools import combinations

    from ontoweaver_spark.dedup import simhash, simhash_near_duplicates

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    words = base.split()
    for i in range(30):
        # vary a couple of words per doc so signatures spread nearby
        w = list(words)
        w[i % len(w)] = f"tok{i}"
        w[(i * 7) % len(w)] = f"alt{i % 5}"
        rows.append((i, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    sigs = {r["doc_id"]: r["sh"] for r in
            df.select("doc_id", simhash(F.col("text"), bits=16).alias("sh")).collect()}
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_near_duplicates(df, bits=16, max_hamming=3).collect()
    }
    assert got == brute and len(brute) > 0

    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_duplicates(df, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide evenly"):
        simhash_near_duplicates(df, bits=16, bands=5, max_hamming=3)
    with pytest.raises(ValueError, match=r"\[1, 62\]"):
        simhash_near_duplicates(df, bits=64, bands=4, max_hamming=3)


def _spread_docs(spark, n):
    """n documents of distinct random-ish words (seeded, deterministic)."""
    import random

    rng = random.Random(13)
    vocab = [f"w{j}" for j in range(400)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(n)
    ]
    return _docs(spark, rows)


def test_simhash_default_band_keys_not_degenerate(spark):
    """VERDICT r3 #1: at DEFAULTS the band keys must have real cardinality.
    bits=60/bands=4 gives 15-bit keys (2^15 values per band); on 1,200
    spread docs every band bucket stays O(1)-occupied, so the self-join is
    linear — the old bits=16 default (4-bit keys, 16 values per band) put
    ~n/16 docs in every bucket (O(n^2/16) join)."""
    from ontoweaver_spark.dedup import simhash, simhash_near_duplicates

    inspect_defaults = simhash_near_duplicates.__defaults__
    # (text_col, id_col, bits, max_hamming, bands)
    bits, max_hamming, bands = inspect_defaults[2], inspect_defaults[3], inspect_defaults[4]
    assert bits // bands >= 12  # band-key space >= 2^12 at defaults
    assert bands == max_hamming + 1  # Manku: minimal lossless band count

    n = 1200
    df = _spread_docs(spark, n)
    width = bits // bands
    mask = (1 << width) - 1
    sigs = [r["sh"] for r in df.select(simhash(F.col("text")).alias("sh")).collect()]
    from collections import Counter

    for b in range(bands):
        buckets = Counter((s >> (b * width)) & mask for s in sigs)
        assert buckets.most_common(1)[0][1] <= 8  # no degenerate bucket
    # 16-bit signatures, by contrast, are provably degenerate at this n:
    sigs16 = [r["sh"] for r in
              df.select(simhash(F.col("text"), bits=16).alias("sh")).collect()]
    b16 = Counter(s & 0xF for s in sigs16)
    assert b16.most_common(1)[0][1] > n / 64  # ~n/16 expected per bucket


def test_simhash_near_dup_brute_force_at_48_bits(spark):
    """Brute-force equality at bits=48 on >=1k docs (VERDICT r3 #1 'done'
    criterion): the banded join must find exactly the all-pairs popcount
    result, including planted near-dup pairs."""
    from itertools import combinations

    from ontoweaver_spark.dedup import simhash, simhash_near_duplicates

    df = _spread_docs(spark, 1000)
    # plant guaranteed hamming-0 pairs (exact copies) plus one-word
    # variants whose hamming may or may not clear the cap — equality with
    # brute force must hold either way
    base_rows = [r["text"] for r in df.limit(20).collect()]
    planted = [(10000 + i, t) for i, t in enumerate(base_rows[:10])] + [
        (10100 + i, t.rsplit(" ", 1)[0] + f" q{i}")
        for i, t in enumerate(base_rows[10:])
    ]
    full = df.unionByName(_docs(spark, planted))

    sigs = {r["doc_id"]: r["sh"] for r in
            full.select("doc_id", simhash(F.col("text"), bits=48).alias("sh")).collect()}
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_near_duplicates(full, bits=48, max_hamming=3).collect()
    }
    assert got == brute and len(brute) >= 10  # the 10 exact copies at least


def test_connected_components_chain_logarithmic(spark):
    """VERDICT r3 #8: a 100-long chain (diameter 99) must converge in
    O(log n) rounds via pointer jumping — plain min-label propagation
    would need ~99 rounds and blow max_iterations."""
    from ontoweaver_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "a bigint, b bigint"
    )
    stats = {}
    cc = connected_components(pairs, max_iterations=15, stats=stats)
    rows = cc.collect()
    assert {r["component"] for r in rows} == {0}  # one component, min id
    assert len(rows) == 100
    assert stats["rounds"] <= 10  # measured 7-8; log2(99) ~ 6.6


def test_connected_components_quoted_column_names(spark):
    """Pair columns are column names, not SQL: ``doc-a`` must not parse as
    ``doc - a``."""
    from ontoweaver_spark.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "`doc-a` bigint, `doc-b` bigint")
    cc = connected_components(pairs, a_col="doc-a", b_col="doc-b")
    assert sorted((r["vertex"], r["component"]) for r in cc.collect()) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    ]
