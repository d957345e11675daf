"""Deduplication operators for web-scale training-data pipelines.

All variants are declarative DataFrame plans (no Python UDFs) designed for
the shuffle shapes that survive 100 TB:

- **exact**: one hash-aggregate on a 60-bit content fingerprint.
- **MinHash + LSH**: shingle -> K minhashes -> B bands -> candidate pairs
  from same-band buckets (the only join is on band keys, which are small),
  then exact Jaccard verification on the candidates only.
- **SimHash**: 60-bit (default) signed-sum signature, one HOF aggregate
  per row; Manku pigeonhole banding for hamming near-dups.
- **n-gram Jaccard**: exact pairwise similarity restricted to
  shingle-sharing pairs (inverted-index join, never a cross join).
- **embedding near-dup**: cosine over candidate pairs; see similarity.py
  for the bucketed ANN variant.

Hashing uses md5-prefix integers so DuckDB oracles reproduce results
exactly (see textops.md5_int).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textops import md5_int, round_ieee, tokens
from .session import fixpoint, stats_reset_checkpoint


def _verify_bcast_rows() -> int:
    """Row-count gate for broadcasting a verify-side build table (per-doc
    shingle/tf vectors): under the bound the candidate-verification joins
    run as broadcast hash joins with zero wide exchange; over it (the
    100-TB regime) the shuffle-join path stands. The gate counts the
    actually-materialized table — a data-size decision, not a local-mode
    constant."""
    return int(os.environ.get("OW_VERIFY_BCAST_ROWS", "8000000"))


def shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of the text (array<string>).

    Each shingle is ``array_join(slice(toks, i, k))`` — ONE reference to
    the token array per lambda element. The previous formulation
    (``concat_ws`` of k ``element_at`` calls) embedded the ``split``
    subexpression k times per element, and codegen does NOT
    common-subexpression-eliminate inside HOF lambdas: at k=13 the regex
    split re-executed ~546x per row (measured 10x wall slowdown on the
    decontamination corpus scan). Semantics are identical, including
    docs shorter than k tokens: ``slice`` past the end returns the
    shorter prefix and ``array_join`` emits the same partial shingle
    ``concat_ws`` produced by skipping null ``element_at`` positions."""
    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    )


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (whitespace-normalized) documents.
    Returns (fingerprint, n_docs, doc_ids sorted, canonical_id=min)."""
    from .textops import fingerprint

    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """One row per doc with minhash columns h0..h{K-1}:
    h_i = min over distinct shingles of md5_int(i || \\x1f || shingle).

    Shape note: shingles are *exploded* and hashed once per (shingle, i)
    scalar column, then min-aggregated per doc. A per-row HOF formulation
    (array_min(transform(shingles,...)) x K) duplicates the whole shingle
    expression K times in the plan and fell out of codegen — 100x slower
    measured at 5k docs. The explode shape is one shuffle with map-side
    partial min aggregation, which also survives 100 TB.
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_k)).alias("s")
    )
    hash_cols = [
        md5_int(F.concat(F.lit(f"{i}\x1f"), F.col("s"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    hashed = sh.select(id_col, *hash_cols)
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """One row per (doc, band): band key = md5 of the band's minhash slice.
    Docs sharing a band key are near-dup candidates."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[c.cast("string") for c in cols])).alias("band_key"),
            )
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def _exact_family_star(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate family collapse: ``(star, canon_ids)``.

    ``star`` links every non-canonical member of a byte-identical family to
    the family's canonical doc (min id) — O(m) rows per m-doc family.
    ``canon_ids`` is one id per family; banding only those keeps the
    band-bucket self-join linear in the number of DISTINCT documents.

    The key is the CASE-PRESERVING fingerprint (``textops.fingerprint_cs``):
    shingle / minhash / simhash signatures are case-sensitive, so the
    collapse invariant "identical fingerprint => identical shingle set"
    requires a key that does not lowercase. (The lowercased
    ``textops.fingerprint`` would merge case-variant docs with different
    shingle sets, emitting false jaccard-1.0 star edges and dropping band
    pairs reachable only through the variant member.)
    """
    from .textops import fingerprint_cs

    fam = df.select(F.col(id_col), fingerprint_cs(F.col(text_col)).alias("_fp"))
    canon = fam.groupBy("_fp").agg(F.min(id_col).alias("_canonical"))
    star = (
        fam.join(canon, "_fp")
        .where(F.col(id_col) != F.col("_canonical"))
        .select(F.col("_canonical").alias("a"), F.col(id_col).alias("b"))
    )
    return star, canon.select(F.col("_canonical").alias(id_col))


def _band_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct (a < b) pairs sharing at least one band bucket.

    The banded frame is lazily ``localCheckpoint``-ed first: a self-join
    otherwise RE-COMPUTES its whole upstream subtree for each side, and the
    subtree here is the expensive part (shingle explode + K hashes + min
    aggregation — the signatures would be computed twice, verified in the
    formatted plan). Materializing (n_docs x bands) small rows to executor
    storage costs far less than a second signature pass at any scale."""
    banded = banded.localCheckpoint(eager=False)
    left = banded.select(F.col(id_col).alias("a"), "band", "band_key")
    right = banded.select(F.col(id_col).alias("b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    collapse_exact: bool = True,
) -> DataFrame:
    """Candidate pairs (a < b) that are exact duplicates or share >=1 LSH band.

    With ``collapse_exact`` (the default, the 100-TB shape) exact-duplicate
    families are collapsed BEFORE banding: a family of m byte-identical
    documents (web boilerplate — the common case at crawl scale) would
    otherwise share every band key and emit O(m^2) pairs inside every band
    bucket (10^6 identical docs -> 10^12 join rows before any distinct).
    Instead, only each family's canonical doc (min id) is banded, and the
    family re-enters the output as O(m) star edges (canonical, member).
    Connectivity is preserved exactly: identical docs have identical
    signatures, so any pair the full join would find is reachable through
    the canonical. ``collapse_exact=False`` restores the all-pairs band
    join (every same-band pair appears explicitly).
    """
    if not collapse_exact:
        banded = minhash_bands(df, text_col, id_col, num_hashes, bands, shingle_k)
        return _band_pairs(banded, id_col)
    star, canon_ids = _exact_family_star(df, text_col, id_col)
    canon_docs = df.join(canon_ids, id_col, "left_semi")
    banded = minhash_bands(canon_docs, text_col, id_col, num_hashes, bands, shingle_k)
    return _band_pairs(banded, id_col).unionByName(star)


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing >=1 shingle
    (inverted-index join — shuffle keyed on shingle, never a cross join).
    Returns (a, b, jaccard rounded to 4).

    ``max_shingle_df`` is the standard stop-shingle filter: shingles whose
    document frequency exceeds the cap are dropped from BOTH the inverted
    index and the per-doc shingle counts (similarity is computed over the
    filtered shingle universe). Without it the join produces O(df^2)
    candidate rows per shingle — one boilerplate shingle in 10^7 documents
    means 10^14 join rows at 100 TB. Cost of the cap: one pre-aggregate +
    a broadcast anti-join + one per-doc recount."""
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_k)).alias("shingle")
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle").agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        # hot set is tiny by construction (only shingles in >cap docs)
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
        counts = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        sh = sh.join(counts, id_col)
    else:
        # single-pass: per-doc count rides along with the explode
        sh = df.select(
            F.col(id_col), shingles(F.col(text_col), shingle_k).alias("sh")
        ).select(F.col(id_col), F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))

    left = sh.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na"), "shingle")
    right = sh.select(F.col(id_col).alias("b"), F.col("n_sh").alias("nb"), "shingle")
    inter = (
        left.join(right, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    jac = inter.select(
        "a", "b",
        round_ieee(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4).alias("jaccard"),
    )
    return jac.where(F.col("jaccard") >= threshold) if threshold > 0 else jac


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair list via alternating
    **large-star / small-star** rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14):

    - *large-star*: every vertex attaches its strictly-larger neighbors to
      the minimum of its closed neighborhood;
    - *small-star*: every vertex attaches itself and its smaller neighbors
      to the minimum of its smaller neighbors.

    The alternation provably converges to min-rooted stars in O(log^2 n)
    rounds (O(log n) in practice — measured: 500-cycle 10 rounds,
    100-chain 8, random graphs 6). This replaced a min-label-propagation +
    single-pointer-jump loop whose convergence was LINEAR on long cycles:
    a union of two permutation matchings (exactly what incremental CC
    merges produce) formed ~500-long cycles and blew ``max_iterations``
    at 50 while star rounds close it in 10.

    Each round is ~4 hash shuffles of the CURRENT edge set, which only
    shrinks (stars collapse); per-round state goes through
    ``session.stats_reset_checkpoint`` — bare ``localCheckpoint`` snapshots
    compounding size estimates and the BigInteger digit count doubles per
    round (the loop dies at ~20 rounds no matter the data size; see the
    helper's docstring). Rounds run through ``session.fixpoint``:
    convergence is its (count, hash-sum) probe, observed on each round's
    eager checkpoint of the edge set (no job of its own); ``xxhash64`` is
    Spark-side only so no oracle sees it.

    Returns (vertex, component) where component = min vertex id in the
    component. Vertices appearing only in self-pairs are their own
    singleton components; vertices absent from ``pairs`` entirely are not
    emitted — callers union them in if needed. ``stats`` (optional dict)
    receives ``{"rounds": n}`` for round-count assertions.
    """
    raw = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    verts = (
        raw.selectExpr("u AS vertex").unionAll(raw.selectExpr("v AS vertex"))
        .distinct()
        .localCheckpoint()
    )
    e = stats_reset_checkpoint(
        raw.where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )

    from pyspark.sql import Window as _W

    w_u = _W.partitionBy("u")

    def star_round(e, _):
        # Each star pass needs every row of a u-group plus that group's
        # min — a WINDOW over partitionBy(u), ONE exchange, instead of
        # the groupBy+join formulation's two (the aggregate and the join
        # probe both repartitioned the symmetrized frame by u).
        # large-star
        sym = e.selectExpr("u", "v").unionAll(e.selectExpr("v AS u", "u AS v"))
        # lazy: ls is consumed only by the small-star pass below, so an
        # eager materialization here would add one job per round; the
        # checkpoint still pins it so the small-star self-reference does
        # not recompute the large-star subtree twice
        ls = stats_reset_checkpoint(
            sym.withColumn("m", F.least(F.min("v").over(w_u), F.col("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct(),
            eager=False,
        )
        # small-star
        small = ls.selectExpr("u", "v").unionAll(
            ls.selectExpr("v AS u", "u AS v")
        ).where(F.col("v") < F.col("u"))
        attached = small.withColumn("m", F.min("v").over(w_u))
        return (
            attached.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionAll(attached.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )

    # returning silently past the cap would split one component into
    # several — downstream "keep one per cluster" would then keep too many
    e = fixpoint(
        e, star_round, max_rounds=max_iterations, probe=F.xxhash64("u", "v"),
        stats=stats,
        error=f"connected_components did not converge within {max_iterations} "
        "star rounds; raise max_iterations",
    )
    # fixpoint edges ARE the component stars: (root=u, child=v)
    child = e.selectExpr("v AS vertex", "u AS component")
    roots = verts.join(child.select("vertex"), "vertex", "left_anti").select(
        "vertex", F.col("vertex").alias("component")
    )
    return child.unionByName(roots)


def _candidate_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    collapse_exact: bool,
):
    """Shared LSH scaffolding for the pairwise verifiers: ``(cand, sets_,
    star)`` — candidate (a, b) pairs, the per-doc shingle arrays of the
    frame that was banded, and the exact-family star edges (None when
    ``collapse_exact`` is off). Keeping this in ONE place makes the
    collapse invariants (case-preserving fingerprint, O(m) star shape)
    structurally shared by every verifier built on it."""
    if collapse_exact:
        star, canon_ids = _exact_family_star(df, text_col, id_col)
        canon_docs = df.join(canon_ids, id_col, "left_semi")
        banded = minhash_bands(canon_docs, text_col, id_col, num_hashes, bands, shingle_k)
        cand = _band_pairs(banded, id_col)
        sets_df = canon_docs
    else:
        star = None
        cand = minhash_candidates(
            df, text_col, id_col, num_hashes, bands, shingle_k, collapse_exact=False
        )
        sets_df = df
    # materialize the shingle arrays ONCE (lazy local checkpoint): every
    # verifier built on this joins sets_ TWICE (a-side and b-side), so
    # without the checkpoint Spark re-derives the tokenize+shingle scan
    # per join branch (VERDICT r4 #5 recompute audit). cand and star are
    # each consumed once — checkpointing them measured as pure barrier
    # overhead (+0.7 s on dedup_verified at sf0.1), so they stay lazy.
    sets_ = stats_reset_checkpoint(
        sets_df.select(F.col(id_col), shingles(F.col(text_col), shingle_k).alias("sh")),
        eager=False,
    )
    # NOTE: a size-gated broadcast of sets_ (the jaccard_pairs_prefix
    # verify pattern) was tried here and measured as a consistent small
    # net LOSS (same-session A/B: dedup_verified 9.8 vs 10.9 s, keep
    # 11.3 vs 11.7 s) — the LSH band join admits only thousands of
    # candidates, so the driver-side broadcast build costs more than
    # the two tiny shuffles it replaces. The prefix-join verifiers keep
    # the broadcast because their candidate sets are millions of rows.
    return cand, sets_, star


def verified_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    collapse_exact: bool = True,
) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard: (a, b, jaccard).

    The pair universe is ``minhash_candidates`` (band-bucket join — the
    candidate count is LSH-bounded), NOT the raw shingle inverted index
    whose hot-shingle O(df^2) blowup is quadratic at 100 TB. Each candidate
    pair's exact Jaccard comes from joining the two per-doc shingle arrays
    and intersecting locally — two hash joins keyed on doc id, per-pair
    compute stays partition-local.

    With ``collapse_exact`` (default — see :func:`minhash_candidates`) only
    canonical docs of exact-duplicate families are banded and verified;
    family members re-enter as (canonical, member) rows with jaccard 1.0
    (identical fingerprint => identical shingle set) — no per-member
    verification work, O(m) output per m-doc family."""
    cand, sets_, star = _candidate_sets(
        df, text_col, id_col, num_hashes, bands, shingle_k, collapse_exact
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    verified = (
        cand.join(sets_.select(F.col(id_col).alias("a"), F.col("sh").alias("sa")), "a")
        .join(sets_.select(F.col(id_col).alias("b"), F.col("sh").alias("sb")), "b")
        .withColumn("_i", inter)
        .select(
            "a", "b",
            round_ieee(
                F.col("_i") / (F.size("sa") + F.size("sb") - F.col("_i")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    if star is not None:
        star_rows = star.withColumn("jaccard", F.lit(1.0).cast("double"))
        if threshold > 1.0:  # degenerate threshold: stars must filter too
            star_rows = star_rows.where(F.col("jaccard") >= threshold)
        verified = verified.unionByName(star_rows)
    return verified


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate clusters: LSH-candidate pairs with exact-verified
    jaccard >= threshold -> connected components -> (doc_id, cluster_id =
    min doc id in cluster). Only documents that belong to some >=2-doc
    cluster appear; the canonical keep-one policy is "keep cluster_id,
    drop the rest".

    Pairs come from :func:`verified_candidates` (minhash LSH + exact
    verify), the scale path — not from the all-sharing-pairs inverted
    index. A pair missed by every LSH band (possible below ~(1/bands)^
    (bands/num_hashes) similarity) is also missed here; at threshold 0.8
    with 16 hashes / 4 bands the band-collision probability is ~0.996."""
    pairs = verified_candidates(
        df, text_col, id_col, threshold, shingle_k, num_hashes, bands
    ).select("a", "b")
    cc = connected_components(pairs)
    return cc.select(
        F.col("vertex").alias(id_col), F.col("component").alias("cluster_id")
    )


def simhash(c: Column, bits: int = 60) -> Column:
    """SimHash over whitespace tokens: bit b set when the signed sum of
    token-hash bit b is positive. One HOF aggregate per row, JVM-side.

    Default ``bits=60`` — the full md5_int hash width (Manku's production
    simhash uses 64-bit fingerprints). A narrow signature (e.g. 16 bits =
    65,536 values) collides on UNRELATED documents with certainty at web
    scale; only use small ``bits`` for oracle-pinned tests. ``bits`` is
    capped at 62 so every ``1 << b`` power fits a signed LongType."""
    if not 1 <= bits <= 62:
        raise ValueError(f"bits ({bits}) must be in [1, 62] (signed-long powers)")
    toks = F.array_distinct(tokens(c))
    hashes = F.transform(toks, md5_int)
    # bit loops unrolled in Python: shiftright needs literal bit counts
    bit_sums = F.aggregate(
        hashes,
        F.array(*[F.lit(0).cast("long") for _ in range(bits)]),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1)).cast("long")
                for b in range(bits)
            ]),
            lambda x, y: x + y,
        ),
    )
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    return F.aggregate(
        F.zip_with(bit_sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance: ``(a, b, hamming)`` with
    ``hamming <= max_hamming`` — the classic Manku/Google dedup shape.

    Candidate generation is EXACT by pigeonhole, not probabilistic: the
    signature splits into ``bands`` contiguous bit slices, and any pair
    within hamming distance ``max_hamming < bands`` must agree on at least
    one untouched slice — so the band-key equi-join (the only shuffle,
    keyed on (band, slice bits)) provably finds every qualifying pair.
    Verification is one JVM popcount (``bit_count(xor)``) per candidate.
    At corpus scale this is a hash join on 2^(bits/bands)-ary keys instead
    of the O(n^2) all-pairs xor.

    Defaults are the Manku production shape: ``bits=60`` (full md5_int
    width; capped at 62 for signed-long powers), ``bands = max_hamming + 1
    = 4`` → 15-bit band keys, 2^15 = 32,768 distinct values per band. A
    narrow signature makes the band join quadratic: the old 16-bit default
    gave 4-bit keys — 16 distinct values per band, so the equi-join
    degenerated to O(n^2/16) pairs — and a 65k signature space collides on
    unrelated documents at corpus scale. Small ``bits`` remain supported
    for oracle-pinned tests only."""
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) for "
            "the pigeonhole candidate guarantee"
        )
    if bits % bands:
        raise ValueError(f"bits ({bits}) must divide evenly into {bands} bands")
    width = bits // bands
    mask = (1 << width) - 1
    sigs = df.select(F.col(id_col), simhash(F.col(text_col), bits).alias("sh"))
    banded = sigs.select(
        id_col, "sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("sh", b * width).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for b in range(bands)
        ])).alias("bk"),
    ).select(id_col, "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # materialize before the self-join: each side would otherwise recompute
    # the full signature aggregate (same reasoning as _band_pairs)
    banded = banded.localCheckpoint(eager=False)
    left = banded.select(F.col(id_col).alias("a"), F.col("sh").alias("sa"), "band", "key")
    right = banded.select(F.col(id_col).alias("b"), F.col("sh").alias("sb"), "band", "key")
    return (
        left.join(right, ["band", "key"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dims: int = 8,
    tables: int = 1,
) -> DataFrame:
    """Cosine near-dup pairs among embeddings: self-join on coarse
    sign-buckets, exact cosine verifies the candidates.

    ``dims`` sets the bucket width — 2^dims buckets. The within-bucket join
    is O((n / 2^dims)^2), so size it to the corpus (dims ~ log2(n) keeps
    expected bucket occupancy O(1); the old hard-coded 8 bits = 256 buckets
    was quadratic at any real scale). Wider buckets lose recall — a true
    near-dup pair is only found when ALL dims sign bits agree — so
    ``tables > 1`` adds LSH OR-amplification: table t buckets on signs of
    dimensions [t*dims, (t+1)*dims) and a pair is a candidate when it
    collides in ANY table (miss probability decays exponentially in
    ``tables``). Candidates union + distinct before the one exact-cosine
    verification pass."""
    from .similarity import cosine, sign_bucket_at

    base = df.select(F.col(id_col), F.col(vec_col).alias("v"))

    def verify(pairs: DataFrame) -> DataFrame:
        return pairs.select(
            "a", "b", round_ieee(cosine(F.col("va"), F.col("vb")), 4).alias("cos")
        ).where(F.col("cos") >= threshold)

    if tables <= 1:
        # single table: vectors ride along the bucket join — one shuffle
        bucketed = base.withColumn("bucket", sign_bucket_at(F.col("v"), dims, 0))
        a = bucketed.select(F.col(id_col).alias("a"), F.col("v").alias("va"), "bucket")
        b = bucketed.select(F.col(id_col).alias("b"), F.col("v").alias("vb"), "bucket")
        return verify(a.join(b, "bucket").where(F.col("a") < F.col("b")))

    # OR-amplification: id-only candidate pairs per table, distinct across
    # tables, then one vector-fetch + exact-cosine verification pass
    cand = None
    for t in range(tables):
        bucketed = base.withColumn("bucket", sign_bucket_at(F.col("v"), dims, t * dims))
        a = bucketed.select(F.col(id_col).alias("a"), "bucket")
        b = bucketed.select(F.col(id_col).alias("b"), "bucket")
        pairs = a.join(b, "bucket").where(F.col("a") < F.col("b")).select("a", "b")
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()
    return verify(
        cand.join(base.select(F.col(id_col).alias("a"), F.col("v").alias("va")), "a")
        .join(base.select(F.col(id_col).alias("b"), F.col("v").alias("vb")), "b")
    )


def cross_corpus_duplicates(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora -> ``(a, b, jaccard)`` with
    ``a`` from ``new_df`` and ``b`` from ``ref_df`` — the incremental-crawl
    dedup stage: "drop from this batch everything already in the corpus".

    Same MinHash-LSH machinery as :func:`verified_candidates`, but the
    band-bucket join is STRICTLY two-sided (new x ref): no new-new or
    ref-ref pairs are generated or verified, so a batch joining against a
    10^12-doc reference costs |batch bands| x matching buckets, never the
    reference's self-join. Candidates are verified with exact shingle
    Jaccard; exact cross-corpus duplicates surface naturally at 1.0.

    At production scale the reference side's banded frame is the thing to
    precompute and persist (partitioned by band_key) so each incoming
    batch joins against it without re-signaturing the corpus; here both
    sides are banded inline (same plan either way after the scan)."""
    bn = minhash_bands(new_df, text_col, id_col, num_hashes, bands, shingle_k).select(
        F.col(id_col).alias("a"), "band", "band_key"
    )
    br = minhash_bands(ref_df, text_col, id_col, num_hashes, bands, shingle_k).select(
        F.col(id_col).alias("b"), "band", "band_key"
    )
    cand = bn.join(br, ["band", "band_key"]).select("a", "b").distinct()
    sa = new_df.select(F.col(id_col).alias("a"), shingles(F.col(text_col), shingle_k).alias("sa"))
    sb = ref_df.select(F.col(id_col).alias("b"), shingles(F.col(text_col), shingle_k).alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("_i", inter)
        .select(
            "a", "b",
            round_ieee(
                F.col("_i") / (F.size("sa") + F.size("sb") - F.col("_i")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    scope: str = "corpus",
) -> DataFrame:
    """Paragraph-level exact deduplication (the CCNet / RefinedWeb pass the
    reference has no analog for: its unit of work is a row, ours is a span
    inside the row). Splits each document on ``sep``, keeps every distinct
    paragraph only at its FIRST occurrence — the lexicographically-minimal
    ``(doc_id, position)`` for that exact paragraph string — and reassembles
    documents in original paragraph order. Documents whose every paragraph
    was seen earlier disappear from the output (they carry zero novel text).

    ``scope='corpus'`` dedups across the whole corpus; ``scope='doc'``
    only removes repeats within a single document (a cheap boilerplate
    variant that never shuffles on paragraph hash).

    Returns ``(id_col, text, n_paras, n_kept)``. ``sep`` is a LITERAL
    separator (escaped before the regex split), so ``sep=". "`` splits on
    the two-character string, not on any-char-plus-space.

    100-TB shape: posexplode is a flat map (no shuffle); the winner is a
    min(struct(id,pos)) hash aggregate keyed on (hash, paragraph) with
    map-side partial combine, so a boilerplate paragraph repeated 10^9
    times still reduces to one row per partition before the exchange — the
    paragraph string rides in the key so a 60-bit hash collision between
    two DISTINCT paragraphs yields two winners instead of silently
    deleting one paragraph's every occurrence (at 10^9 paragraphs the
    birthday bound makes that a real event, and unlike a sketch, here it
    would destroy document content). The re-join is co-partitioned with
    the agg output; AQE splits the residually-hot probe side. Reassembly
    is one groupBy(doc) of the kept rows. Three shuffles total.
    """
    import re as _re

    from .textops import md5_int

    sep_rx = _re.escape(sep)

    if scope == "doc":
        # intra-doc only: one HOF filter per row (keep element i iff the
        # FIRST occurrence of that exact paragraph is at i) — zero
        # shuffles, zero explodes; O(paras²) per doc is bounded by doc
        # size, never corpus size
        # NB: the kept array is materialized under a private name FIRST and
        # the output 'text' aliased in a second projection — aliasing the
        # output with the input's name inside the same select makes the
        # analyzer re-bind one of the lambda's references to the NEW column
        # (observed: n_kept filtering split(old) by array_position(new))
        arr = F.split(F.col(text_col), sep_rx)
        kept_arr = F.filter(arr, lambda x, i: F.array_position(arr, x) - 1 == i)
        return df.select(
            F.col(id_col),
            kept_arr.alias("_kept"),
            F.size(arr).alias("n_paras"),
        ).select(
            id_col,
            F.array_join("_kept", sep).alias("text"),
            "n_paras",
            F.size("_kept").alias("n_kept"),
        )
    if scope != "corpus":
        raise ValueError(f"paragraph_dedup: unknown scope {scope!r}")

    pos = F.col("_pos")
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_rx)).alias("_pos", "_para"),
    ).withColumn("_h", md5_int(F.col("_para")))

    winner = paras.groupBy("_h", "_para").agg(
        F.min(F.struct(F.col(id_col), pos)).alias("_w")
    )
    kept = (
        paras.join(winner, ["_h", "_para"])
        .where((F.col(id_col) == F.col("_w")[id_col]) & (pos == F.col("_w._pos")))
        .select(id_col, "_pos", "_para", "_h")
    )

    n_paras = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), sep_rx)).alias("n_paras")
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                    lambda s: s["_para"],
                ),
                sep,
            ).alias("text"),
            F.count("*").alias("n_kept"),
        )
    )
    return rebuilt.join(n_paras, id_col).select(id_col, "text", "n_paras", "n_kept")


def containment_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    collapse_exact: bool = True,
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by shingle containment ->
    ``(a, b, containment_a, containment_b, jaccard)`` where
    ``containment_a = |Sa ∩ Sb| / |Sa|`` — the quote/subset detector: a
    short doc wholesale-included in a long one scores containment ~1.0
    while its Jaccard stays near |short|/|long| and symmetric dedup never
    fires. Keeps pairs where EITHER direction's containment >= threshold.

    Candidate recall caveat (documented, deliberate): candidates come from
    the same MinHash band join as :func:`verified_candidates`, whose
    collision probability follows JACCARD — a contained-but-tiny doc
    (jaccard << threshold) may never band-collide. When that gap is
    load-bearing (quote detection proper) use
    :func:`containment_pairs_prefix`, the LOSSLESS asymmetric variant
    that prefix-indexes the shorter set only; this banded form stays the
    cheap screen when near-dups dominate. Exact-duplicate family members
    keep containment 1.0 with zero verify work.

    Scale shape: identical to verified_candidates — banded self-join for
    candidates, two id-keyed hash joins to attach shingle arrays,
    partition-local intersection; never the raw inverted-index blowup.
    """
    cand, sets_, star = _candidate_sets(
        df, text_col, id_col, num_hashes, bands, shingle_k, collapse_exact
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    verified = (
        cand.join(sets_.select(F.col(id_col).alias("a"), F.col("sh").alias("sa")), "a")
        .join(sets_.select(F.col(id_col).alias("b"), F.col("sh").alias("sb")), "b")
        .withColumn("_i", inter)
        .select(
            "a", "b",
            round_ieee(F.col("_i") / F.size("sa"), 4).alias("containment_a"),
            round_ieee(F.col("_i") / F.size("sb"), 4).alias("containment_b"),
            round_ieee(
                F.col("_i") / (F.size("sa") + F.size("sb") - F.col("_i")), 4
            ).alias("jaccard"),
        )
        .where(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )
    if star is not None:
        one = F.lit(1.0).cast("double")
        star_rows = (
            star.withColumn("containment_a", one)
            .withColumn("containment_b", one)
            .withColumn("jaccard", one)
        )
        if threshold > 1.0:
            star_rows = star_rows.where(F.lit(False))
        verified = verified.unionByName(star_rows)
    return verified


def dedup_decisions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The ACTIONABLE output of near-dedup — one row per document:
    ``(id, cluster_id, keep)`` where ``cluster_id`` is the doc's near-dup
    cluster canonical (its own id when unclustered) and ``keep`` marks the
    cluster minimum. Downstream is a pure ``WHERE keep`` filter with full
    pushdown; the drop set, grouped by cluster, is the dedup report.

    Scale shape: :func:`duplicate_clusters` (LSH -> verify -> CC) produces
    rows ONLY for clustered docs — Zipf-small next to the corpus — so the
    decision join is a LEFT join of the corpus against a small frame
    (broadcastable; AQE picks that up from its actual size at runtime).
    """
    clusters = duplicate_clusters(
        df, text_col, id_col, threshold, shingle_k, num_hashes, bands
    )
    return (
        df.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
            (F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col(id_col)))
            .alias("keep"),
        )
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document verbatim-overlap spans — the substring-dedup shape
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") re-expressed as token-window joins instead of a
    suffix array: for each document, the merged token intervals covered
    by n-gram windows whose exact n-gram occurs in at least ``min_docs``
    DISTINCT documents. Intra-document repetition alone never triggers
    (that is :func:`ontoweaver_spark.textops.duplicated_ngram_fraction`'s
    signal); these spans are what a masking/removal pass would cut.

    Returns ``(id_col, span_start, span_end, n_hits)`` with 1-based
    inclusive token positions; overlapping and touching windows merge
    into one span (gaps-and-islands), ``n_hits`` = windows merged in.
    Documents shorter than ``n`` tokens contribute their single clamped
    prefix window, like :func:`shingles`.

    100-TB shape: the window explode is a flat map; the cross-doc test
    is one hash aggregate on the 60-bit gram hash (map-side partials
    absorb boilerplate grams) followed by a co-partitioned semi-join
    back; the island merge is one window over (doc, pos) — per-doc
    state, bounded by document length, never corpus-sized. Three
    shuffles total, no cartesian anything.
    """
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(sz - (n - 1), F.lit(1)))
    wins = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    md5_int(F.array_join(F.slice(toks, i, n), " ")).alias("_g"),
                ),
            )
        ).alias("_w"),
    ).select(id_col, F.col("_w.pos").alias("pos"), F.col("_w._g").alias("_g"))

    cross = (
        wins.groupBy("_g")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_g")
    )
    hits = wins.join(cross, "_g").select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.select(
        id_col, "pos",
        F.sum(
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") > F.lag("pos").over(w) + n),
                1,
            ).otherwise(0)
        ).over(w).alias("_isl"),
    )
    return islands.groupBy(id_col, "_isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (n - 1)).alias("span_end"),
        F.count("*").alias("n_hits"),
    ).drop("_isl")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word ``k``-gram, slide a
    window of ``w`` consecutive hashes over each document, and keep the
    minimum hash of every window (RIGHTMOST minimum on ties, the paper's
    rule). The selection guarantee: any verbatim run of ``w + k - 1``
    tokens shared by two documents shares at least one selected
    fingerprint, at an expected density of only ``2/(w+1)`` of the grams
    — position-localizable plagiarism/clone detection far sparser than
    full shingling.

    Returns ``(id_col, fp, fp_pos)`` — distinct selected fingerprints
    with the 1-based token position of the gram they hash. A document
    with fewer than ``w`` grams keeps the minimum of what it has (its
    last partial window), so no document fingerprints to nothing.

    100-TB shape: one flat-map gram explode, one per-doc window (state
    bounded by document length, never corpus-sized), one distinct — no
    joins. The hash is the oracle-reproducible 60-bit md5 prefix
    (:func:`ontoweaver_spark.textops.md5_int`).
    """
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(sz - (k - 1), F.lit(1)))
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    md5_int(F.array_join(F.slice(toks, i, k), " ")).alias("_g"),
                ),
            )
        ).alias("_w"),
    ).select(id_col, F.col("_w.pos").alias("pos"), F.col("_w._g").alias("_g"))

    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    full = Window.partitionBy(id_col)
    sel = grams.select(
        F.col(id_col),
        F.min(F.struct(F.col("_g").alias("g"), (-F.col("pos")).alias("np"))).over(win).alias("_sel"),
        F.col("pos"),
        F.count("*").over(full).alias("_n"),
    ).where((F.col("pos") >= w) | (F.col("pos") == F.col("_n")))
    return (
        sel.select(
            id_col,
            F.col("_sel.g").alias("fp"),
            (-F.col("_sel.np")).alias("fp_pos"),
        )
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints ->
    ``(doc_a, doc_b, n_shared)`` with ``doc_a < doc_b`` — the MOSS
    clone-report shape over :func:`winnow_fingerprints`.

    Fingerprints selected in more than ``max_df`` documents (boilerplate
    phrases) are excluded before the self-join — the same document-
    frequency cap as the n-gram Jaccard path, which is what bounds the
    join fan-out at corpus scale (a fingerprint's pair contribution is
    quadratic in its document frequency)."""
    fps = (
        winnow_fingerprints(df, text_col, id_col, k=k, w=w)
        .select(id_col, "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_df)
        .select("fp")
    )
    cold = fps.join(hot, "fp", "left_anti")
    a = cold.select(F.col("fp"), F.col(id_col).alias("doc_a"))
    b = cold.select(F.col("fp"), F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def merge_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental connected components: fold a batch of NEW pairs into an
    existing ``(vertex, component)`` labeling without ever touching the
    raw historical edge list -> the updated ``(vertex, component)``.

    The old labeling is replayed as star edges ``vertex -> component``
    (each class's spanning star, diameter <= 2) and unioned with the new
    pairs; :func:`connected_components` then runs over |V_old| + |batch|
    rows instead of |E_history| + |batch|. Because every historical class
    already carries its min vertex as the label, the merged min-labels
    are EXACTLY those of a from-scratch run on the full edge union — the
    equivalence the driver oracle (`cc_incremental`) and the property
    test assert.

    This is the continuous-crawl shape (same cost model as
    fusion.merge_into_graph): at 10^12 accumulated edges, re-running CC
    per batch is history-proportional; this is batch + vertex
    proportional, and the star edges' tiny diameter keeps the
    pointer-jumping round count at its floor.
    """
    star = labels.select(
        F.col("vertex").alias(a_col), F.col("component").alias(b_col)
    )
    merged = star.unionByName(new_pairs.select(a_col, b_col))
    return connected_components(
        merged, a_col=a_col, b_col=b_col,
        max_iterations=max_iterations, stats=stats,
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact threshold Jaccard via PPJoin-style PREFIX FILTERING
    (Chaudhuri et al. / Xiao et al.) -> ``(a, b, jaccard)`` — the same
    output as ``jaccard_pairs(threshold=t)``, from a candidate set that
    can be orders of magnitude smaller than the full inverted-index
    join.

    The pruning theorem: order the shingle universe globally
    (rarest-first by (df, shingle)); for Jaccard >= t the intersection
    satisfies ``|A∩B| >= t*|A|``, so the minimum-rank shared shingle
    must sit within each set's first ``|S| - ceil(t*|S|) + 1`` shingles
    — index ONLY those prefixes and every qualifying pair still
    collides. At t=0.8 the prefix is ~20% of each set, cutting join
    rows ~25x before any frequency cap; rarest-first ordering pushes
    boilerplate shingles to the suffix where they are never indexed —
    the hot-shingle O(df^2) blowup the plain index needs
    ``max_shingle_df`` for largely disappears by construction.

    Verification is exact: candidates join the FULL per-doc shingle
    arrays and intersect partition-locally. The oracle for this
    operator computes plain all-shared-pairs Jaccard with NO prefix
    machinery, so the filter's LOSSLESSNESS is itself the checked
    property.

    Input contract: ``id_col`` must be unique. Nothing checks it: a
    duplicated id pools two documents' shingles under one id, which
    inflates its set size and gives wrong similarities. Building the
    result is not lazy: the verify side's broadcast size gate
    (``OW_VERIFY_BCAST_ROWS``) runs one eager ``count()`` at call time.
    """
    if not 0 < threshold <= 1:
        raise ValueError("prefix filtering needs a threshold in (0, 1]")
    # rounding-closed bound: the emitted filter compares the 4-digit
    # ROUNDED jaccard >= t, so a raw value in the 0.5e-4 window below t
    # passes it — the prefix length must be computed at t-1e-4 or such a
    # boundary pair could evade the prefix (same closure as
    # containment_pairs_prefix)
    t_eff = threshold - 1e-4
    # shingles() is array_distinct per row, so the exploded (id, shingle)
    # pairs are distinct by construction — no dedup exchange needed
    sh = df.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("shingle"),
    )
    # global rarest-first order (rank via the lazy distributed zip-index
    # over one range-partitioned sort — never a single-task window)
    from .compiler import with_row_index

    ranked_sh = with_row_index(
        sh.groupBy("shingle").agg(F.count("*").alias("_df")).orderBy("_df", "shingle"),
        "_rank",
    ).select("shingle", "_rank").localCheckpoint(eager=False)

    # counted is consumed three times (the n_sh agg, the positioned window,
    # the index side) — checkpoint it once or the explode+distinct shuffle
    # re-runs per consumer
    counted = stats_reset_checkpoint(sh.join(ranked_sh, "shingle"), eager=False)
    n_sh = counted.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    # position of each shingle within its doc's rarest-first order
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("_rank")
    positioned = (
        counted.withColumn("_pos", F.row_number().over(w))
        .join(n_sh, id_col)
        .withColumn(
            "_prefix_len",
            F.col("n_sh") - F.ceil(F.lit(t_eff) * F.col("n_sh")) + 1,
        )
    )
    prefix = stats_reset_checkpoint(
        positioned.where(F.col("_pos") <= F.col("_prefix_len")).select(
            id_col, "_rank", "_pos", "n_sh"
        ),
        eager=False,
    )
    # Candidate generation joins on the INT rank (the shingle<->rank map
    # is a bijection), with two further LOSSLESS PPJoin prunes evaluated
    # in exact BIGINT arithmetic (t_sc = t_eff * 10^4):
    #  - LENGTH filter: J >= t forces min(|A|,|B|) >= t*max(|A|,|B|).
    #  - POSITIONAL filter (Xiao et al.): every shared shingle has rank
    #    >= the pair's minimum shared rank, hence position > that row's
    #    on both sides, so I <= 1 + min(na-pa, nb-pb); J >= t needs
    #    I >= t/(1+t) * (na+nb).  The minimum-shared-rank row carries
    #    the LARGEST position slack, so a qualifying pair always passes
    #    through it — other collision rows may be pruned, which only
    #    thins the duplicate rows feeding the distinct.
    t_sc = int(round(threshold * 10_000)) - 1
    ub = F.lit(1) + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    cand = (
        prefix.select(
            F.col(id_col).alias("a"), "_rank",
            F.col("_pos").alias("pa"), F.col("n_sh").alias("na"),
        )
        .join(
            prefix.select(
                F.col(id_col).alias("b"), "_rank",
                F.col("_pos").alias("pb"), F.col("n_sh").alias("nb"),
            ),
            "_rank",
        )
        .where(
            (F.col("a") < F.col("b"))
            & (F.least("na", "nb") * 10_000 >= F.lit(t_sc) * F.greatest("na", "nb"))
            & (ub * F.lit(10_000 + t_sc) >= F.lit(t_sc) * (F.col("na") + F.col("nb")))
        )
        .select("a", "b")
        .distinct()
    )
    # Exact verify over per-doc sorted RANK arrays — same cardinalities
    # as the shingle sets (bijection) but integer compares instead of
    # multi-byte string compares in the intersect.  Size-gated broadcast
    # (the l2ap/decontam pattern): at profile scale the whole array
    # table is a few tens of MB, so both attachments become broadcast
    # hash joins and the verify never shuffles the candidate pairs; at
    # 100-TB scale the gate fails and the shuffle joins stand.
    sets_ = counted.groupBy(id_col).agg(
        F.sort_array(F.collect_list("_rank")).alias("sh")
    )
    if counted.count() <= _verify_bcast_rows():
        sets_ = F.broadcast(sets_)
        cand = cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism * 2, "a", "b"
        )
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(sets_.select(F.col(id_col).alias("a"), F.col("sh").alias("sa")), "a")
        .join(sets_.select(F.col(id_col).alias("b"), F.col("sh").alias("sb")), "b")
        .withColumn("_i", inter)
        .select(
            "a", "b",
            round_ieee(
                F.col("_i") / (F.size("sa") + F.size("sb") - F.col("_i")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs_prefix(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_index_df: int | None = None,
) -> DataFrame:
    """Exact-threshold ASYMMETRIC containment pairs via prefix filtering
    on the SHORTER set only -> ``(a, b, containment_a, containment_b,
    jaccard)``, same output shape as :func:`containment_duplicates` but
    LOSSLESS: every pair where either direction's containment >= t is
    found.  This closes the documented recall gap of the banded
    variant (dedup.py containment caveat / VERDICT r4 #4): band
    collision follows JACCARD, so a 20-shingle quote inside a
    2000-shingle page (containment 1.0, jaccard 0.01) never collides —
    here it is guaranteed to.

    Theorem (containment form of the PPJoin prefix filter): order the
    shingle universe globally rarest-first; ``C(a,b) = |Sa∩Sb|/|Sa| >=
    t`` (with ``|Sa| <= |Sb|``) implies ``|Sa∩Sb| >= ceil(t*|Sa|)``, so
    at most ``|Sa| - ceil(t*|Sa|)`` of Sa's shingles are missing from
    Sb and Sa's first ``|Sa| - ceil(t*|Sa|) + 1`` shingles must contain
    a shared one.  Only the QUERY (shorter) side is prefix-truncated —
    the containee can sit anywhere inside the container, so the INDEX
    side carries every shingle.  Direction suffices: ``C_b >= t`` with
    ``|Sb| >= |Sa|`` forces ``C_a >= t``, so checking the shorter side
    covers the either-direction predicate.  The bound uses
    ``t - 1e-4`` so pairs whose raw containment rounds UP to t at the
    emitted 4-digit rounding still collide (rounding-closed
    losslessness).

    ``max_index_df`` is the 100-TB knob: drop shingles with document
    frequency above it from the INDEX side only (boilerplate shingles
    — rarest-first prefixes almost never contain them anyway), trading
    a documented sliver of recall for a hard bound on join fan-out.
    ``None`` (default) keeps the operator exact — the SQL oracle for
    this operator computes plain all-pairs containment with no prefix
    machinery, so the filter's losslessness is itself the checked
    property (same adjudication as :func:`jaccard_pairs_prefix`).

    Input contract: ``id_col`` must be unique. Nothing checks it: a
    duplicated id pools two documents' shingles under one id, which
    inflates its set size and gives wrong similarities. Building the
    result is not lazy: the verify side's broadcast size gate
    (``OW_VERIFY_BCAST_ROWS``) runs one eager ``count()`` at call time.
    """
    if not 0 < threshold <= 1:
        raise ValueError("prefix filtering needs a threshold in (0, 1]")
    t_eff = threshold - 1e-4
    # shingles() is array_distinct per row, so the exploded (id, shingle)
    # pairs are distinct by construction — no dedup exchange needed
    sh = df.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("shingle"),
    )
    from .compiler import with_row_index

    ranked_sh = with_row_index(
        sh.groupBy("shingle").agg(F.count("*").alias("_df")).orderBy("_df", "shingle"),
        "_rank",
    ).select("shingle", "_rank", "_df").localCheckpoint(eager=False)

    # counted is consumed three times (the n_sh agg, the positioned window,
    # the index side) — checkpoint it once or the explode+distinct shuffle
    # re-runs per consumer
    counted = stats_reset_checkpoint(sh.join(ranked_sh, "shingle"), eager=False)
    n_sh = counted.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("_rank")
    positioned = (
        counted.withColumn("_pos", F.row_number().over(w))
        .join(n_sh, id_col)
        .withColumn(
            "_prefix_len",
            F.col("n_sh") - F.ceil(F.lit(t_eff) * F.col("n_sh")) + 1,
        )
    )
    prefix = stats_reset_checkpoint(
        positioned.where(F.col("_pos") <= F.col("_prefix_len")).select(
            F.col(id_col).alias("_qid"), F.col("n_sh").alias("_qn"),
            F.col("_pos").alias("_qp"), "_rank"
        ),
        eager=False,
    )
    # the index side needs its own positions for the positional filter
    index = positioned.select(
        F.col(id_col).alias("_iid"), F.col("n_sh").alias("_in"),
        F.col("_pos").alias("_ip"), "_rank", "_df"
    )
    if max_index_df is not None:
        index = index.where(F.col("_df") <= max_index_df)
    # Candidate join on the INT rank (bijective with the shingle), plus
    # the POSITIONAL filter in exact BIGINT arithmetic: every shared
    # shingle has rank >= the pair's minimum shared rank, hence position
    # > that row's on both sides, so I <= 1 + min(qn-qp, in-ip); the
    # shorter side's containment C_q >= t needs I >= t_eff*qn. The
    # minimum-shared-rank row has the largest slack, so a qualifying
    # pair always survives through it — LOSSLESS, same argument as
    # jaccard_pairs_prefix.
    t_sc = int(round(threshold * 10_000)) - 1
    ub = F.lit(1) + F.least(
        F.col("_qn") - F.col("_qp"), F.col("_in") - F.col("_ip")
    )
    cand = (
        prefix.join(index.drop("_df"), "_rank")
        .where(
            (F.col("_qid") != F.col("_iid"))
            & (
                (F.col("_qn") < F.col("_in"))
                | ((F.col("_qn") == F.col("_in")) & (F.col("_qid") < F.col("_iid")))
            )
            & (ub * 10_000 >= F.lit(t_sc) * F.col("_qn"))
        )
        .select(
            F.least("_qid", "_iid").alias("a"),
            F.greatest("_qid", "_iid").alias("b"),
        )
        .distinct()
    )
    # Exact verify over per-doc sorted RANK arrays (bijection-preserving)
    # with the size-gated broadcast of the array table — see
    # jaccard_pairs_prefix; at 100-TB scale the shuffle joins stand.
    sets_ = counted.groupBy(id_col).agg(
        F.sort_array(F.collect_list("_rank")).alias("sh")
    )
    if counted.count() <= _verify_bcast_rows():
        sets_ = F.broadcast(sets_)
        cand = cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism * 2, "a", "b"
        )
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(sets_.select(F.col(id_col).alias("a"), F.col("sh").alias("sa")), "a")
        .join(sets_.select(F.col(id_col).alias("b"), F.col("sh").alias("sb")), "b")
        .withColumn("_i", inter)
        .select(
            "a", "b",
            round_ieee(F.col("_i") / F.size("sa"), 4).alias("containment_a"),
            round_ieee(F.col("_i") / F.size("sb"), 4).alias("containment_b"),
            round_ieee(
                F.col("_i") / (F.size("sa") + F.size("sb") - F.col("_i")), 4
            ).alias("jaccard"),
        )
        .where(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )


def suggest_bands(
    threshold: float,
    num_hashes: int,
) -> dict:
    """Pick the (bands, rows) factorization of ``num_hashes`` whose LSH
    S-curve threshold ``(1/b)^(1/r)`` lands closest to the requested
    Jaccard ``threshold`` — the knob-setting step before
    :func:`minhash_candidates` that is otherwise folklore ("b=16, r=8,
    trust me"). Returns ``{"bands", "rows", "curve_threshold",
    "p_at_threshold"}`` where ``p_at_threshold = 1-(1-t^r)^b`` is the
    candidate probability AT the requested threshold (should be near
    0.5; far off means num_hashes can't express this threshold — raise
    it).

    Driver-side closed form over the O(d(num_hashes)) divisors —
    nothing distributed; the output feeds the distributed op's
    parameters. Mirrors the standard MMDS ch.3 analysis.
    """
    if not 0 < threshold < 1:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    best = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if b < 1:
            continue
        t = (1.0 / b) ** (1.0 / r) if b > 1 else 1.0
        if best is None or abs(t - threshold) < abs(best[0] - threshold):
            best = (t, b, r)
    t, b, r = best
    p = 1.0 - (1.0 - threshold ** r) ** b
    return {
        "bands": b,
        "rows": r,
        "curve_threshold": round(t, 4),
        "p_at_threshold": round(p, 4),
    }


def cosine_pairs_l2ap(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 1,
) -> DataFrame:
    """Exact-threshold COSINE similarity pairs over sparse integer
    term-frequency vectors -> ``(a, b, cosine)`` via the l2-norm prefix
    filter of L2AP (Anastasiu & Karypis, ICDE'14) — the weighted-vector
    counterpart of :func:`jaccard_pairs_prefix`.

    Theorem (Cauchy-Schwarz form of the prefix filter): order the term
    universe globally rarest-first (document frequency asc, term asc);
    for any pair let ``k`` be the smallest global rank both share.  Then
    ``cos(a,b) = sum_{i>=k} a_i b_i / (|a||b|) <= |a_{>=k}| / |a|`` (and
    symmetrically for ``b``), so ``cos >= t`` forces the rank-``k`` term
    to lie where the ratio-of-suffix-norms is still ``>= t`` in BOTH
    docs.  Indexing only those positions — the kept set is a PREFIX of
    each doc's rank order because suffix norms are monotone — every
    qualifying pair still collides: the filter is LOSSLESS.  Rarest
    terms carry the indexed prefix, so stopword-heavy terms land in the
    never-indexed suffix and the hot-term O(df^2) self-join blowup
    largely disappears, exactly as in the Jaccard variant.

    All filter arithmetic is exact BIGINT: with integer tf the squared
    suffix mass ``sfx = sum_{rank>=r} tf^2`` and squared norm ``nsq``
    compare as ``sfx * 10^8 >= (t*10^4 - 1)^2 * nsq`` — the ``-1``
    (i.e. ``t - 1e-4``) makes the bound ROUNDING-CLOSED: the emitted
    filter compares the 4-digit-rounded cosine ``>= t``, so raw values
    in the half-ulp window below ``t`` that round up must still be
    caught by the prefix.  Verification is exact: candidates join the
    full tf vectors, one integer dot product, ONE fp divide by ONE
    correctly-rounded sqrt, then :func:`round_ieee` — bit-identical
    cross-engine.  The oracle computes plain all-shared-term-pairs
    cosine with NO prefix machinery, so losslessness is itself the
    checked property.

    Two candidate-thinning levers on top of the single-sided bound,
    both still LOSSLESS:

    - ``shingle_k > 1`` switches the vector unit from unigram tokens to
      word k-gram COUNTS (non-distinct, so still a weighted vector).
      On template-heavy corpora the unigram vocabulary is shared by
      most documents — a doc made entirely of common words carries
      common words even in its prefix, and one such token with df=d
      contributes d^2 join rows (measured 78M rows / 12M candidates for
      1.8k true pairs at sf0.1). Distinctive 2-gram units collapse that
      df distribution the same way shingling does for the Jaccard ops.
    - The PAIRWISE product bound: at the colliding term,
      ``cos <= sqrt(sfx_a/nsq_a) * sqrt(sfx_b/nsq_b)``, so candidates
      must satisfy ``sfx_a*sfx_b >= t^2 * nsq_a*nsq_b`` — strictly
      sharper than the two single-sided checks (0.85 * 0.85 < 0.81).
      Applied per colliding row BEFORE the pair distinct; the
      minimum-rank shared term has the LARGEST suffixes, so if the pair
      qualifies at all its k_min row passes — lossless. Evaluated in
      doubles with a 1e-9 relative slack (false positives only; the
      exact verify decides membership, so oracle parity is untouched).

    100-TB shape: two shuffles sized by the tf table (rank join, suffix
    window partitioned per doc), a self-join restricted to the indexed
    prefixes, and a pair-keyed partial-aggregated dot product; nothing
    is all-pairs, nothing collects.

    Input contract: ``id_col`` must be unique. Nothing checks it: a
    duplicated id pools two documents' term counts under one id, which
    inflates its vector and gives wrong similarities; under the
    broadcast gate the verify fails instead, with a ``map_from_entries``
    duplicate-key error. Building the result is not lazy: the verify
    side's broadcast size gate (``OW_VERIFY_BCAST_ROWS``) runs one eager
    ``count()`` at call time.
    """
    if not 0 < threshold <= 1:
        raise ValueError("prefix filtering needs a threshold in (0, 1]")
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    t_sc = int(round(threshold * 10_000)) - 1  # rounding-closed t - 1e-4
    t2_sc = t_sc * t_sc                        # (t-1e-4)^2 scaled by 1e8
    from .compiler import with_row_index

    if shingle_k == 1:
        unit = tokens(F.col(text_col))
    else:
        # NON-distinct word k-grams (counts stay a weighted vector);
        # same slice/array_join form as shingles(), minus array_distinct
        toks_ = tokens(F.col(text_col))
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks_) - (shingle_k - 1), F.lit(1)))
        unit = F.transform(idx, lambda i: F.array_join(F.slice(toks_, i, shingle_k), " "))
    # tf feeds the rank build, the suffix window AND both verify sides —
    # checkpoint once (same single-computation rule as _candidate_sets).
    # Term counts are computed IN-ROW from the sorted gram array (run
    # lengths over equal neighbors) instead of explode + groupBy: the
    # counts are per-document facts, so the 15M-row (id, gram) exchange
    # the groupBy paid bought nothing — the exploded rows were already
    # co-located.  `F.get` is 0-based and NULL-safe, so the first-run
    # guard needs no array-bounds case split.
    # s and starts are materialized as COLUMNS between projections: a
    # subexpression referenced inside an HOF lambda is re-evaluated per
    # array element (see shingles()), so inlining sort_array/filter here
    # would turn O(L) run detection into O(L^2 log L) per row.
    s_col = F.col("_s")
    starts_col = F.col("_starts")
    runs = F.transform(
        starts_col,
        lambda st, j: F.struct(
            F.element_at(s_col, st).alias("tok"),
            (
                F.coalesce(F.get(starts_col, j + 1), F.size(s_col) + 1) - st
            ).cast("bigint").alias("tf"),
        ),
    )
    tf = stats_reset_checkpoint(
        df.select(F.col(id_col), F.sort_array(unit).alias("_s"))
        .select(
            id_col,
            "_s",
            F.filter(
                F.sequence(F.lit(1), F.size("_s")),
                lambda i: (i == 1)
                | ~F.get(s_col, i - 2).eqNullSafe(F.element_at(s_col, i)),
            ).alias("_starts"),
        )
        .select(F.col(id_col), F.explode(runs).alias("r"))
        .select(id_col, F.col("r.tok").alias("tok"), F.col("r.tf").alias("tf")),
        eager=False,
    )
    ranked = (
        with_row_index(
            tf.groupBy("tok").agg(F.count("*").alias("_df")).orderBy("_df", "tok"),
            "_rank",
        )
        .select("tok", "_rank")
        .localCheckpoint(eager=False)
    )
    # counted feeds the suffix window and both verify sides (the verify
    # joins key on the INT _rank, not the string tok — narrower shuffle,
    # cheaper hash) — checkpoint once
    counted = stats_reset_checkpoint(tf.join(ranked, "tok"), eager=False)
    norms = stats_reset_checkpoint(
        tf.groupBy(id_col).agg(F.sum(F.col("tf") * F.col("tf")).alias("nsq")),
        eager=False,
    )
    # suffix squared mass: cumulative tf^2 from the rarest-first TAIL —
    # window ordered rank DESC so the running sum at a row covers every
    # rank >= that row's (inclusive)
    w = Window.partitionBy(id_col).orderBy(F.col("_rank").desc())
    positioned = counted.withColumn(
        "_sfx", F.sum(F.col("tf") * F.col("tf")).over(w)
    ).join(norms, id_col)
    prefix = stats_reset_checkpoint(
        positioned.where(
            F.col("_sfx") * F.lit(100_000_000) >= F.lit(t2_sc) * F.col("nsq")
        ).select(id_col, "_rank", "_sfx", "nsq"),
        eager=False,
    )
    # pairwise product bound (see docstring): double-evaluated with
    # relative slack — candidate-side only, the exact verify decides
    product_ok = (
        F.col("sa").cast("double") * F.col("sb").cast("double") * F.lit(1e8)
        >= F.lit(float(t2_sc) * (1.0 - 1e-9))
        * F.col("na").cast("double")
        * F.col("nb").cast("double")
    )
    # Candidate join on the INT rank (bijective with the term string —
    # narrower shuffle, cheaper hash than the 3-gram text).  A per-pair
    # partial-dot Cauchy-Schwarz bound was tried here and REMOVED: at
    # this corpus' shape it pruned ~2% of candidates (the minimum shared
    # rank is typically the pair's rarest term, where the suffix mass is
    # still ~the whole norm, so the bound collapses to the product bound
    # already applied per row) while widening the candidate exchange
    # 3.5x with the tf/suffix columns it needed — a measured net loss.
    cand = (
        prefix.select(
            F.col(id_col).alias("a"), "_rank",
            F.col("_sfx").alias("sa"), F.col("nsq").alias("na"),
        )
        .join(
            prefix.select(
                F.col(id_col).alias("b"), "_rank",
                F.col("_sfx").alias("sb"), F.col("nsq").alias("nb"),
            ),
            "_rank",
        )
        .where((F.col("a") < F.col("b")) & product_ok)
        .select("a", "b")
        .distinct()
    )
    # Verify-side strategy, size-gated (the decontam broadcast pattern).
    # The shuffle-join verify explodes candidates against both full tf
    # vectors: |cand| x avg-terms (~700M at 50k docs) rows through two
    # exchanges — measured as ~50 of 66 s of the whole operator.  When
    # the per-doc VECTOR table (one row per doc: rank->tf map + squared
    # norm) is small enough, broadcast IT instead: two broadcast hash
    # joins attach both maps to each candidate pair inside one stage
    # (no wide exchange anywhere) and the exact BIGINT dot product is a
    # per-row map-lookup fold.  The build side is |docs| rows (50k,
    # ~45 MB) — cheap to collect, unlike broadcasting the 2.6M-entry
    # (id, rank, tf) table, whose driver-side relation build was
    # measured to cost more than the shuffle it saved.  At 100-TB scale
    # the entry count exceeds the bound and the shuffle path stands
    # (the gate counts the actual materialized table, not a local-mode
    # constant; override via OW_VERIFY_BCAST_ROWS).
    if counted.count() <= _verify_bcast_rows():
        vecs = F.broadcast(
            counted.groupBy(id_col)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("_rank", "tf"))
                ).alias("m")
            )
            .join(norms, id_col)
        )
        # AQE coalesces the candidate agg to advisory-size partitions
        # (~3 at 10M pairs); with both probes broadcast the whole
        # verify stage would then pipeline on those few cores.  Re-spread
        # candidates to full parallelism first — a ~tens-of-MB hash
        # exchange that buys the wide stage its fan-out.
        cand = cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism * 2, "a", "b"
        )
        dot = F.aggregate(
            F.map_entries("ma"),
            F.lit(0).cast("bigint"),
            lambda acc, e: acc
            + e["value"] * F.coalesce(F.element_at(F.col("mb"), e["key"]), F.lit(0)),
        )
        return (
            cand.join(
                vecs.select(
                    F.col(id_col).alias("a"), F.col("m").alias("ma"),
                    F.col("nsq").alias("_na"),
                ),
                "a",
            )
            .join(
                vecs.select(
                    F.col(id_col).alias("b"), F.col("m").alias("mb"),
                    F.col("nsq").alias("_nb"),
                ),
                "b",
            )
            .select(
                "a",
                "b",
                round_ieee(
                    dot / F.sqrt((F.col("_na") * F.col("_nb")).cast("double")), 4
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )
    tfr = counted.select(id_col, "_rank", "tf")
    dots = (
        cand.join(
            tfr.select(F.col(id_col).alias("a"), "_rank", F.col("tf").alias("tfa")),
            "a",
        )
        .join(
            tfr.select(F.col(id_col).alias("b"), "_rank", F.col("tf").alias("tfb")),
            ["b", "_rank"],
        )
        .groupBy("a", "b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("_dot"))
    )
    return (
        dots.join(norms.select(F.col(id_col).alias("a"), F.col("nsq").alias("_na")), "a")
        .join(norms.select(F.col(id_col).alias("b"), F.col("nsq").alias("_nb")), "b")
        .select(
            "a",
            "b",
            round_ieee(
                F.col("_dot") / F.sqrt((F.col("_na") * F.col("_nb")).cast("double")), 4
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
