"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

Everything is built from ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen) — no Python UDFs. Hashes use an md5-prefix integer so a DuckDB
oracle can reproduce results bit-for-bit:
Spark ``conv(substr(md5(x),1,15),16,10)::bigint`` ==
DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .session import stats_reset_checkpoint

# language marker words (deterministic n-gram-ish heuristic; shared with the
# DuckDB oracle — keep in sync with oracle_sql in __spark_entry__.py)
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "with"],
    "es": ["el", "la", "de", "que", "con"],
    "fr": ["le", "la", "et", "est", "dans"],
    "de": ["der", "die", "und", "ist", "mit"],
}

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def md5_int(c: Column) -> Column:
    """60-bit integer from the md5 hex prefix (oracle-reproducible hash)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def round_ieee(c: Column, digits: int = 4) -> Column:
    """Engine-portable rounding: ``floor(x*10^d + 0.5)/10^d`` evaluates in
    pure IEEE double ops, so Spark and DuckDB produce bit-identical results
    (Spark's F.round rounds the shortest *decimal* repr HALF_UP, which
    disagrees with binary rounding on .5 boundaries)."""
    scale = float(10 ** digits)
    return F.floor(c * scale + F.lit(0.5)) / scale


def tokens(c: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(c), r"\s+")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def regex_match_structs(
    t: Column,
    pattern: str,
    fields: list,
    consts: tuple = (),
) -> Column:
    """Array of structs of capture groups for every match of ``pattern``
    in ``t``, scanning the full text ONCE.

    The naive idiom — one ``regexp_extract_all(t, p, g)`` per capture
    group, zipped — re-scans the ENTIRE text per group: a 3-group
    pattern costs three full regex passes over every document (measured
    as the dominant cost of the harvest family). Here group 0 (the full
    match) is extracted in a single pass and each group is re-extracted
    from the short match string only.

    Equivalence (why the per-match re-extraction reproduces the exact
    groups): Java regex returns the first successful parse in a
    deterministic backtracking order from the leftmost position. On the
    isolated match string every candidate parse sees the identical
    characters; candidates that previously failed against trailing
    context now fail at end-of-input instead, and no candidate can
    newly succeed because a parse over the substring is also a valid
    parse over the original text. This holds for patterns with NO
    lookaround and NO ``$`` anchor — every pattern in this family is
    Java∩RE2∩DuckDB by contract, which excludes lookaround already, and
    a trailing ``\\b`` is satisfied at end-of-string exactly when it was
    satisfied at the original match end. Non-participating optional
    groups yield ``''`` from ``regexp_extract`` just as they do from
    ``regexp_extract_all``.

    ``fields``: list of ``(name, group_index)``; ``consts``: list of
    ``(name, literal)`` prepended to each struct (pattern tags).
    """
    def _mk(s: Column) -> Column:
        cols = [F.lit(v).alias(n) for n, v in consts]
        cols += [F.regexp_extract(s, pattern, g).alias(n) for n, g in fields]
        return F.struct(*cols)

    return F.transform(F.regexp_extract_all(t, F.lit(pattern), 0), _mk)


def bpe_ish_token_count(c: Column) -> Column:
    """Sub-word-ish token count: split on whitespace AND punctuation/digit
    boundaries (a cheap BPE stand-in for budget estimation)."""
    return F.size(
        F.filter(
            F.split(c, r"[\s]+|(?=[^\w\s])|(?<=[^\w\s])"),
            lambda x: x != "",
        )
    )


def marker_count(c: Column, words: list[str]) -> Column:
    """Occurrences of any marker word (word-bounded) in lowercased text."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pattern), F.lit(1)))


def lang_id(c: Column) -> Column:
    """Pick the language whose marker words occur most often; ties resolve
    in fixed key order; no hits -> 'und'.

    Implemented as one array<struct<score,neg_rank,lang>> sort (linear in
    the language count) rather than a when-cascade that threads best_score
    through predicate + otherwise — that shape doubles the expression tree
    per branch (see assign_centroid in similarity.py)."""
    langs = sorted(LANG_MARKERS)  # fixed order => deterministic ties
    scored = F.array(*[
        F.struct(
            marker_count(c, LANG_MARKERS[lang]).alias("score"),
            F.lit(-i).alias("neg_rank"),  # on score ties, earliest lang wins
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ])
    best = F.element_at(F.array_sort(scored), -1)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(c: Column) -> Column:
    """Composite quality in [0,1]: length factor, punctuation sanity,
    stopword presence. Deterministic; rounded to 4 decimals so the DuckDB
    oracle matches despite float formatting."""
    n_chars = F.length(c).cast("double")
    n_toks = token_count(c).cast("double")
    stop_hits = marker_count(c, STOPWORDS).cast("double")
    punct = (n_chars - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))).cast("double")

    length_factor = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1.0))
    punct_factor = F.when(punct_ratio < 0.1, F.lit(1.0)).otherwise(F.lit(1.0) - punct_ratio)
    stop_factor = F.least(stop_hits / F.greatest(n_toks, F.lit(1.0)) * 5.0, F.lit(1.0))
    return round_ieee(
        length_factor * 0.4 + punct_factor * 0.3 + stop_factor * 0.3, 4
    )


def fingerprint(c: Column) -> Column:
    """Document fingerprint: md5-int of whitespace-normalized lowercase text
    (exact-dup detection key; stable across engines)."""
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return md5_int(normalized)


def fingerprint_cs(c: Column) -> Column:
    """CASE-PRESERVING fingerprint: md5-int of whitespace-normalized text
    with NO lower().

    This is the collapse key dedup's exact-family star must use: shingles,
    minhash and simhash all hash raw (case-sensitive) tokens, so the
    invariant "identical fingerprint => identical shingle set" only holds
    when the fingerprint preserves case. :func:`fingerprint` (lowercased)
    would merge case-variant docs whose shingle sets differ, silently
    dropping band pairs reachable only through the variant member."""
    return md5_int(F.regexp_replace(F.trim(c), r"\s+", " "))


def text_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All features at once over a documents-like table."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_subtokens"),
        lang_id(c).alias("lang_pred"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("fingerprint"),
    )

def top_tokens(
    df: DataFrame,
    text_col: str = "text",
    strata_col: str = "lang",
    k: int = 10,
    min_len: int = 2,
) -> DataFrame:
    """Top-k most frequent tokens per stratum (vocabulary head per
    language) -> ``(stratum, token, cnt, rank)``, deterministic tie-break
    by token.

    The corpus-scale shape: explode is map-side, the (stratum, token)
    count aggregates with a map-side partial (hot tokens like 'the' never
    concentrate raw rows on one reducer — partials arrive pre-summed), and
    the top-k window runs over the tiny distinct-token aggregate, not the
    corpus. One real shuffle on the wide data."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(strata_col).alias("stratum"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    ).where(F.length("token") >= min_len)
    counts = toks.groupBy("stratum", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("stratum").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )

def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    strata_col: str = "lang",
    exact: bool = True,
    int_e4: bool = False,
) -> DataFrame:
    """Per-stratum corpus profile -> ``(stratum, n_docs, total_tokens,
    mean_tokens, p50_tokens, p90_tokens, p99_tokens)`` — the first table
    anyone asks of a training corpus (language mix, token budget, length
    distribution tails).

    ``exact=True`` computes the interpolated percentiles from exact
    order statistics over a per-stratum *value histogram* (token counts
    have a small distinct-value domain, so the histogram is tiny even at
    corpus scale — no per-stratum buffering of raw values, unlike
    Spark's ``percentile`` UDAF) and interpolates with DuckDB's
    ``quantile_cont`` arithmetic — ``RN=(n-1)*q``, ``lo*(1-d)+hi*d`` —
    which differs from Spark's ``percentile`` (``lo+d*(hi-lo)``) in the
    last ulp for ~10% of bracketing pairs, enough to flip a
    ``floor(x*10000+0.5)`` boundary. The cross-engine gate hashes those
    integers, so the engine mirrors the oracle's exact double ops. At
    full 10^12-document scale pass ``exact=False``:
    ``percentile_approx`` streams in bounded memory (t-digest) at the
    cost of approximation — and of the oracle, which is why the checked
    query pins ``exact=True``.

    Counts and totals are exact integers either way; means divide an
    exact integer sum (identical IEEE division in both engines).

    ``int_e4=True`` emits the four distribution statistics as exact
    integer ten-thousandths (BIGINT ``*_e4`` columns,
    ``floor(x*10000 + 0.5)``) instead of doubles — integers cannot
    diverge across engines' float *serialization*, so this is the
    variant the cross-engine correctness gate pins. In that variant
    ``total_tokens`` is emitted as DOUBLE: the reference oracle's
    uncast ``sum(BIGINT)`` is a DuckDB HUGEINT, which materializes as
    float64 on the comparison side, and a dtype-faithful gate hashes
    int64 ``11757`` differently from float64 ``11757.0`` — the value is
    still the exact integer sum (exact in IEEE double far beyond any
    realistic token budget at profile scale)."""
    # a NULL text has no token count (``size`` of the NULL split is -1):
    # it counts in n_docs but, as in DuckDB's sum/avg/quantile_cont, in
    # none of the token statistics
    text = F.col(text_col)
    base = df.select(
        F.col(strata_col).alias("stratum"),
        F.when(text.isNotNull(), token_count(text)).alias("n_toks"),
    )
    if not exact:
        pct = [F.percentile_approx("n_toks", q).cast("double") for q in (0.5, 0.9, 0.99)]
        if int_e4:
            def stat(c: Column, name: str) -> Column:
                return F.floor(c * 10000.0 + F.lit(0.5)).cast("long").alias(name + "_e4")
            stats = [
                stat(F.avg("n_toks"), "mean_tokens"),
                stat(pct[0], "p50_tokens"),
                stat(pct[1], "p90_tokens"),
                stat(pct[2], "p99_tokens"),
            ]
        else:
            stats = [
                round_ieee(F.avg("n_toks"), 4).alias("mean_tokens"),
                round_ieee(pct[0], 4).alias("p50_tokens"),
                round_ieee(pct[1], 4).alias("p90_tokens"),
                round_ieee(pct[2], 4).alias("p99_tokens"),
            ]
        return base.groupBy("stratum").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            *stats,
        )

    from pyspark.sql import Window

    # Value histogram: one map-side-combined agg over the corpus, then
    # windows over the tiny (stratum, distinct-length) table only.
    hist = base.groupBy("stratum", "n_toks").agg(F.count("*").alias("cnt"))
    w_ord = Window.partitionBy("stratum").orderBy("n_toks")
    w_all = Window.partitionBy("stratum")
    counted = F.when(F.col("n_toks").isNotNull(), F.col("cnt"))
    cum = hist.select(
        "stratum",
        "n_toks",
        F.sum(counted).over(w_ord).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_docs"),
        F.sum(counted).over(w_all).alias("n_counted"),
        F.sum(F.col("cnt") * F.col("n_toks")).over(w_all).alias("total_tokens"),
    )
    # DuckDB order-statistic indices: RN=(n-1)*q (double), lo=v[floor(RN)],
    # hi=v[ceil(RN)] over the n non-NULL values; a histogram row with
    # cumulative count `cum` covers 0-based sorted indices [cum-cnt, cum-1],
    # so v[k] = min value with cum>k (the NULL row, sorted first, adds none).
    aggs = [
        F.max("n_docs").alias("n_docs"),
        F.max("n_counted").alias("n_counted"),
        F.max("total_tokens").alias("total_tokens"),
    ]
    for q, nm in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        rn = (F.col("n_counted") - 1).cast("double") * F.lit(q)
        aggs.append(F.min(F.when(F.col("cum") > F.floor(rn), F.col("n_toks"))).alias(nm + "_lo"))
        aggs.append(F.min(F.when(F.col("cum") > F.ceil(rn), F.col("n_toks"))).alias(nm + "_hi"))
    agg = cum.groupBy("stratum").agg(*aggs)

    mean = F.col("total_tokens").cast("double") / F.col("n_counted").cast("double")

    def quantile(nm: str, q: float) -> Column:
        rn = (F.col("n_counted") - 1).cast("double") * F.lit(q)
        d = rn - F.floor(rn).cast("double")
        lo = F.col(nm + "_lo").cast("double")
        hi = F.col(nm + "_hi").cast("double")
        return lo * (F.lit(1.0) - d) + hi * d

    if int_e4:
        def out(c: Column, name: str) -> Column:
            return F.floor(c * 10000.0 + F.lit(0.5)).cast("long").alias(name + "_e4")
        total = F.col("total_tokens").cast("double").alias("total_tokens")
    else:
        def out(c: Column, name: str) -> Column:
            return round_ieee(c, 4).alias(name)
        total = F.col("total_tokens")
    return agg.select(
        "stratum",
        "n_docs",
        total,
        out(mean, "mean_tokens"),
        out(quantile("p50", 0.5), "p50_tokens"),
        out(quantile("p90", 0.9), "p90_tokens"),
        out(quantile("p99", 0.99), "p99_tokens"),
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition quality signals (the Gopher-rules family:
    boilerplate and SEO spam show up as repeated n-grams long before a
    human label exists) -> ``(id, n_bigrams, top_bigram_frac,
    dup_token_frac)``. Documents with < 2 tokens produce no bigrams and
    are dropped (nothing to measure).

    Scale shape: ONE scan of the corpus. The duplicate-token fraction is
    computed row-local (``array_distinct`` HOF) before the bigram explode
    and rides through both aggregations as a ``first()`` (it is constant
    per doc_id), so there is no second scan and no join. The explode is
    map-side; both aggregations are keyed by doc_id (+bigram), unique-ish
    by construction — no hub keys, map-side partials absorb the counts."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("l")).where(F.size("l") >= 2)
    n = F.size("l")
    bigrams = F.transform(
        F.slice("l", 1, n - 1),
        lambda x, i: F.concat(x, F.lit(" "), F.element_at(F.col("l"), i + F.lit(2))),
    )
    dup_frac = round_ieee(
        (n - F.size(F.array_distinct("l"))) / n, 4
    )
    return (
        base.select(id_col, dup_frac.alias("df_"), F.explode(bigrams).alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count("*").alias("c"), F.first("df_").alias("df_"))
        .groupBy(id_col)
        .agg(
            F.max("c").alias("mx"),
            F.sum("c").alias("tot"),
            F.first("df_").alias("df_"),
        )
        .select(
            id_col,
            F.col("tot").alias("n_bigrams"),
            round_ieee(F.col("mx") / F.col("tot"), 4).alias("top_bigram_frac"),
            F.col("df_").alias("dup_token_frac"),
        )
    )


# PII patterns restricted to the regex intersection of Java (Spark) and
# RE2 (DuckDB/oracle): no lookaround, no backrefs — both engines agree on
# every construct used here, which is what makes scrub_pii oracle-checkable.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"(?:\+?\d{1,2}[-. ]?)?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
}


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Redact emails, IPv4 addresses, and phone numbers from ``text_col``
    -> the input plus per-category match counts (``n_email`` / ``n_ipv4``
    / ``n_phone``) and the redacted ``out_col`` — the pre-training scrub
    pass every web-corpus pipeline runs before releasing data.

    Scale shape: a pure zero-shuffle projection — counts via
    ``regexp_count`` on the original text, then the three replacements
    applied in PII_PATTERNS order (email before ipv4 before phone, so a
    numeric fragment inside an already-redacted span can't double-match).
    All JVM-side regex; no Python in the loop.
    """
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, (pat, _) in PII_PATTERNS.items()
    ]
    clean = text
    for pat, repl in PII_PATTERNS.values():
        clean = F.regexp_replace(clean, pat, repl)
    return df.select("*", *counts, clean.alias(out_col))

def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 3,
    max_df_frac: float = 0.5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF ->
    ``(doc, token, tf, df_t, score, rank)`` — the keyword/topic signal a
    corpus pipeline attaches to every page (reference scope: none; its
    text handling stops at transformers, SURVEY §2.1).

    Cross-engine exactness: the idf is the *rational* ``(scale * N) DIV
    df_t`` (BIGINT floor division) rather than ``ln(N/df)`` — log is
    monotone in ``N/df`` so per-term idf ORDER is identical, and pure
    integer arithmetic makes the scores (and therefore the hash oracle)
    bit-identical in any engine, where a libm ``ln`` is only ~1-ulp
    reproducible. ``score = tf * ((scale*N) DIV df_t)``.

    Scale shape (10^12 docs): a document's tokens are already co-located
    in its own row, so the (doc, token) tf frame is computed PER ROW with
    zero shuffle — distinct tokens exploded, each counted by a correlated
    ``F.filter`` over the bound token array (O(len^2) comparisons per doc
    vs a corpus-wide shuffle; the naive explode+groupBy spent 5 of 7
    seconds at 500k docs in exactly that exchange). The df agg over this
    pre-distinct frame then ships only map-side partial counts (one per
    token per task). The one remaining skew hazard is the tf<-df_t join
    on ``token`` (Zipf: 'the' joins 10^12 rows to one). Two mitigations:
    (a) tokens in more than ``max_df_frac`` of docs — a FEW THOUSAND
    stopword-ish keys at any corpus size, but the bulk of token mass —
    are broadcast-anti-filtered OUT of the wide side before the shuffle
    (their idf rounds to ~0 anyway, so they never rank); (b) residual
    mid-frequency heads split under AQE skew-join. The final top-k window
    partitions by doc — uniform by construction.
    """
    from pyspark.sql import Window

    arr = df.select(
        F.col(id_col).alias("doc"),
        F.filter(
            tokens(F.lower(F.col(text_col))),
            lambda x: F.length(x) >= min_len,
        ).alias("_toks"),
    )
    tf = arr.select(
        "doc",
        F.explode(F.array_distinct("_toks")).alias("token"),
        "_toks",
    ).select(
        "doc",
        "token",
        F.size(
            F.filter(F.col("_toks"), lambda x: x == F.col("token"))
        ).cast("long").alias("tf"),
    )
    n = df.agg(F.count("*").alias("n_docs"))
    # vocab-sized (token, df_t, n_docs), lazily checkpointed: its three
    # consumers (hot set, keep side, idf) share ONE corpus pass — without
    # this Spark re-plans the whole explode+agg per consumer (measured: 5
    # corpus scans; ReuseExchange does not fire across these subtrees)
    dft = (
        tf.groupBy("token")
        .agg(F.count("*").alias("df_t"))
        .crossJoin(F.broadcast(n))
        .localCheckpoint(eager=False)
    )
    cut = F.lit(float(max_df_frac)) * F.col("n_docs")
    hot = dft.where(F.col("df_t") > cut)
    scored = (
        tf.join(F.broadcast(hot.select("token")), "token", "left_anti")
        .join(dft.where(F.col("df_t") <= cut), "token")
        .withColumn(
            "score",
            F.col("tf") * F.expr(f"(CAST({scale} AS BIGINT) * n_docs) DIV df_t"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc", "token", "tf", "df_t", "score", "rank")
    )

def strip_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_line_docs: int = 10,
    out_col: str = "clean_text",
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: drop every LINE that
    occurs in more than ``max_line_docs`` distinct documents (nav bars,
    cookie banners, copyright footers) and reassemble each document's
    remaining lines in order -> ``(id, clean_text, n_kept, n_removed)``.
    Documents whose every line is boilerplate survive with ``clean_text
    = ''`` (the caller decides whether to filter empties).

    Scale shape (10^12 docs): lines shuffle for the doc-frequency agg as
    their 60-bit md5 key + map-side-partial distinct doc counts — the
    line TEXT never shuffles there. The hot-line set (df > threshold) is
    tiny by Zipf at any corpus size — boilerplate is frequent, so there
    are few distinct such lines — and broadcast-anti-joins the corpus
    map-side: the only full-width shuffle is the per-doc reassembly,
    keyed on the doc id (uniform). Deterministic: the md5 key makes the
    decision engine- and partition-invariant (the DuckDB oracle groups by
    the raw line, an equivalent but independent derivation).
    """
    text, did = F.col(text_col), F.col(id_col)
    lines = df.select(
        did.alias("id"),
        F.posexplode(F.split(text, "\n")).alias("pos", "line"),
    ).withColumn("lh", md5_int(F.col("line")))
    hot = (
        lines.groupBy("lh")
        .agg(F.countDistinct("id").alias("line_df"))
        .where(F.col("line_df") > max_line_docs)
        .select("lh")
    )
    kept = lines.join(F.broadcast(hot), "lh", "left_anti")
    agg = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(out_col),
        F.count("*").alias("n_kept"),
    )
    return (
        df.select(did.alias("id"), F.size(F.split(text, "\n")).alias("n_total"))
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 3,
) -> DataFrame:
    """Materialize the corpus inverted index -> ``(token, df_t, total_tf,
    postings)`` where ``postings`` is the doc-id-sorted ``"doc:tf"`` list
    rendered as one space-joined string (a STRING, not array<struct>, so
    the value is hash-comparable byte-for-byte across engines).

    Scale shape: the (doc, token) tf agg is map-side-partial; the posting
    assembly groups by token — hot tokens concentrate their postings on
    one reducer, which is intrinsic to building an inverted index (each
    token's list must meet). At 10^12 docs a full stopword posting list
    is unusable anyway — cap it upstream with ``tfidf_top_terms``-style
    df pruning, or partition the index by token range (the output is
    write-partitionable on ``substr(token,1,1)``).
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    ).where(F.length("token") >= min_len)
    tf = toks.groupBy("token", "doc").agg(F.count("*").alias("tf"))
    return tf.groupBy("token").agg(
        F.count("*").cast("long").alias("df_t"),
        F.sum("tf").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc", "tf"))),
                lambda s: F.concat_ws(":", s["doc"].cast("string"), s["tf"].cast("string")),
            ),
            " ",
        ).alias("postings"),
    )

def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Sliding-window context chunking: split each document's token stream
    into ``chunk_tokens``-sized windows advancing by ``chunk_tokens -
    overlap`` -> ``(id, chunk_id, chunk, n_chunk_toks)`` — how a corpus
    becomes model-sized training rows.

    Scale shape: a pure per-row generate-and-explode (``F.sequence`` of
    window starts + ``slice``/``array_join``) — ZERO shuffle, composes
    with scan pushdown, and the token array is built once per row (the
    round-4 HOF-CSE lesson: slice on a bound array, never re-split per
    window). The last window is naturally short (slice clamps); a doc
    shorter than one window yields exactly one chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(F.lower(F.col(text_col)))
    return (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.sequence(F.lit(0), F.size(toks) - 1, F.lit(step))
            ).alias("chunk_id", "start"),
            toks.alias("_toks"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice(F.col("_toks"), F.col("start") + 1, chunk_tokens), " "
            ).alias("chunk"),
            F.size(
                F.slice(F.col("_toks"), F.col("start") + 1, chunk_tokens)
            ).alias("n_chunk_toks"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    partitions: int | None = None,
) -> DataFrame:
    """Assign each document to its fixed-length training sequence by
    GLOBAL token offset in ``id_col`` order -> ``(id, n_toks, start_tok,
    seq_id)`` where ``seq_id = start_tok DIV seq_len`` — the deterministic
    document-level approximation of sequence packing (concatenate docs in
    key order, cut every ``seq_len`` tokens; a doc belongs to the
    sequence where it starts).

    Scale shape — a global ordered cumulative sum WITHOUT the
    single-partition Window trap: ``repartitionByRange(id)`` gives
    disjoint ordered key ranges, the cumsum runs per range partition
    (uniform work), and the per-partition token totals — one row per
    partition — get a tiny single-partition cumulative window whose
    offsets broadcast back. Global order = (range pid, id) = id order,
    regardless of where the sampled range boundaries land, so the result
    is partition-count-invariant (property-tested). Requires ``id_col``
    to be unique (it is the doc key).
    """
    n_part = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ntok = token_count(F.col(text_col))
    d = (
        df.select(F.col(id_col), ntok.cast("long").alias("n_toks"))
        .repartitionByRange(n_part, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    from pyspark.sql import Window

    w_in = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = d.groupBy("_pid").agg(F.sum("n_toks").alias("_tot"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_pid", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        d.withColumn("_cum", F.sum("n_toks").over(w_in))
        .join(F.broadcast(offs), "_pid")
        .withColumn(
            "start_tok", (F.col("_off") + F.col("_cum") - F.col("n_toks")).cast("long")
        )
        .withColumn("seq_id", F.expr(f"start_tok DIV CAST({seq_len} AS BIGINT)"))
        .select(id_col, "n_toks", "start_tok", "seq_id")
    )


def hashed_weights(
    spark, n_buckets: int = 4096, seed: int = 0, weight_range: int = 1000
) -> DataFrame:
    """Deterministic synthetic weight table ``(bucket, weight)`` for
    :func:`hashed_linear_score` tests/benchmarks: ``weight =
    md5_int('w:' seed ':' bucket) % (2*range+1) - range``. A real
    pipeline loads trained weights from parquet instead; this stands in
    so the classifier PLUMBING is oracle-checkable end to end (the rule
    is one line of ANSI SQL over ``range(n_buckets)``)."""
    b = F.col("id").cast("string")
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (
            md5_int(F.concat(F.lit(f"w:{seed}:"), b)) % (2 * weight_range + 1)
            - weight_range
        ).alias("weight"),
    )


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    min_len: int = 1,
    threshold: int | None = None,
) -> DataFrame:
    """fastText-shaped linear classifier over hashed bag-of-words ->
    ``(id, score[, keep])`` — the 'trained quality filter' stage of
    modern corpus pipelines (DCLM/FineWeb-style model-based filtering),
    with the model as DATA: ``weights`` is a ``(bucket, weight)`` frame
    (BIGINT weights — train-side scaling keeps inference in exact integer
    arithmetic, so the decision is bit-identical in any engine and the
    whole operator hash-oracle-checks; reference scope: none).

    ``score(doc) = sum over tokens t of weight[md5_int(t) % n_buckets]``
    (absent buckets weigh 0); ``keep = score >= threshold`` when a
    threshold is given.

    Scale shape (10^12 docs): tokens explode and join the BROADCAST
    weight table (a model of 10^6 buckets is a few MB — always broadcast,
    never a shuffle side), then one sum keyed on the doc id — map-side
    partials absorb the token volume, and the key is uniform by
    construction. Python never runs.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).where(F.length("tok") >= min_len)
    scored = (
        toks.select("id", (md5_int(F.col("tok")) % n_buckets).alias("bucket"))
        .join(F.broadcast(weights), "bucket", "left")
        .groupBy("id")
        .agg(F.sum(F.coalesce("weight", F.lit(0))).alias("score"))
    )
    if threshold is not None:
        scored = scored.withColumn("keep", F.col("score") >= F.lit(threshold))
    return scored


def lm_fluency(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Corpus-trained bigram-LM fluency score per document ->
    ``(id, n_bigrams, fluency)`` — the perplexity-filter stage of
    CCNet/RefinedWeb-style pipelines, with the MLE bigram model trained on
    the corpus itself and EVERY operation exact integer arithmetic, so the
    scores are bit-identical across engines and partitionings (a real
    KenLM log-prob is float and could never hash-match an oracle; the
    rational mean-transition-probability below ranks documents the same
    way for filtering purposes).

    Per consecutive token pair: ``p = scale * c(w1,w2) DIV c(w1 .)`` with
    corpus-wide counts (``c(w1 .)`` = occurrences of ``w1`` as a bigram
    prefix, so ``p`` is the scaled MLE transition probability in
    ``[0, scale]``). Doc fluency = occurrence-weighted mean of ``p``:
    high = the document's transitions are the corpus's common transitions;
    low = garbled/noisy/out-of-domain text — the tail a perplexity filter
    cuts. Documents with < 2 tokens have no bigrams and are dropped.

    Overflow bound: ``scale * c2`` must fit signed-64, i.e. the hottest
    single bigram must occur < ~9.2e12 times (at 1e13 corpus bigrams the
    hottest English bigram is ~1e11 — two orders inside the bound); lower
    ``scale`` for corpora beyond that.

    Scale shape: ONE corpus scan builds per-doc bigram occurrence counts
    (groupBy with map-side partials); the corpus model is one further
    aggregate OVER those per-doc counts (no second scan); scoring is one
    join keyed on (w1,w2) + one keyed on w1 + a per-doc sum. Zipf-hot
    bigram keys skew the model joins — the model side is one row per key,
    exactly the shape AQE skew-join splits."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("l")).where(F.size("l") >= 2)
    n = F.size("l")
    bigrams = F.arrays_zip(
        F.slice("l", 1, n - 1).alias("w1"), F.slice("l", 2, n - 1).alias("w2")
    )
    doc_bg = (
        base.select(id_col, F.explode(bigrams).alias("bg"))
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("k"))
    )
    # model aggregates reuse doc_bg (localCheckpoint: scored joins it too —
    # without it the corpus scan + explode would run three times)
    doc_bg = doc_bg.localCheckpoint(eager=False)
    model2 = doc_bg.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    model1 = model2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        doc_bg.join(model2, ["w1", "w2"])
        .join(model1, "w1")
        .select(
            F.col(id_col), "k",
            F.expr(f"CAST({scale} AS BIGINT) * c2 DIV c1").alias("p"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("k").alias("n_bigrams"),
        F.expr("CAST(sum(k * p) DIV sum(k) AS BIGINT)").alias("fluency"),
    )


def importance_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
) -> DataFrame:
    """DSIR-style domain-relevance importance weights ->
    ``(id, n_tokens, weight)``: how much each document's hashed-unigram
    profile looks like the TARGET slice of the corpus (``target_pred``,
    e.g. ``F.col("lang") == "en"``) relative to the corpus overall.

    Per hashed token bucket ``b``: ``r(b) = scale * target_count(b) DIV
    corpus_count(b)`` (target rows are a subset of the corpus, so
    ``r <= scale``; the relative-frequency normalizers T/C are constant
    factors that cancel for ranking and are omitted to stay inside
    signed-64 at any corpus size). Doc weight = occurrence-weighted mean
    of ``r`` over the document's tokens — the sampling weight used to
    up-select target-like documents from a generic crawl (Xie et al.'s
    DSIR uses hashed n-gram log-ratios; the rational form keeps the
    ranking and is engine-exact).

    Scale shape: ONE scan builds per-doc bucket counts; corpus and target
    histograms are two further aggregates over those partials (the target
    one re-uses the per-doc frame filtered by ``target_pred`` carried as a
    0/1 flag — no join back to the raw corpus); scoring is one join keyed
    on the 4096-ary bucket (broadcast: the histogram is tiny) + a per-doc
    sum. Python never runs.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.when(target_pred, F.lit(1)).otherwise(F.lit(0)).alias("_t"),
        toks.alias("l"),
    ).where(F.size("l") >= 1)
    doc_b = (
        base.select(id_col, "_t", F.explode("l").alias("tok"))
        .select(id_col, "_t", F.pmod(md5_int(F.col("tok")), F.lit(n_buckets)).alias("b"))
        .groupBy(id_col, "_t", "b")
        .agg(F.count("*").alias("k"))
        .localCheckpoint(eager=False)  # feeds the histogram AND the scoring join
    )
    hist = doc_b.groupBy("b").agg(
        F.sum("k").alias("cb"),
        F.sum(F.col("k") * F.col("_t")).alias("tb"),
    )
    scored = doc_b.join(F.broadcast(hist), "b").select(
        F.col(id_col), "k",
        F.expr(f"CAST({scale} AS BIGINT) * tb DIV cb").alias("r"),
    )
    return scored.groupBy(id_col).agg(
        F.sum("k").alias("n_tokens"),
        F.expr("CAST(sum(k * r) DIV sum(k) AS BIGINT)").alias("weight"),
    )


def corpus_rollup(
    df: DataFrame,
    dims: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """CUBE rollup of corpus volume over the given dimensions (default
    ``[lang, source]``) -> one row per grouping-set cell with ``n_docs``
    and ``n_tokens``; rolled-up dimensions are NULL (the standard CUBE
    encoding). The reference has no grouping-set surface at all
    (SURVEY.md §2.5); this is the corpus-reporting query every curation
    dashboard runs, expressed as ONE aggregate — Spark expands the cube
    map-side (grouping-set expansion before the exchange), so the cost is
    one shuffle of (2^dims x groups) partial rows, not 2^dims scans."""
    dims = dims or ["lang", "source"]
    return (
        df.cube(*[F.col(d) for d in dims])
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(F.col(text_col))).alias("n_tokens"),
        )
    )


def length_quantiles(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    qs: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact linear-interpolated token-length quantiles per group ->
    ``(group, n_docs, p25, p50, ...)`` — the corpus length-profile report
    (truncation budgets, outlier cuts) computed WITHOUT ever buffering a
    group's values: a ``percentile``-style aggregate holds all values of
    a group in one reducer's memory, which is exactly what dies on a
    10^9-doc language. Here the lengths collapse to a VALUE HISTOGRAM
    first (token counts are small integers — thousands of distinct
    values, independent of corpus size); the quantiles then come from the
    histogram's cumulative ranges with the standard ``lower + frac *
    (upper - lower)`` interpolation (numpy's 'linear', DuckDB's
    quantile_cont), rounded via round_ieee for engine-exact comparison.

    Scale shape: one map-side-combinable (group, length) count, a window
    cumsum over the tiny histogram, one final per-group aggregate."""
    from pyspark.sql import Window

    n = token_count(F.col(text_col))
    hist = (
        df.select(F.col(group_col).alias("g"), n.alias("v"))
        .groupBy("g", "v")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("g").orderBy("v")
    ranges = hist.select(
        "g", "v", "c",
        (F.sum("c").over(w) - F.col("c")).alias("s"),   # first rank of v
        (F.sum("c").over(w) - F.lit(1)).alias("e"),     # last rank of v
    )
    totals = ranges.groupBy("g").agg(F.sum("c").alias("m"))
    j = ranges.join(totals, "g")
    # two phases: the agg picks each quantile's bracketing histogram values
    # (lo/hi ranks are per-row constants within a group — m is constant —
    # so the when-match collapses under max); the select then interpolates
    aggs = [F.first("m").alias("m")]
    names = []
    for q in qs:
        name = f"p{q * 100:g}".replace(".", "_")  # :g kills fp str artifacts
        names.append(name)
        pos = F.lit(q) * (F.col("m") - 1).cast("double")
        lo = F.floor(pos).cast("long")
        hi = F.least(lo + 1, F.col("m") - 1)
        aggs.append(
            F.max(F.when((F.col("s") <= lo) & (F.col("e") >= lo), F.col("v")))
            .alias(f"_{name}_lo")
        )
        aggs.append(
            F.max(F.when((F.col("s") <= hi) & (F.col("e") >= hi), F.col("v")))
            .alias(f"_{name}_hi")
        )
    grouped = j.groupBy("g").agg(*aggs)
    outs = []
    for q, name in zip(qs, names):
        pos = F.lit(q) * (F.col("m") - 1).cast("double")
        lo = F.floor(pos).cast("long")
        outs.append(
            round_ieee(
                F.col(f"_{name}_lo").cast("double")
                + (pos - lo.cast("double"))
                * (F.col(f"_{name}_hi") - F.col(f"_{name}_lo")).cast("double"),
                4,
            ).alias(name)
        )
    return grouped.select(
        F.col("g").alias(group_col), F.col("m").alias("n_docs"), *outs
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group ->
    ``(group, n_kept, estimate)`` — cardinality estimation whose sketch is
    DETERMINISTIC (md5 order statistics), unlike HLL whose register
    layout differs per engine: the classic estimator ``(k-1) / x_(k)``
    with ``x_(k)`` the k-th smallest normalized hash. Groups with fewer
    than k distinct keys report their EXACT count (the estimator is only
    defined past k). The per-language vocabulary-size probe at corpus
    scale, where exact count-distinct of tokens is a full shuffle of the
    token universe.

    Scale shape: dedupe to (group, hash) with map-side partials, rank
    within group (the shuffle is keyed on the group; only ranks <= k
    survive to the final tiny aggregate). A production streaming sketch
    bounds the intermediate at k per partition with a custom Aggregator;
    the declarative form here trades that for zero custom code while
    keeping the identical estimate (documented trade)."""
    from pyspark.sql import Window

    hashed = (
        df.select(F.col(group_col).alias("g"), md5_int(F.col(key_col).cast("string")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    ranked = hashed.withColumn("r", F.row_number().over(w)).where(F.col("r") <= k)
    return (
        ranked.groupBy("g")
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("_kth"))
        .select(
            F.col("g").alias(group_col),
            "n_kept",
            F.when(F.col("n_kept") < k, F.col("n_kept"))
            .otherwise(
                F.floor(
                    F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.col("_kth").cast("double")
                    + F.lit(0.5)
                ).cast("long")
            )
            .alias("estimate"),
        )
    )


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    k_merges: int = 6,
    lowercase: bool = True,
) -> DataFrame:
    """Distributed BPE merge-rule training (Sennrich et al.) ->
    ``(step, a, b, cnt)``: the first ``k_merges`` learned merge rules with
    their corpus pair counts — the tokenizer-vocabulary stage of a
    training-data pipeline, run on the cluster instead of a single
    machine streaming the corpus.

    The scale trick is the WORD-FREQUENCY collapse: BPE statistics only
    depend on (distinct word, count), so the corpus scans ONCE into a
    frequency table and every merge round works over distinct words
    (Zipf: millions of rows, not trillions). Words are kept as
    DOUBLE-spaced symbol strings (``  l  o  w  </w>  ``); a merge round is
    - one explode + map-side-combinable (a, b) weighted count,
    - a 1-row deterministic top-1 (ORDER BY cnt DESC, a, b — Spark plans
      TakeOrderedAndProject, never a global sort) broadcast back,
    - one literal string replace `` a  b `` -> `` ab `` (single leading /
      trailing space in the pattern). The double separator is load-bearing:
      each match consumes ONE of the two spaces on each side and the
      replacement restores it, so adjacent occurrences (``a a a a`` under
      merge (a,a)) still match in the same left-to-right pass — with
      single-space separators the shared boundary space breaks chained
      merges. Literal replace is left-to-right non-overlapping in every
      engine: exactly BPE's greedy rescan.
    The whole k-round plan is LAZY: no collect, no driver sync; per-round
    localCheckpoint keeps the plan constant-size.

    Ties break lexicographically (cnt DESC, a ASC, b ASC) so the learned
    table is a pure function of the corpus — hash-matchable against an
    unrolled-CTE oracle. If the vocabulary exhausts before ``k_merges``
    (every word a single symbol), remaining rounds emit no rows."""
    c = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    words = df.select(F.explode(tokens(c)).alias("w")).where(F.col("w") != "")
    wf = words.groupBy("w").agg(F.count("*").alias("freq"))
    sym = wf.select(
        F.concat(
            F.lit("  "), F.array_join(F.split(F.col("w"), ""), "  "), F.lit("  </w>  ")
        ).alias("s"),
        "freq",
    ).localCheckpoint(eager=False)
    merges = None
    for r in range(1, k_merges + 1):
        toks_arr = F.split(F.trim(F.col("s")), "  ")
        n = F.size(toks_arr)
        pairs_arr = F.arrays_zip(
            F.slice(toks_arr, 1, n - 1).alias("a"), F.slice(toks_arr, 2, n - 1).alias("b")
        )
        pairs = sym.select(F.explode(pairs_arr).alias("p"), "freq").select(
            F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq"
        )
        counts = pairs.groupBy("a", "b").agg(F.sum("freq").alias("cnt"))
        top1 = counts.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)
        row = top1.select(F.lit(r).alias("step"), "a", "b", "cnt")
        merges = row if merges is None else merges.unionByName(row)
        sym = (
            sym.crossJoin(F.broadcast(top1.select("a", "b")))
            .select(
                F.replace(
                    F.col("s"),
                    F.concat(F.lit(" "), F.col("a"), F.lit("  "), F.col("b"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")),
                ).alias("s"),
                "freq",
            )
            .transform(lambda _d: stats_reset_checkpoint(_d, eager=False))
        )
    return merges


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k collocations (word2vec-style phrase detection) ->
    ``(x, y, cxy, score)``: adjacent token pairs ranked by a scaled
    RATIONAL PMI surrogate ``score = scale * c(x,y) DIV (c(x) * c(y))``.
    True PMI is ``log`` of that ratio times a corpus constant — ``log`` is
    monotone and the constant is shared by every pair, so the RANKING is
    exactly PMI's while every operation stays BIGINT (engine-exact; a
    libm log never hash-matches an oracle). ``min_count`` drops rare
    pairs, the standard PMI noise guard.

    Overflow bound: ``c(x)*c(y)`` must fit signed-64 — i.e. the two
    hottest unigrams' count product below ~9.2e18 (at 1e13 tokens the
    hottest English unigram is ~5e11, product ~2.5e23: for such corpora
    pre-scale counts down or raise min_count; documented, not guarded,
    because the token distribution is unknown until runtime).

    Scale shape: same one-scan bigram machinery as lm_fluency; unigram
    counts fold map-side; the final global top-k is TakeOrderedAndProject
    (per-partition heaps), never a full sort."""
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(toks.alias("l")).where(F.size("l") >= 2)
    n = F.size("l")
    uni = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c1"))
    )
    bigr = (
        base.select(
            F.explode(
                F.arrays_zip(
                    F.slice("l", 1, n - 1).alias("x"), F.slice("l", 2, n - 1).alias("y")
                )
            ).alias("p")
        )
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("cxy"))
        .where(F.col("cxy") >= min_count)
    )
    scored = (
        bigr.join(uni.select(F.col("t").alias("x"), F.col("c1").alias("cx")), "x")
        .join(uni.select(F.col("t").alias("y"), F.col("c1").alias("cy")), "y")
        .select(
            "x", "y", "cxy",
            F.expr(f"CAST({scale} AS BIGINT) * cxy DIV (cx * cy)").alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("x"), F.asc("y")).limit(k)


def duplicated_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the Gopher/Dolma repetition
    signal the reference has no analog for: for each document, the share of
    its token n-gram WINDOWS whose exact n-gram occurs more than once in the
    whole corpus (counting every window occurrence, including repeats inside
    one document). Docs assembled from boilerplate score high; novel text
    scores ~0. Returns ``(id_col, n_windows, n_dup_windows, dup_frac)`` with
    ``dup_frac`` IEEE-rounded to 4 digits so a SQL oracle matches
    bit-for-bit. Documents shorter than ``n`` tokens contribute their single
    partial-prefix window (same clamping as :func:`~.dedup.shingles`).

    100-TB shape: the window explode is a flat map; corpus counts are one
    hash aggregate on the n-gram hash with map-side partial combine (a
    boilerplate gram seen 10^9 times collapses to one row per map
    partition); the count join back is co-partitioned with the agg, and the
    per-doc rollup is one more hash aggregate. No windows, no sort, three
    necessary shuffles.
    """
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(sz - (n - 1), F.lit(1)))
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
        ).alias("_gram"),
    ).select(id_col, md5_int(F.col("_gram")).alias("_g"))
    counts = grams.groupBy("_g").agg(F.count("*").alias("_c"))
    return (
        grams.join(counts, "_g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)).alias("n_dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            round_ieee(F.col("n_dup_windows") / F.col("n_windows"), 4).alias("dup_frac"),
        )
    )



def _cms_cells(token: Column, d: int, w: int) -> Column:
    """The (row, bucket) cell array for one token — the ONE definition of
    the CMS hash family (``md5('cms<i>:' || token) % w``). Sketch build
    and estimate probing must agree bit-for-bit or estimates read the
    wrong buckets; sharing the expression makes that structural."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: F.struct(
            i.cast("int").alias("row"),
            (
                md5_int(F.concat(F.lit("cms"), i.cast("string"), F.lit(":"), token))
                % w
            ).cast("int").alias("bucket"),
        ),
    )


def cms_sketch(
    df: DataFrame,
    text_col: str = "text",
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Count-min sketch of the corpus token frequencies ->
    ``(row, bucket, c)`` with exactly ``d * w`` possible rows — FIXED-SIZE
    state no matter the corpus size, which is the whole point at 10^12
    documents: the exact token count table is Zipf-huge, the sketch is
    4 KB-ish and mergeable across partitions/batches by plain addition.
    Hash row ``i`` buckets a token at ``md5('cms<i>:' || token) % w``,
    so the sketch is a DETERMINISTIC pure function of the corpus (unlike
    library CMS implementations whose seeds differ per engine) and a SQL
    oracle rebuilds it bit-for-bit.

    Scale shape: one token explode (flat map) fans out ``d`` (row, bucket)
    cells per occurrence via a nested transform/posexplode, then ONE hash
    aggregate; map-side partial combine bounds what reaches the exchange
    at ``d * w`` rows PER PARTITION regardless of token skew — the
    hottest token in the corpus costs the shuffle nothing extra.
    """
    cells = df.select(
        F.explode(tokens(F.col(text_col))).alias("_tok")
    ).select(F.explode(_cms_cells(F.col("_tok"), d, w)).alias("_cell"))
    return (
        cells.groupBy(F.col("_cell.row").alias("row"), F.col("_cell.bucket").alias("bucket"))
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Point-query the count-min sketch for each probe token: the estimate
    is ``min`` over the ``d`` hash rows of the bucket counters — an upper
    bound on the true count (CMS never under-counts). Adds ``cms_n`` to
    the probe frame.

    Scale shape: the sketch is at most ``d * w`` rows, so it BROADCASTS;
    probing any number of tokens is a map-side join + one (token-keyed)
    min aggregate. Absent buckets count 0 (coalesce), though with corpus
    data every bucket of a real token's row exists.
    """
    from pyspark.sql.functions import broadcast

    keys = probes.select(
        token_col,
        F.explode(_cms_cells(F.col(token_col), d, w)).alias("_cell"),
    ).select(token_col, "_cell.row", "_cell.bucket")
    joined = keys.join(broadcast(sketch), ["row", "bucket"], "left")
    est = joined.groupBy(token_col).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_n")
    )
    return probes.join(est, token_col)


def bpe_apply(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize the corpus with TRAINED BPE merge rules (the other half of
    :func:`bpe_merges` — train once, apply everywhere) ->
    ``(id_col, n_words, n_bpe_tokens)``, the pre-training token-budget
    accounting at the real tokenizer's granularity rather than the
    whitespace approximation.

    The merge table is config-sized (k rows — a tokenizer has a few 10k
    rules, bytes not gigabytes), so it is collected driver-side and
    inlined as literal chained replaces — the same policy as `translate`'s
    inline map (transformers.py) and the reference's in-memory
    translation tables. Rules apply in training order over the
    double-spaced symbol string (see bpe_merges for why the double
    separator makes chained merges match in one left-to-right pass).

    Scale shape: tokenization runs on the DISTINCT-WORD table (Zipf-small),
    never per occurrence — one distinct agg, k chained JVM literal
    replaces on that small frame, one join back keyed on the word (the
    Zipf-hot words broadcast well: Spark's AQE turns the join map-side
    when the vocab fits), one doc-keyed rollup.
    """
    rules = [
        (r["a"], r["b"])
        for r in merges.orderBy("step").select("step", "a", "b").collect()
    ]
    c = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    doc_words = df.select(
        F.col(id_col), F.explode(tokens(c)).alias("w")
    ).where(F.col("w") != "")
    vocab = doc_words.select("w").distinct()
    s = F.concat(
        F.lit("  "), F.array_join(F.split(F.col("w"), ""), "  "), F.lit("  </w>  ")
    )
    for a, b in rules:
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    # symbols = split on the double separator; </w> is one trailing symbol
    # that every word carries, excluded from the count
    tokc = vocab.select(
        "w", (F.size(F.split(F.trim(s), "  ")) - 1).alias("_n")
    )
    return (
        doc_words.join(tokc, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_n").alias("n_bpe_tokens"),
        )
    )


def filter_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 5000,
) -> DataFrame:
    """Quality filtering WITH an audit trail (the Dolma/RefinedWeb
    attribute-then-filter pattern: never drop a document without recording
    which rule fired) -> ``(id, n_tokens, reasons, keep)`` where
    ``reasons`` is a bitmask over the five rules:

    - 1: fewer than ``min_tokens`` tokens
    - 2: more than ``max_tokens`` tokens
    - 4: mean word length outside [3, 10] chars (tested RATIONALLY as
      ``3*n <= total_chars <= 10*n`` — no FP division to diverge between
      engines)
    - 8: zero stopword hits (word-soup / non-language detector)
    - 16: duplicate-token fraction above 1/2 (``n > 2 * n_distinct``)

    ``keep = (reasons == 0)``. At 100 TB this is the shape that matters:
    ONE projection, zero shuffles, every rule a codegen'd integer
    comparison; the mask aggregates cheaply downstream (per-rule kill
    counts = one sum of bit tests) and filtering is ``WHERE keep`` with
    full scan pushdown.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    chars = F.length(F.regexp_replace(c, r"\s+", ""))
    stop_hits = marker_count(c, STOPWORDS)
    rules = [
        (n < min_tokens, 1),
        (n > max_tokens, 2),
        ((chars < 3 * n) | (chars > 10 * n), 4),
        (stop_hits == 0, 8),
        (n > 2 * n_distinct, 16),
    ]
    reasons = None
    for cond, bit in rules:
        term = F.when(cond, F.lit(bit)).otherwise(F.lit(0))
        reasons = term if reasons is None else reasons + term
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        reasons.cast("int").alias("reasons"),
        (reasons == 0).alias("keep"),
    )


def normalize_text(c: Column) -> Column:
    """Crawl-text normalization (the cleanup pass before fingerprinting /
    shingling — byte-noise variants of one page must normalize to the
    SAME string or every downstream dedup treats them as distinct):

    - zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) removed
    - C0 control characters (except LF) and tabs -> a space, including
      CR so CRLF- and LF-served crawls of one page normalize identically
    - space runs collapsed; spaces hugging a newline dropped
    - 3+ consecutive newlines collapsed to a paragraph break (2)
    - leading/trailing whitespace trimmed

    Pure Column expression — zero shuffle, whole-stage codegen, pushdown-
    composable; the regex chain is fixed so any engine reproduces it.
    """
    x = F.regexp_replace(c, "[\u200B\u200C\u200D\uFEFF]", "")
    x = F.regexp_replace(x, r"[\x00-\x08\x0B-\x1F\x7F\t]", " ")
    x = F.regexp_replace(x, r" {2,}", " ")
    x = F.regexp_replace(x, r" *\n *", "\n")
    x = F.regexp_replace(x, r"\n{3,}", "\n\n")
    return F.regexp_replace(x, r"^[\s]+|[\s]+$", "")


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 retrieval for one query -> ``(id, score)`` — the lexical
    half of the search stack next to the vector ANN operators
    (similarity.py). Okapi BM25 with the standard
    ``idf = ln(1 + (N - df + .5)/(df + .5))``.

    Engine-parity discipline: the per-term partial scores are built as
    SEPARATE conditional-aggregate columns and summed in the WRITTEN query
    order — an FP sum over a groupBy'd term column would depend on
    aggregation order and diverge across engines/partitionings. All inputs
    to the float math (tf, dl, df, N, total token count) are exact BIGINTs;
    the score is IEEE-rounded to 4 digits for display while the top-k
    ORDERS on the unrounded double (ties break on the id).

    Scale shape: one corpus scan -> explode filtered TO THE QUERY TERMS
    (selective: the filter rides inside the explode's projection) -> one
    (doc)-keyed conditional-tf aggregate; corpus stats (N, total tokens)
    and per-term document frequencies are 1-row aggregates broadcast back;
    the top-k plans as TakeOrderedAndProject (per-partition heaps, no
    global sort). Documents containing no query term never leave the map
    side.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    c = F.col(text_col)
    dl_frame = df.select(F.col(id_col), token_count(c).cast("long").alias("_dl"))
    stats = dl_frame.agg(
        F.count("*").alias("_n_docs"), F.sum("_dl").alias("_total_toks")
    )

    toked = df.select(F.col(id_col), F.explode(tokens(c)).alias("_t")).where(
        F.col("_t").isin(list(query_terms))
    )
    tf_aggs = [
        F.sum(F.when(F.col("_t") == t, 1).otherwise(0)).cast("long").alias(f"_tf{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = toked.groupBy(id_col).agg(*tf_aggs)
    df_aggs = [
        F.sum(F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0)).cast("long").alias(f"_df{i}")
        for i in range(len(query_terms))
    ]
    dfs = per_doc.agg(*df_aggs)

    scored = (
        per_doc.join(dl_frame, id_col)
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
    )
    n = F.col("_n_docs").cast("double")
    avgdl = F.col("_total_toks").cast("double") / n
    norm = F.lit(1.0 - b) + F.lit(b) * (F.col("_dl").cast("double") / avgdl)
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"_tf{i}").cast("double")
        dfi = F.col(f"_df{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - dfi + F.lit(0.5)) / (dfi + F.lit(0.5)))
        term = idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm)
        score = term if score is None else score + term
    return (
        scored.withColumn("_score", score)
        .orderBy(F.desc("_score"), F.asc(id_col))
        .limit(k)
        .select(id_col, round_ieee(F.col("_score"), 4).alias("score"))
    )


def phrase_search(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Exact k-word phrase matching over the positional index ->
    ``(doc_id, n_matches, first_pos)`` (0-based token position) — the
    retrieval-side counterpart of :func:`inverted_index` (postings tell
    you WHERE a token lives; phrase queries additionally need token
    ADJACENCY, which is what search engines keep positional postings
    for).

    Anchor-join formulation: word k of the phrase at position p matches
    anchor ``p - k``, so a full phrase occurrence is one (doc, anchor)
    value present in ALL k per-word streams — (k-1) equi-joins on
    (doc, anchor), no window, no per-row Python. Repeated words in the
    phrase need no special-casing (each stream filters independently).

    Scale shape (10^12 docs): each stream is the positional explode
    FILTERED to one literal token before any shuffle, so the joins move
    only the postings of the queried words (the classic intersection
    cost), never the corpus; the final per-doc count is a hash agg on
    already-co-located keys. Phrase words are query constants —
    broadcast of nothing, state of nothing.
    """
    words = phrase.split()
    if not words:
        raise ValueError("phrase_search needs a non-empty phrase")
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    pos_idx = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(txt)).alias("pos", "token"),
    )
    if lowercase:
        words = [w.lower() for w in words]
    out = None
    for k, w in enumerate(words):
        stream = pos_idx.where(F.col("token") == w).select(
            "doc", (F.col("pos") - k).alias("anchor")
        )
        out = stream if out is None else out.join(stream, ["doc", "anchor"])
    return (
        out.where(F.col("anchor") >= 0)
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count("*").alias("n_matches"),
            F.min("anchor").cast("int").alias("first_pos"),
        )
    )


def span_dataset(
    df: DataFrame,
    pattern: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    group: int = 1,
) -> DataFrame:
    """Extractive span-supervision rows -> ``(doc_id, answer, char_start,
    char_end, verified)`` with 0-based character offsets satisfying
    ``substr(text, char_start+1, char_end-char_start) == answer`` — the
    builder for QA/NER-style training data where the label is a SPAN of
    the source text, not a detached string (offset drift is the classic
    silent corruption in such datasets, hence the materialized
    ``verified`` re-check column).

    Offsets come from ``instr`` on the FULL regex match, then the group's
    offset inside it: valid whenever the pattern is context-free (no
    anchors/lookarounds — then the first regex match IS the first literal
    occurrence of the matched text) and the group text appears once
    inside its match; ``verified`` catches any violation row-by-row, so
    a downstream filter on it is cheap insurance rather than a prayer.
    Docs that don't match the pattern are dropped.

    Shape: one zero-shuffle JVM projection per row (two regex evals +
    one instr + one substring); nothing moves until the caller
    aggregates.
    """
    full = F.regexp_extract(F.col(text_col), pattern, 0)
    ans = F.regexp_extract(F.col(text_col), pattern, group)
    start = F.instr(F.col(text_col), full) - 1 + F.instr(full, ans) - 1
    end = start + F.length(ans)
    return (
        df.where(full != "")
        .select(
            F.col(id_col),
            ans.alias("answer"),
            start.cast("int").alias("char_start"),
            end.cast("int").alias("char_end"),
            (
                F.col(text_col).substr(start + 1, F.length(ans)) == ans
            ).alias("verified"),
        )
    )


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """MERGEABLE KMV sketch per group -> ``(group, sketch array<long>)``
    (the k smallest distinct md5 hashes, ascending) — the partial-state
    form of :func:`kmv_distinct`. Mergeability is the property that
    makes a sketch distributed-friendly: sub-corpus sketches union to
    the EXACT corpus sketch (k smallest of a union = k smallest of the
    concatenated k-smallest lists), so rollups never rescan raw keys —
    build per-shard/per-day once, merge upward forever after.
    """
    from pyspark.sql import Window

    hashed = (
        df.select(
            F.col(group_col).alias("g"),
            md5_int(F.col(key_col).cast("string")).alias("h"),
        ).distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    ranked = hashed.withColumn("r", F.row_number().over(w)).where(F.col("r") <= k)
    return ranked.groupBy("g").agg(
        F.sort_array(F.collect_list("h")).alias("sketch")
    ).select(F.col("g").alias(group_col), "sketch")


def kmv_merge(
    sketches: DataFrame,
    group_col: str,
    sketch_col: str = "sketch",
    k: int = 64,
) -> DataFrame:
    """Union KMV sketches up to a coarser group -> same shape as
    :func:`kmv_sketch` keyed on ``group_col`` — lossless: the merged
    sketch is identical to one built from the raw keys (asserted against
    :func:`kmv_distinct` in tests and the driver oracle). Inputs are
    already <= k values each, so the agg state stays bounded."""
    return (
        sketches.groupBy(F.col(group_col).alias("g"))
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list(sketch_col)))),
                1,
                k,
            ).alias("sketch")
        )
        .select(F.col("g").alias(group_col), "sketch")
    )


def kmv_estimate_from_sketch(
    sketches: DataFrame,
    group_col: str,
    sketch_col: str = "sketch",
    k: int = 64,
) -> DataFrame:
    """Finalize sketches to ``(group, n_kept, estimate)`` — the same
    estimator as :func:`kmv_distinct` ((k-1)/x_(k) over the 60-bit hash
    space; exact count below k), so a merged-sketch rollup and a direct
    raw-key pass are interchangeable downstream."""
    n = F.size(F.col(sketch_col))
    kth = F.element_at(F.col(sketch_col), n)
    return sketches.select(
        F.col(group_col),
        n.cast("long").alias("n_kept"),
        F.when(n < k, n.cast("long"))
        .otherwise(
            F.floor(
                F.lit(float(k - 1)) * F.lit(float(1 << 60)) / kth.cast("double")
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("estimate"),
    )


def suggest_cms(epsilon: float, delta: float) -> dict:
    """Size a count-min sketch for the standard guarantee "overestimate
    <= epsilon * N with probability >= 1 - delta": width w = ceil(e /
    epsilon), depth d = ceil(ln(1 / delta)) (Cormode & Muthukrishnan).
    Returns ``{"width", "depth", "cells", "bytes_per_counter_8"}`` —
    the knob-setting companion to :func:`cms_sketch`, driver-side
    closed form like ``dedup.suggest_bands``.
    """
    import math

    if not 0 < epsilon < 1:
        raise ValueError(f"epsilon must be in (0,1), got {epsilon}")
    if not 0 < delta < 1:
        raise ValueError(f"delta must be in (0,1), got {delta}")
    w = math.ceil(math.e / epsilon)
    d = math.ceil(math.log(1.0 / delta))
    return {
        "width": w,
        "depth": d,
        "cells": w * d,
        "bytes_per_counter_8": 8 * w * d,
    }


def hll_registers(
    df: DataFrame,
    group_col: str,
    key_col: str,
    p: int = 10,
) -> DataFrame:
    """MERGEABLE HyperLogLog register sketch per group -> ``(group, j,
    r)`` (Flajolet/Fusy/Gandouet/Meunier, AofA'07) — the fixed-size
    counterpart of :func:`kmv_sketch`: m = 2^p registers regardless of
    cardinality, where KMV keeps k hashes.  Register ``j`` is the low
    ``p`` bits of the 60-bit md5 hash; ``r`` is the 1-based position of
    the first set bit in the remaining ``60-p`` bits (``K = 60-p+1`` when
    they are all zero).  Only NON-ZERO registers are materialized —
    sparse rows, dense semantics: the estimator re-adds the ``m - n_set``
    empty registers arithmetically.

    Everything is exact integer bit arithmetic (``&``/``>>`` plus a
    binary-string bit-length, the same ``conv``/``bin`` pair on both
    engines), so the registers themselves are oracle-exact —
    cross-engine determinism does not depend on any float.

    100-TB shape: one partial-aggregated groupBy on (group, j) — at most
    ``m`` rows per group survive the map-side combine, so a trillion-row
    scan reduces to ``m * n_groups`` rows of state, and per-shard
    sketches :func:`hll_merge` upward without rescanning raw keys.
    """
    if not 2 <= p <= 16:
        raise ValueError(f"p must be in [2, 16], got {p}")
    m = 1 << p
    k_max = 60 - p + 1
    h = md5_int(F.col(key_col).cast("string"))
    rest = F.shiftright(h, p)
    rho = F.when(rest == 0, F.lit(k_max)).otherwise(
        F.lit(k_max) - F.length(F.conv(rest, 10, 2))
    )
    return (
        df.select(
            F.col(group_col).alias("g"),
            h.bitwiseAND(F.lit(m - 1)).alias("j"),
            rho.cast("int").alias("_rho"),
        )
        .groupBy("g", "j")
        .agg(F.max("_rho").alias("r"))
        .select(F.col("g").alias(group_col), "j", "r")
    )


def hll_merge(
    sketches: DataFrame,
    group_col: str,
) -> DataFrame:
    """Union HLL register frames up to a coarser group -> same ``(group,
    j, r)`` shape — LOSSLESS: max of per-shard maxima is the max over the
    union, so the merged sketch is bit-identical to one built from the
    raw keys (asserted in tests). State is bounded by m rows per group."""
    return (
        sketches.groupBy(F.col(group_col).alias("g"), F.col("j"))
        .agg(F.max("r").alias("r"))
        .select(F.col("g").alias(group_col), "j", "r")
    )


def hll_estimate(
    sketches: DataFrame,
    group_col: str,
    p: int = 10,
) -> DataFrame:
    """Finalize HLL registers to ``(group, n_set, estimate)`` using the
    raw harmonic-mean estimator ``alpha_m * m^2 / sum_j 2^(-M_j)``.

    The indicator sum is computed SCALED by ``2^K`` (K = 60-p+1) so it is
    an exact BIGINT: each set register contributes ``1 << (K - r)`` and
    each of the ``m - n_set`` empty registers contributes ``1 << K`` —
    no float enters until ONE division of two exactly-representable
    values plus a floor, so Spark and DuckDB produce the identical
    BIGINT.  The numerator ``alpha_m * m^2 * 2^K`` is folded into a
    single Python-precomputed double literal shared with the oracle via
    shortest round-trip repr.  (The library intentionally emits the raw
    estimator only — the small-range linear-counting branch needs ``ln``,
    which is not correctly-rounded-guaranteed cross-engine; callers
    wanting it can post-process ``n_set``.)
    """
    if not 2 <= p <= 16:
        raise ValueError(f"p must be in [2, 16], got {p}")
    m = 1 << p
    k_max = 60 - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numerator = alpha * m * m * float(1 << k_max)
    s_present = F.sum(F.expr(f"shiftleft(1L, cast({k_max} - r as int))"))
    n_set = F.count("*")
    agg = sketches.groupBy(F.col(group_col).alias("g")).agg(
        n_set.cast("long").alias("n_set"),
        s_present.alias("_sp"),
    )
    s_total = F.col("_sp") + (F.lit(m).cast("long") - F.col("n_set")) * F.lit(
        1 << k_max
    ).cast("long")
    return agg.select(
        F.col("g").alias(group_col),
        "n_set",
        F.floor(F.lit(numerator) / s_total.cast("double")).cast("long").alias(
            "estimate"
        ),
    )


def keyness_terms(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    k: int = 10,
    min_len: int = 3,
    min_count: int = 5,
) -> DataFrame:
    """Top-k DISTINCTIVE terms per group by chi-square keyness ->
    ``(group, term, cnt_in, cnt_out, chi2, rank)`` — the corpus-slice
    contrast a curation pass runs per language / domain / time-bucket
    ("what vocabulary makes this slice different"), the chi-square
    variant of Dunning's log-likelihood keyness (G2 needs ``ln``, which
    is not correctly-rounded-guaranteed cross-engine; the 2x2 chi2
    ranks near-identically and divides exactly).

    Per (group, term): the 2x2 contingency ``a`` = term-in-group count,
    ``b`` = term-elsewhere, ``c``/``d`` = the complements against group
    and corpus token totals; ``chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))``.
    All contingency cells are exact BIGINT; ``(ad-bc)`` (|.| < 2^53)
    casts exactly to double, then one fixed left-to-right chain of
    correctly-rounded multiplies/divides + :func:`round_ieee` — engine
    bit-identical, same discipline as bm25. Only OVERUSED terms
    (``ad > bc``) rank; rank order is (rounded chi2 desc, term asc).

    Shape: one explode + map-side-combined (group, term) count; term
    and group totals are rollups of that same small frame; N joins in
    as a broadcast 1-row aggregate. The final top-k window partitions
    by GROUP — groups are enumerable slices (languages, domains) and
    the ``min_count`` floor cuts the vocabulary tail first, the same
    documented key-table-sized-window bound as apportion_budget.
    """
    from pyspark.sql import Window

    gt = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(
                F.filter(
                    tokens(F.lower(F.col(text_col))),
                    lambda x: F.length(x) >= min_len,
                )
            ).alias("term"),
        )
        .groupBy("g", "term")
        .agg(F.count("*").alias("a"))
    )
    gt = stats_reset_checkpoint(gt, eager=False)
    term_tot = gt.groupBy("term").agg(F.sum("a").alias("t_tot"))
    grp_tot = gt.groupBy("g").agg(F.sum("a").alias("g_tot"))
    n_tot = gt.agg(F.sum("a").alias("n"))
    cells = (
        gt.where(F.col("a") >= min_count)
        .join(term_tot, "term")
        .join(grp_tot, "g")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "g", "term", "a", "t_tot", "g_tot", "n",
            (F.col("t_tot") - F.col("a")).alias("b"),
            (F.col("g_tot") - F.col("a")).alias("c"),
            (F.col("n") - F.col("t_tot") - F.col("g_tot") + F.col("a")).alias("d"),
        )
        .withColumn("_diff", F.col("a") * F.col("d") - F.col("b") * F.col("c"))
        .where(F.col("_diff") > 0)
    )
    chi2 = round_ieee(
        F.col("n").cast("double")
        * F.col("_diff").cast("double")
        * F.col("_diff").cast("double")
        / (F.col("a") + F.col("b")).cast("double")
        / (F.col("c") + F.col("d")).cast("double")
        / (F.col("a") + F.col("c")).cast("double")
        / (F.col("b") + F.col("d")).cast("double"),
        4,
    )
    scored = cells.select(
        F.col("g"),
        "term",
        F.col("a").cast("long").alias("cnt_in"),
        F.col("b").cast("long").alias("cnt_out"),
        chi2.alias("chi2"),
    )
    w = Window.partitionBy("g").orderBy(F.desc("chi2"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("g").alias(group_col), "term", "cnt_in", "cnt_out", "chi2",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def rake_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
    max_phrase_len: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) per document ->
    ``(doc_id, phrase, n_words, n_occ, score_ppm)`` — the classic
    unsupervised keyword op for corpus topical indexing / KG property
    suggestion. Candidate phrases are maximal token runs between
    stopwords and punctuation; each word scores ``deg/freq`` (deg = sum
    of lengths of phrases containing it, freq = occurrence count, both
    per doc) and a phrase scores the sum of its words' scores.

    Exact integers: word score is ``deg * scale DIV freq`` and the
    phrase score a BIGINT sum — engine-portable, no float ordering.
    Repeated words inside one phrase count once per occurrence
    (standard RAKE); repeated occurrences of a phrase share one score
    row with ``n_occ`` recording multiplicity.

    Scale shape: candidate segmentation is a pure JVM regexp chain
    (punctuation and ``\\b``-bounded stopwords both become split
    points — no gaps-and-islands window, no Python), and every
    aggregate is keyed by doc or (doc, word) — cardinality bounded by
    document length, map-side combinable, zero corpus-wide state.
    """
    sw = stopwords if stopwords is not None else STOPWORDS
    lowered = F.lower(F.trim(F.col(text_col)))
    seg = F.regexp_replace(lowered, r"[^a-z0-9\s]+", "|")
    if sw:
        seg = F.regexp_replace(seg, r"\b(" + "|".join(sw) + r")\b", "|")
    cand = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(F.split(seg, r"\|")).alias("_raw"))
        .select(
            "doc_id",
            F.trim(F.regexp_replace(F.col("_raw"), r"\s+", " ")).alias("phrase"),
        )
        .where(F.col("phrase") != "")
        .withColumn("plen", F.size(F.split(F.col("phrase"), " ")))
        .where(F.col("plen") <= max_phrase_len)
    )
    words_all = cand.select(
        "doc_id", "plen", F.explode(F.split("phrase", " ")).alias("w")
    )
    wscore = (
        words_all.groupBy("doc_id", "w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
        .select("doc_id", "w", F.expr(f"deg * {scale} div freq").alias("_ws"))
    )
    distinct_ph = cand.groupBy("doc_id", "phrase").agg(
        F.count("*").alias("n_occ"), F.first("plen").alias("n_words")
    )
    ph_words = distinct_ph.select(
        "doc_id", "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        ph_words.join(wscore, ["doc_id", "w"])
        .groupBy("doc_id", "phrase")
        .agg(F.sum("_ws").alias("score_ppm"))
    )
    return distinct_ph.join(scored, ["doc_id", "phrase"]).select(
        "doc_id", "phrase", "n_words", "n_occ", "score_ppm"
    )


def annotator_agreement(
    df: DataFrame,
    a_col: str = "label_a",
    b_col: str = "label_b",
    scale: int = 1_000_000,
) -> DataFrame:
    """Inter-annotator agreement over two label columns -> ONE row
    ``(n, agree_ppm, kappa_ppm)`` — Cohen's kappa, the standard
    chance-corrected agreement for labeling pipelines (human QA pairs,
    LLM-judge vs gold, two judge prompts against each other: raw
    agreement flatters whenever one label dominates; kappa does not).

    Exact rational arithmetic: with ``agree`` matching pairs, ``n``
    total and ``sab = sum over labels of count_a(l) * count_b(l)``,
    ``kappa = (agree*n - sab) / (n^2 - sab)`` — emitted as truncated ppm
    BIGINT, so the result hash-matches any engine. ``n^2 == sab``
    (chance agreement is certain: both annotators constant) makes kappa
    undefined -> NULL, never a fake 0 or 1.

    Shape: one two-sided count aggregate + two label-marginal aggs
    joined on label (label-vocabulary-sized, broadcastable) + a 1-row
    cross join — map-side combinable end to end, no windows.
    """
    pairs = df.select(
        F.col(a_col).cast("string").alias("a"),
        F.col(b_col).cast("string").alias("b"),
    )
    base = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("agree"),
    )
    ca = pairs.groupBy(F.col("a").alias("label")).agg(F.count("*").alias("na"))
    cb = pairs.groupBy(F.col("b").alias("label")).agg(F.count("*").alias("nb"))
    sab = (
        ca.join(cb, "label")
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias("sab"))
    )
    return (
        base.crossJoin(sab)
        .select(
            F.col("n").cast("long").alias("n"),
            F.expr(f"agree * {scale} div n").cast("long").alias("agree_ppm"),
            F.expr(
                f"CASE WHEN n * n = sab THEN NULL"
                f" ELSE (agree * n - sab) * {scale} div (n * n - sab) END"
            ).cast("long").alias("kappa_ppm"),
        )
    )


def readability(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Flesch-Kincaid grade estimate per document -> ``(doc_id, n_words,
    n_sentences, n_syllables, fk_grade_ppm)`` — the classic readability
    gate for training-corpus curation (too-low = boilerplate/listicles,
    too-high = OCR garbage / formula soup).

    Syllables use the standard regex proxy (count of ``[aeiouy]+``
    vowel groups — the same heuristic every non-dictionary
    implementation uses, deterministic by construction). Sentences are
    ``[.!?]+`` runs followed by whitespace-or-end, floored at 1 so the
    formula is total on junk input; words are whitespace tokens,
    floored at 1.

    FK grade = 0.39*W/S + 11.8*Y/W - 15.59 — emitted exactly as
    ``390000*scale_adj*W DIV S + 11800000*Y DIV W - 15590000`` in ppm
    units (each DIV a truncating BIGINT divide; may be negative for
    trivially short text, deliberately NOT clamped). One zero-shuffle
    projection: three regexp counts per row, no tokenize-explode, no
    Python.
    """
    t = F.trim(F.col(text_col))
    words = F.greatest(
        F.when(t == "", F.lit(0)).otherwise(
            F.size(F.split(t, r"\s+"))
        ),
        F.lit(1),
    ).cast("long")
    sentences = F.greatest(
        F.expr(f"regexp_count(trim({text_col}), '[.!?]+(\\\\s|$)')"),
        F.lit(1),
    ).cast("long")
    syllables = F.greatest(
        F.expr(f"regexp_count(lower({text_col}), '[aeiouy]+')"), F.lit(1)
    ).cast("long")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            f"(390000 * n_words div n_sentences)"
            f" + (11800000 * n_syllables div n_words) - 15590000"
        ).cast("long").alias("fk_grade_ppm"),
    )


def textrank_keywords(
    df: DataFrame,
    window: int = 2,
    iterations: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """TextRank keyword scores (Mihalcea & Tarau, EMNLP'04) ->
    ``(doc_id, word, rank)``: PageRank over each document's word
    co-occurrence graph (an edge when two content words appear within
    ``window`` positions of the stopword-filtered token sequence, both
    directions). THE classic graph-based keyword ranker — RAKE's
    phrase-oriented sibling; use RAKE for multi-word phrases, this for
    single-word salience.

    Spark-first trick: all documents' graphs are ONE graph — nodes are
    ``doc_id#word``, so a single :func:`pagerank_fixed_point` call (the
    exact-BIGINT power iteration, every round one join + one map-side
    sum) ranks the whole corpus at once; per-doc iteration never
    happens. Co-occurrence pairs come straight off each token array
    (``window`` array transforms + explode, zero joins), the same
    zero-shuffle generation as ``spot_mentions``.

    Exact-integer PageRank => hash-identical in any engine; ranks
    comparable WITHIN a doc (the use) and deliberately not normalized
    across docs.
    """
    sw = stopwords if stopwords is not None else STOPWORDS
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]+", " ")),
        r"\s+",
    )
    filtered = F.filter(toks, lambda w: ~w.isin(sw) & (w != ""))
    base = df.select(
        F.col(id_col).cast("string").alias("_doc"), filtered.alias("_t")
    )
    pairs = None
    for o in range(1, window + 1):
        p = base.select(
            "_doc",
            F.explode(
                F.when(
                    F.size("_t") > o,
                    F.sequence(F.lit(1), F.size("_t") - F.lit(o)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("_i"),
            F.col("_t"),
        ).select(
            F.concat("_doc", F.lit("#"), F.element_at("_t", F.col("_i"))).alias("src"),
            F.concat(
                "_doc", F.lit("#"), F.element_at("_t", F.col("_i") + o)
            ).alias("dst"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    edges = pairs.where(F.col("src") != F.col("dst"))
    # materialize the window explodes ONCE before symmetrizing: the union
    # duplicates its child subtree in-plan, so without the checkpoint the
    # whole tokenize+explode+concat pipeline runs twice (measured ~2.5s
    # per window offset per copy at 200k docs)
    from .session import stats_reset_checkpoint

    edges = stats_reset_checkpoint(edges, eager=False)
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    from .graphstats import pagerank_fixed_point

    ranked = pagerank_fixed_point(
        edges, iterations=iterations, scale=scale
    )
    return ranked.select(
        F.split_part(F.col("node"), F.lit("#"), F.lit(1)).alias("doc_id"),
        F.split_part(F.col("node"), F.lit("#"), F.lit(2)).alias("word"),
        F.col("rank"),
    )


_SCRIPT_RANGES = [
    ("latin", r"[A-Za-z]"),
    ("cyrillic", r"[Ѐ-ӿ]"),
    ("cjk", r"[぀-ヿ一-鿿가-힯]"),
    ("arabic", r"[؀-ۿ]"),
    ("greek", r"[Ͱ-Ͽ]"),
    ("devanagari", r"[ऀ-ॿ]"),
    ("digit", r"[0-9]"),
]


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Unicode-script profile per document -> ``(doc_id, n_chars,
    <script>_ppm ..., dominant_script)`` — the script-level routing
    signal UPSTREAM of language ID (``lang_id`` separates en/de/fr;
    this separates Latin from CJK/Cyrillic/Arabic/Greek/Devanagari
    outright, which is what a multilingual crawl shards on first).

    Ratios are exact ppm of TOTAL characters (``count * scale DIV
    n_chars``); the dominant script is the ppm argmax with the fixed
    range-table order as tie-break (``latin`` first), ``none`` for
    empty text. One zero-shuffle projection of ``regexp_count`` per
    range — the ranges are the standard BMP blocks, ASCII-safe regexes
    on both engines.
    """
    t = F.col(text_col)
    n = F.length(t).cast("long")
    cols = [F.col(id_col).alias("doc_id"), n.alias("n_chars")]
    ppm_cols = []
    for name, pat in _SCRIPT_RANGES:
        ppm = F.when(n > 0, F.expr(
            f"regexp_count({text_col}, '{pat}')"
            f" * {scale} div length({text_col})"
        )).otherwise(F.lit(0)).cast("long")
        cols.append(ppm.alias(f"{name}_ppm"))
        ppm_cols.append((name, ppm))
    dom = F.lit("none")
    best = F.lit(0).cast("long")
    for name, ppm in ppm_cols:
        take = ppm > best
        dom = F.when(take, F.lit(name)).otherwise(dom)
        best = F.when(take, ppm).otherwise(best)
    cols.append(dom.alias("dominant_script"))
    return df.select(*cols)


# --------------------------------------------------------------------------
# Date mention extraction + exact-integer normalization to epoch days
# --------------------------------------------------------------------------

_DATE_MONTHS = [
    "january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december",
]
_MON_ALT = "|".join(_DATE_MONTHS)

# name -> (pattern, year_group, month_group, day_group). Java∩RE2∩DuckDB
# regexes (no lookaround/backrefs) so the oracle runs them byte-identical.
# "slash" is pinned to US month/day/year order; textual month groups carry
# the month NAME and are resolved against _DATE_MONTHS in-plan.
DATE_PATTERNS: dict[str, tuple[str, int, int, int]] = {
    "iso": (r"\b(\d{4})-(\d{2})-(\d{2})\b", 1, 2, 3),
    "us_text": (rf"\b({_MON_ALT}) (\d{{1,2}}), (\d{{4}})\b", 3, 1, 2),
    "eu_text": (rf"\b(\d{{1,2}}) ({_MON_ALT}) (\d{{4}})\b", 3, 2, 1),
    "slash": (r"\b(\d{1,2})/(\d{1,2})/(\d{4})\b", 3, 1, 2),
}

def _epoch_day_expr(y: str, m: str, d: str, div: str = "div") -> str:
    """Exact-integer days-from-civil (Howard Hinnant's public-domain
    civil-calendar algorithm, proleptic Gregorian) as engine SQL;
    ``div`` is the integer-division keyword (Spark ``div``, DuckDB
    ``//``). Every step is BIGINT integer division on NON-NEGATIVE
    operands for y >= 1, so the two engines cannot differ. Shared by
    the Column builder and the DuckDB oracle so the arithmetic is
    single-sourced."""
    yy = f"(({y}) - (CASE WHEN ({m}) <= 2 THEN 1 ELSE 0 END))"
    era = f"(({yy}) {div} 400)"
    yoe = f"(({yy}) - {era} * 400)"
    mp = f"((({m}) + 9) % 12)"
    doy = f"((153 * {mp} + 2) {div} 5 + ({d}) - 1)"
    doe = f"({yoe} * 365 + {yoe} {div} 4 - {yoe} {div} 100 + {doy})"
    return f"({era} * 146097 + {doe} - 719468)"


def _days_in_month_sql(y: str, m: str) -> str:
    leap = (
        f"(CASE WHEN (({y}) % 4 = 0 AND ({y}) % 100 <> 0)"
        f" OR ({y}) % 400 = 0 THEN 1 ELSE 0 END)"
    )
    return (
        f"(CASE WHEN ({m}) = 2 THEN 28 + {leap}"
        f" WHEN ({m}) IN (4, 6, 9, 11) THEN 30 ELSE 31 END)"
    )


def extract_dates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Date-mention extraction + normalization -> distinct ``(doc_id,
    fmt, y, m, d, epoch_day)``: finds ISO (``2021-03-17``), US textual
    (``march 5, 2022``), EU textual (``28 february 1999``) and US slash
    (``12/31/2020``) dates in raw text and normalizes each to an EXACT
    integer epoch day (days since 1970-01-01, proleptic Gregorian via
    Hinnant's days-from-civil — pure BIGINT ``div`` arithmetic, so the
    DuckDB oracle is bit-identical by construction, never via either
    engine's locale-dependent date parser). Calendar-invalid mentions
    (``2023-02-30``, ``11/31/2020``) are DROPPED by an exact
    days-in-month + leap-rule filter — that filter is part of the
    checked semantics.

    The KG-construction use: normalized epoch days are the temporal
    qualifiers of harvested facts (publish dates, event dates, validity
    intervals) — the input to ``temporal_reachability`` and the SCD2
    history sinks, harvested straight from sentence text like
    :func:`~ontoweaver_spark.webdoc.hearst_hypernyms` harvests is-a.

    Scale shape: ONE zero-shuffle projection builds every pattern's
    (y, m, d) triples (three group-extractions zipped per pattern,
    concatenated, ONE explode); the closing ``distinct`` is the only
    shuffle. Regexes never leave the JVM.
    """
    months = F.array(*[F.lit(s) for s in _DATE_MONTHS])
    t = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")

    per_pattern = [
        regex_match_structs(
            t, pat, [("ys", yg), ("ms", mg), ("ds", dg)],
            consts=(("fmt", name),),
        )
        for name, (pat, yg, mg, dg) in DATE_PATTERNS.items()
    ]
    mentions = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.concat(*per_pattern)).alias("x"),
    )
    m_num = (
        F.when(
            F.col("x.ms").rlike(r"^\d+$"), F.col("x.ms").cast("long")
        )
        .otherwise(F.array_position(months, F.col("x.ms")))
    )
    parsed = mentions.select(
        "doc_id",
        F.col("x.fmt").alias("fmt"),
        F.col("x.ys").cast("long").alias("y"),
        m_num.alias("m"),
        F.col("x.ds").cast("long").alias("d"),
    )
    valid = parsed.where(
        (F.col("y") >= 1) & (F.col("y") <= 9999)
        & (F.col("m") >= 1) & (F.col("m") <= 12)
        & (F.col("d") >= 1)
        & (F.col("d") <= F.expr(_days_in_month_sql("y", "m")))
    )
    return valid.withColumn(
        "epoch_day", F.expr(_epoch_day_expr("y", "m", "d", div="div")).cast("long")
    ).distinct()


# --------------------------------------------------------------------------
# Quantity mention extraction + exact-integer canonicalization
# --------------------------------------------------------------------------

# unit token -> (multiplier to the family base, base unit). Only
# multiplicative-UP units (factor >= 1) so the canonical value is exact
# BIGINT multiplication, never division. Listed longest-first — that is
# the alternation order inside the regex and first-alternative-wins is
# what both engines do.
QUANTITY_UNITS: dict[str, tuple[int, str]] = {
    "khz": (10**3, "hz"),
    "mhz": (10**6, "hz"),
    "ghz": (10**9, "hz"),
    "km": (10**3, "m"),
    "kg": (10**3, "g"),
    "kb": (10**3, "b"),
    "mb": (10**6, "b"),
    "gb": (10**9, "b"),
    "hz": (1, "hz"),
    "m": (1, "m"),
    "g": (1, "g"),
    "b": (1, "b"),
}

_QUANTITY_SCALES: dict[str, int] = {
    "thousand": 10**3,
    "million": 10**6,
    "billion": 10**9,
}

_NUM = r"(\d{1,12})(?:\.(\d{1,6}))?"

# name -> (pattern, int_group, frac_group, word_group)
QUANTITY_PATTERNS: dict[str, tuple[str, int, int, int]] = {
    "unit": (
        rf"\b{_NUM} ?({'|'.join(QUANTITY_UNITS)})\b", 1, 2, 3,
    ),
    "scale": (
        rf"\b{_NUM} ({'|'.join(_QUANTITY_SCALES)})\b", 1, 2, 3,
    ),
}

_I64_MAX = 2**63 - 1


def extract_quantities(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quantity-mention extraction + canonicalization -> distinct
    ``(doc_id, kind, num_e6, unit, base_unit, canonical_e6)``: finds
    ``<number> <unit>`` (km/kg/gb/ghz/... — the closed
    :data:`QUANTITY_UNITS` table) and ``<number>
    thousand|million|billion`` count mentions in raw text and
    normalizes each to EXACT integers — ``num_e6`` is the literal
    number in millionths (``int*10^6 + frac`` right-padded to 6
    digits), ``canonical_e6`` the value in millionths of the family
    BASE unit (m/g/b/hz/count). Only multiplicative-up factors exist in
    the table, so canonicalization is one BIGINT multiply — exact by
    construction, no float anywhere; a mention whose product would
    exceed int64 yields ``canonical_e6 = NULL`` (explicit guard, never
    silent wraparound).

    The KG-construction use: harvested numeric property values
    (populations, sizes, frequencies, prices-less-currency) with
    engine-identical semantics — the numeric complement of
    :func:`extract_dates`.

    Known residue, documented not guessed: an integer part longer than
    12 digits (or a fraction beyond 6) splits at the regex bound and
    the tail digits parse as their own number; both engines split
    identically. Scale shape: ONE zero-shuffle projection (three group
    extractions zipped per pattern, one explode); the closing
    ``distinct`` is the only shuffle.
    """
    t = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")

    per_pattern = [
        regex_match_structs(
            t, pat, [("ip", ig), ("fp", fg), ("wd", wg)],
            consts=(("kind", name),),
        )
        for name, (pat, ig, fg, wg) in QUANTITY_PATTERNS.items()
    ]
    mentions = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.concat(*per_pattern)).alias("x"),
    )
    # Spark yields '' for a non-participating group, DuckDB NULL — the
    # shared normalization treats both as "no fraction"
    frac6 = F.when(
        F.col("x.fp").isNull() | (F.col("x.fp") == ""), F.lit("000000")
    ).otherwise(F.rpad(F.col("x.fp"), 6, "0"))
    num_e6 = (
        F.col("x.ip").cast("long") * F.lit(1_000_000).cast("long")
        + frac6.cast("long")
    )
    mult = F.lit(None).cast("long")
    base = F.lit(None).cast("string")
    for u, (f, b) in {**QUANTITY_UNITS, **{
        w: (s, "count") for w, s in _QUANTITY_SCALES.items()
    }}.items():
        hit = F.col("x.wd") == u
        mult = F.when(hit, F.lit(f).cast("long")).otherwise(mult)
        base = F.when(hit, F.lit(b)).otherwise(base)
    parsed = mentions.select(
        "doc_id",
        F.col("x.kind").alias("kind"),
        num_e6.alias("num_e6"),
        F.col("x.wd").alias("unit"),
        base.alias("base_unit"),
        mult.alias("_mult"),
    )
    canonical = F.when(
        F.col("num_e6") <= F.expr(f"{_I64_MAX} div _mult"),
        F.col("num_e6") * F.col("_mult"),
    )
    return parsed.select(
        "doc_id", "kind", "num_e6", "unit", "base_unit",
        canonical.cast("long").alias("canonical_e6"),
    ).distinct()


# --------------------------------------------------------------------------
# Geographic-coordinate extraction in exact integer microdegrees
# --------------------------------------------------------------------------

# "40.7128 n, 74.006 w" / "51 N 0.1278 W" — decimal-degree pairs with
# hemisphere letters. Java∩RE2∩DuckDB-safe (no lookaround); degree signs
# and punctuation variants are out of scope by contract (they are not
# ASCII-stable across crawls), documented not guessed.
GEO_PATTERN = (
    r"\b(\d{1,2})(?:\.(\d{1,6}))? ?([ns]),? ?"
    r"(\d{1,3})(?:\.(\d{1,6}))? ?([ew])\b"
)


def extract_geo(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Coordinate-mention extraction -> distinct ``(doc_id, lat_udeg,
    lon_udeg)`` in EXACT integer microdegrees (degrees x 10^6, signed by
    hemisphere): the geo qualifier of harvested facts (schema.org
    ``geo`` / place triples), completing the typed-literal harvest
    family (:func:`extract_dates` temporal, :func:`extract_quantities`
    numeric). Microdegrees from digit strings — ``deg*10^6 +
    rpad(frac, 6)`` — never a float parse, so the DuckDB oracle is
    bit-identical by construction. Out-of-range pairs (|lat| > 90°,
    |lon| > 180°) are DROPPED by an exact integer filter that is part
    of the checked semantics.

    Scale shape: ONE zero-shuffle projection (six group extractions
    zipped, one explode); the closing ``distinct`` is the only shuffle.
    """
    t = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    zipped = regex_match_structs(
        t, GEO_PATTERN, [(f"g{g}", g) for g in range(1, 7)]
    )
    mentions = df.select(
        F.col(id_col).alias("doc_id"), F.explode(zipped).alias("x")
    )

    def udeg(ig: int, fg: int, neg_letter: str, sg: int) -> Column:
        frac6 = F.when(
            F.col(f"x.g{fg}").isNull() | (F.col(f"x.g{fg}") == ""),
            F.lit("000000"),
        ).otherwise(F.rpad(F.col(f"x.g{fg}"), 6, "0"))
        mag = (
            F.col(f"x.g{ig}").cast("long") * F.lit(1_000_000).cast("long")
            + frac6.cast("long")
        )
        return F.when(
            F.col(f"x.g{sg}") == neg_letter, -mag
        ).otherwise(mag)

    out = mentions.select(
        "doc_id",
        udeg(1, 2, "s", 3).alias("lat_udeg"),
        udeg(4, 5, "w", 6).alias("lon_udeg"),
    )
    return out.where(
        (F.abs(F.col("lat_udeg")) <= 90_000_000)
        & (F.abs(F.col("lon_udeg")) <= 180_000_000)
    ).distinct()
