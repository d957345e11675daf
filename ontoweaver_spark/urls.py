"""URL canonicalization + latest-per-URL page dedup — the first two
operators of every Common-Crawl-style ingestion pipeline (the same crawl
URL arrives as http/https, with/without default port, with tracking
params, fragments, duplicate slashes, and in every case mixture).

Everything is pure JVM string expressions (regexp_extract/replace chains,
no Python), and every regex avoids lookarounds so the DuckDB oracle can
run the byte-identical pattern (both engines are RE2-compatible on this
subset). At 100 TB the canonicalization is a zero-shuffle projection; the
latest-per-URL dedup is one max_by hash aggregate on the canonical key.

Relation to ``linking.canonical_url``: that one is the AGGRESSIVE entity
identity key (drops the entire query string + ``www.``) used when a URL
names an entity; this module's :func:`canonical_url` preserves
content-bearing query params (only tracking params stripped) because for
crawl snapshots ``?page=2`` is a different document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from .session import fixpoint

# tracking parameters every crawler strips (Google/Facebook/Microsoft
# click ids + utm campaign tags)
TRACKING_PARAM_RE = r"(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|igshid)=[^&#]*"

# optional scheme://host group: a schemeless URL still matches, with the
# whole string landing in group 2 (regexp_extract returns '' on a
# non-match, which would otherwise swallow the URL entirely)
_SPLIT_RE = r"^((?:[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)?)(.*)$"


def canonical_url(c: Column) -> Column:
    """Canonical form of an absolute URL:

    - scheme and host lowercased (the case-insensitive parts; path/query
      case is significant and preserved),
    - default ports stripped (``:80`` for http, ``:443`` for https),
    - fragment dropped,
    - tracking params removed (``TRACKING_PARAM_RE``) with separator
      cleanup, empty query dropped,
    - duplicate slashes in the path collapsed, trailing slash stripped
      (so ``https://host/`` == ``https://host``).

    URLs without a ``scheme://`` prefix pass through with only the
    fragment/tracking/slash rules applied (host can't be told apart)."""
    no_frag = F.regexp_replace(c, r"#.*$", "")
    # scheme://host[:port]; '' for a schemeless URL (then concat('',
    # tail) below degrades to the tail rules alone — no branch needed).
    # Default ports strip via anchored backreference replaces so the head
    # expression appears ONCE in the tree (a when-cascade would embed it
    # per branch — the expression-blowup shape lang_id avoids too).
    head = F.lower(F.regexp_extract(no_frag, _SPLIT_RE, 1))
    head = F.regexp_replace(head, r"^(http://[^:/]*):80$", "$1")
    head = F.regexp_replace(head, r"^(https://[^:/]*):443$", "$1")

    # tracking params, then separator cleanup (orphan & / ? leftovers)
    tail = F.regexp_extract(no_frag, _SPLIT_RE, 2)  # /path?query
    tail = F.regexp_replace(tail, TRACKING_PARAM_RE, "")
    tail = F.regexp_replace(tail, r"&&+", "&")
    tail = F.regexp_replace(tail, r"\?&", "?")
    tail = F.regexp_replace(tail, r"[?&]+$", "")
    # collapse duplicate slashes in the path (query untouched: split at
    # '?'); the trailing strip takes the whole [/?&] run — stripping only
    # '/' could EXPOSE a trailing '&' that the tail-level cleanup above
    # already ran past, breaking idempotence (hypothesis found '&/')
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"//+", "/")
    path = F.regexp_replace(path, r"[/?&]+$", "")
    query = F.regexp_replace(tail, r"^[^?]*", "")
    return F.concat(head, path, query)


def canonical_url_sql(col: str) -> str:
    """The DuckDB mirror of :func:`canonical_url` (same regexes, same
    order) — used by the driver oracle; kept next to the implementation so
    the two can't drift silently. Every regexp_replace carries the ``'g'``
    flag: Spark replaces all matches by default, DuckDB only the first."""
    no_frag = f"regexp_replace({col}, '#.*$', '', 'g')"
    head = f"lower(regexp_extract({no_frag}, '{_SPLIT_RE}', 1))"
    head = f"regexp_replace({head}, '^(http://[^:/]*):80$', '\\1', 'g')"
    head = f"regexp_replace({head}, '^(https://[^:/]*):443$', '\\1', 'g')"
    tail = f"regexp_extract({no_frag}, '{_SPLIT_RE}', 2)"
    tail = f"regexp_replace({tail}, '{TRACKING_PARAM_RE}', '', 'g')"
    tail = f"regexp_replace({tail}, '&&+', '&', 'g')"
    tail = f"regexp_replace({tail}, '\\?&', '?', 'g')"
    tail = f"regexp_replace({tail}, '[?&]+$', '', 'g')"
    path = (
        f"regexp_replace(regexp_replace(regexp_extract({tail}, '^([^?]*)', 1), "
        f"'//+', '/', 'g'), '[/?&]+$', '', 'g')"
    )
    query = f"regexp_replace({tail}, '^[^?]*', '')"
    return f"({head} || {path} || {query})"


def latest_per_url(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    canon_col: str = "canonical_url",
) -> DataFrame:
    """Crawl-snapshot dedup: one row per CANONICAL url — the latest fetch
    (max ``ts_col``; ties broken by the raw url string so the result is
    deterministic). One hash aggregate keyed on the canonical url: at
    100 TB this is a single shuffle with map-side partial max_by, no
    window sort over the corpus."""
    canon = pages.withColumn(canon_col, canonical_url(F.col(url_col)))
    others = [f for f in canon.columns if f != canon_col]
    pick = F.max_by(
        F.struct(*others), F.struct(F.col(ts_col), F.col(url_col))
    ).alias("_row")
    return (
        canon.groupBy(canon_col)
        .agg(pick)
        .select(canon_col, *[F.col(f"_row.{f}").alias(f) for f in others])
    )


def host_of(c: Column) -> Column:
    """Lowercased host (authority minus userinfo/port stays intact here —
    crawl link graphs key on the registrable host string as crawled) of
    an absolute URL; ``''`` for schemeless/relative input."""
    return F.lower(F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))


def host_link_graph(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    link_pattern: str = r"(https?://[^\s\"'<>]+)",
    include_self: bool = False,
) -> DataFrame:
    """Weighted host-level link graph from in-text outlinks ->
    ``(src_host, dst_host, n_links)`` — the domain-ranking input every
    web pipeline derives (host PageRank, spam-farm k-cores, crawl
    frontier scoring all start here; compose with
    ``graphstats.pagerank_fixed_point`` / ``k_core`` directly).

    Intra-host links are dropped by default: navigation self-links
    dominate raw link counts and carry no cross-domain signal
    (``include_self=True`` keeps them). Trailing sentence punctuation can
    ride along in a matched link's PATH, but the host (everything before
    the first ``/``) is unaffected, which is all this graph keys on.

    Scale shape (10^12 pages): extract + explode + host projection are
    all JVM-side in one pass over the corpus; the only shuffle is the
    (src_host, dst_host) count, whose map-side partials absorb the raw
    link volume — hub hosts arrive at the reducer as one partial per
    task, never as row floods. No Python, no window, no join.
    """
    links = pages.select(
        host_of(F.col(url_col)).alias("src_host"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(link_pattern), 1)
        ).alias("link"),
    )
    pairs = links.select(
        "src_host", host_of(F.col("link")).alias("dst_host")
    ).where((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if not include_self:
        pairs = pairs.where(F.col("src_host") != F.col("dst_host"))
    return pairs.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links")
    )


def resolve_redirects(
    redirects: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """Resolve every redirect source to its TERMINAL target ->
    ``(src, final_url, hops)`` — the crawl-frontier canonicalization step
    (301/302 chains, shortener hops, alias trees all collapse to the page
    that actually serves content; the reference keys entity identity on
    the resolved URL the same way its ID canonicalization collapses
    alias ids, ontoweaver src/ontoweaver/fusion.py congregate-by-id).

    Pointer doubling with path compression: the state frame IS the
    mapping, so joining it with itself doubles the resolved chain length
    every round — ``max_rounds=16`` covers chains 2^16 deep in 16 joins,
    not 65k. Terminal targets (never a source themselves) left-join to
    nothing and keep their resolution; ``session.fixpoint``'s (rows,
    hop-sum) probe stops early. A redirect CYCLE never reaches the
    fixpoint (hops grow each round), so exhausting ``max_rounds`` raises
    instead of silently emitting a partial resolution.

    Scale shape (10^12 urls): each round is ONE self-equi-join on the
    current-target key plus a lazy checkpoint (the probe materializes
    it) to pin lineage; no window,
    no driver data. Redirect frontiers are a small fraction of the crawl
    (sources only), and AQE handles hub targets (link shorteners) as
    ordinary join skew.
    """
    state = (
        redirects.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("cur"),
        )
        .where(F.col("src").isNotNull() & F.col("cur").isNotNull())
        .distinct()
        .withColumn("hops", F.lit(1).cast("long"))
        .localCheckpoint()
    )
    def double(state, _):
        hop = state.select(
            F.col("src").alias("m_src"),
            F.col("cur").alias("m_cur"),
            F.col("hops").alias("m_hops"),
        )
        return state.join(hop, state["cur"] == hop["m_src"], "left").select(
            "src",
            F.coalesce("m_cur", "cur").alias("cur"),
            (F.col("hops") + F.coalesce("m_hops", F.lit(0))).alias("hops"),
        )

    state = fixpoint(
        state, double, max_rounds=max_rounds, probe="hops",
        error=f"resolve_redirects not converged after {max_rounds} doubling rounds "
        f"(chains up to {2 ** max_rounds} resolved) — redirect cycle likely",
    )
    return state.select(
        "src", F.col("cur").alias("final_url"), F.col("hops").cast("int").alias("hops")
    )


def link_context_profile(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    context: Column | None = None,
    link_pattern: str = r"(https?://[^\s\"'<>]+)",
) -> DataFrame:
    """Per-link-target inlink profile -> ``(target, n_inlinks,
    n_src_hosts, top_context)`` — the anchor-text aggregation every web-KG
    builds (a page is DESCRIBED by the pages that link to it; the top
    inlink context becomes the target's candidate entity label, inlink
    count its prior). ``context`` is any Column over the linking page
    (default: its first ``keywords:`` token as the anchor-text proxy).

    Shape at 10^12 pages: link extraction + explode is one JVM pass; then
    two hash aggregates on the same ``target`` key — (target, context)
    partial counts feeding a ``max_by`` top-1 (ties broken toward the
    smaller context string for determinism), and (target) totals with an
    exact distinct-host count. No window over the corpus, no Python; hub
    targets (every page links to the homepage) arrive at reducers as
    map-side partials, and the two aggregations share one AQE-planned
    shuffle key.
    """
    if context is None:
        context = F.regexp_extract(F.col(text_col), r"keywords: ([a-z0-9]+)", 1)
    links = pages.select(
        host_of(F.col(url_col)).alias("src_host"),
        context.alias("ctx"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(link_pattern), 1)
        ).alias("target"),
    ).where(F.col("src_host") != "")
    totals = links.groupBy("target").agg(
        F.count("*").alias("n_inlinks"),
        F.countDistinct("src_host").alias("n_src_hosts"),
    )
    top_ctx = (
        links.groupBy("target", "ctx")
        .agg(F.count("*").alias("n"))
        .groupBy("target")
        # struct-min on (-n, ctx): highest count, ties to the smaller
        # context string — total order, so the top-1 is deterministic
        .agg(F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("ctx"))).alias("_t"))
        .select("target", F.col("_t.ctx").alias("top_context"))
    )
    return totals.join(top_ctx, "target")


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Robots-style URL policy evaluation -> ``(url, allowed, rule_prefix)``
    — the crawl-politeness gate every fetch pipeline applies before a URL
    enters the frontier. ``rules`` is ``(host, prefix, allow boolean)``;
    the winning rule for a URL is the LONGEST matching path prefix on its
    host, ties broken toward allow (the de-facto robots.txt evaluation
    order), and a URL with no matching rule is allowed.

    Shape at 10^12 urls: rules are broadcast (robots files are KBs per
    host; if a corpus-wide rule set outgrows the broadcast ceiling, drop
    the F.broadcast hint and this becomes an ordinary host-keyed shuffle
    join — semantics unchanged), the prefix test is a JVM ``startswith``
    inside the join condition, and the winner is one ``max_by`` hash
    aggregate per url. No window, no Python, no regex per rule.
    """
    path = F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([/?].*)?$", 1)
    p = pages.select(
        F.col(url_col).alias("url"),
        host_of(F.col(url_col)).alias("_host"),
        F.when(path == "", F.lit("/")).otherwise(path).alias("_path"),
    )
    r = F.broadcast(
        rules.select(
            F.col("host").alias("r_host"),
            F.col("prefix").alias("r_prefix"),
            F.col("allow").cast("boolean").alias("r_allow"),
        )
    )
    joined = p.join(
        r,
        (F.col("_host") == F.col("r_host"))
        & F.col("_path").startswith(F.col("r_prefix")),
        "left",
    )
    win = F.max_by(
        F.struct(F.col("r_allow"), F.col("r_prefix")),
        # longest prefix wins; equal-length allow beats disallow
        F.struct(F.length("r_prefix"), F.col("r_allow").cast("int")),
    ).alias("_w")
    return (
        joined.groupBy("url")
        .agg(win)
        .select(
            "url",
            F.coalesce(F.col("_w.r_allow"), F.lit(True)).alias("allowed"),
            F.col("_w.r_prefix").alias("rule_prefix"),
        )
    )


def frontier_plan(
    candidates: DataFrame,
    url_col: str = "url",
    priority_col: str = "priority",
    budget: int = 10_000,
) -> DataFrame:
    """Politeness-aware crawl frontier plan -> ``(url, host, fetch_slot)``
    — the scheduling step between URL discovery and fetching: a global
    fetch ``budget`` is apportioned across hosts proportionally to their
    candidate counts (exact largest-remainder split, so slots sum to the
    budget), each host keeps only its top-quota URLs by ``priority_col``
    (ties to the url string — deterministic), and ``fetch_slot`` is the
    URL's 1-based position in its host's politeness queue (slot k fetches
    no earlier than k * crawl-delay, which is exactly how a polite
    fetcher consumes this table).

    Shape at 10^12 candidates: one count aggregate per host, the
    row_number window partitioned BY HOST (never a global sort — politeness
    queues are per-host by definition), and the host→quota table joined
    back as a broadcast. The quota filter drops the candidate tail before
    anything downstream materializes.
    """
    from .sampling import apportion_budget

    c = candidates.select(
        F.col(url_col).alias("url"),
        host_of(F.col(url_col)).alias("host"),
        F.col(priority_col).alias("_prio"),
    ).where(F.col("host") != "")
    counts = c.groupBy("host").agg(F.count("*").alias("n_candidates"))
    quotas = apportion_budget(counts, "host", "n_candidates", budget)
    w = Window.partitionBy("host").orderBy(F.desc("_prio"), F.asc("url"))
    ranked = c.withColumn("fetch_slot", F.row_number().over(w))
    return (
        ranked.join(
            F.broadcast(quotas.select("host", "quota")), "host"
        )
        .where(F.col("fetch_slot") <= F.col("quota"))
        .select("url", "host", F.col("fetch_slot").cast("int").alias("fetch_slot"))
    )


def bloom_build(
    urls: DataFrame,
    url_col: str = "url",
    m_bits: int = 1 << 17,
    k: int = 3,
) -> DataFrame:
    """Build a Bloom filter over a URL set -> ``(word_idx, word)`` — the
    already-crawled membership structure a frontier dedups against. The
    filter is a bitmap of ``m_bits`` bits stored as 32-bit words in a
    DataFrame (``m_bits/32`` rows), built with one explode + one
    ``bit_or`` hash aggregate; k positions per key come from
    Kirsch-Mitzenmacher double hashing (two md5 hashes, odd step), so the
    whole structure is deterministic and oracle-reproducible.

    Shape at 10^12 urls: the build is a single map-side-combining
    aggregate down to ``m_bits/32`` rows (a few MB even for a
    billions-capacity filter) — the classic distributed-Bloom build.
    Membership never false-negatives; false positives are the standard
    ``(1 - e^{-kn/m})^k`` and are *deterministic* given the hash family,
    which is what lets the exact oracle reproduce them bit-for-bit.

    Reference parity: the reference has no frontier structure (it maps
    config-sized CSVs); this is the web-scale ingestion-side operator the
    north-star pipeline needs in front of :func:`frontier_plan`.
    """
    h1 = F.conv(F.substring(F.md5(F.col(url_col)), 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(
        F.substring(F.md5(F.concat(F.lit("b:"), F.col(url_col))), 1, 15), 16, 10
    ).cast("bigint")
    step = F.pmod(h2, F.lit(m_bits)) * 2 + 1
    i = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i")
    pos = F.pmod(F.col("_h1") + F.col("i") * F.col("_step"), F.lit(m_bits))
    return (
        urls.select(h1.alias("_h1"), step.alias("_step"))
        .select("_h1", "_step", i)
        .select(pos.alias("_pos"))
        .select(
            (F.col("_pos") / 32).cast("int").alias("word_idx"),
            F.expr("cast(shiftleft(cast(1 as bigint), cast(_pos % 32 as int)) as bigint)").alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(_bit)").alias("word"))
    )


def bloom_probe(
    bloom: DataFrame,
    candidates: DataFrame,
    url_col: str = "url",
    m_bits: int = 1 << 17,
    k: int = 3,
) -> DataFrame:
    """Probe a Bloom filter -> ``(url, bloom_hit)`` for each candidate.

    ``m_bits``/``k`` must match the build. Each candidate explodes to its
    k probe positions, joins the (tiny, broadcast) word table, and hits
    iff all k bits are set — one broadcast join + one count aggregate, no
    shuffle of the candidate set beyond the final groupBy on the URL key.

    At 10^12 candidates/day this is THE frontier dedup gate: the filter
    words stay broadcast (m_bits/32 rows regardless of corpus size) and
    every false positive is re-checked downstream by the exact
    latest-per-url store, so correctness never depends on the FP rate.
    """
    h1 = F.conv(F.substring(F.md5(F.col(url_col)), 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(
        F.substring(F.md5(F.concat(F.lit("b:"), F.col(url_col))), 1, 15), 16, 10
    ).cast("bigint")
    step = F.pmod(h2, F.lit(m_bits)) * 2 + 1
    i = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i")
    pos = F.pmod(F.col("_h1") + F.col("i") * F.col("_step"), F.lit(m_bits))
    probes = (
        candidates.select(F.col(url_col).alias("url"), h1.alias("_h1"), step.alias("_step"))
        .select("url", "_h1", "_step", i)
        .select(
            "url",
            (pos / 32).cast("int").alias("word_idx"),
            F.expr(
                "cast(shiftleft(cast(1 as bigint), "
                f"cast(pmod(_h1 + i * _step, {m_bits}) % 32 as int)) as bigint)"
            ).alias("_bit"),
        )
    )
    joined = probes.join(F.broadcast(bloom), "word_idx", "left")
    hit = (
        F.col("word").isNotNull()
        & (F.col("word").bitwiseAND(F.col("_bit")) != 0)
    ).cast("int")
    return (
        joined.groupBy("url")
        .agg((F.sum(hit) == F.lit(k)).alias("bloom_hit"))
    )


# Deterministic, documented SUBSET of the Mozilla Public Suffix List:
# the high-traffic TLDs + the multi-label suffixes that actually change
# grouping decisions (ccTLD second-levels, the big platform suffixes).
# Swap in the full PSL (publicsuffix.org, ~9k rules) via the
# ``suffixes=`` parameter for production crawls; the ALGORITHM
# (longest-match + one label) is the PSL algorithm either way.
DEFAULT_PUBLIC_SUFFIXES = [
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "io", "co", "ai", "dev", "app", "me", "tv", "xyz", "site", "online",
    "de", "fr", "it", "es", "nl", "pl", "ru", "cn", "jp", "kr", "in",
    "br", "mx", "ca", "au", "uk", "us", "ch", "se", "no", "fi", "dk",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "co.kr", "or.kr", "com.mx", "org.mx",
    "github.io", "gitlab.io", "netlify.app", "vercel.app",
    "herokuapp.com", "appspot.com", "blogspot.com", "wordpress.com",
    "s3.amazonaws.com", "cloudfront.net",
]


def with_registrable_domain(
    df: DataFrame,
    host_col: str = "host",
    out_col: str = "domain",
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Append the REGISTRABLE DOMAIN (eTLD+1) of ``host_col`` ->
    the input frame plus ``(out_col, matched public suffix)`` — the
    grouping key crawl analytics actually need: ``a.b.co.uk`` and
    ``c.co.uk`` are different SITES (b.co.uk vs c.co.uk) even though a
    naive last-two-labels split would merge them into ``co.uk``, and
    ``x.github.io`` sites are distinct registrants. Host-level dedup,
    politeness budgeting, and domain ranking all key on this.

    PSL algorithm (publicsuffix.org), longest-match form: the matched
    public suffix is the LONGEST list entry that equals the host or is
    its dot-boundary tail; the registrable domain is that suffix plus
    ONE preceding label. A host that IS a public suffix gets NULL (no
    registrant). Hosts matching no rule fall back to the PSL's implicit
    ``*`` rule: the last label is the suffix, last two labels the
    domain (single-label hosts: the host itself).

    Shape: the suffix list is a config-sized broadcast dimension; the
    match is computed once per DISTINCT host (the host table is orders
    of magnitude smaller than the row table at crawl scale) and
    broadcast-equi-joined back; the longest-match pick is a max_by over
    the few candidate rows each host produces. Equal-length distinct
    suffixes cannot both match one host (the tail of a given length is
    unique), so max_by needs no tiebreak.
    """
    sfx_list = DEFAULT_PUBLIC_SUFFIXES if suffixes is None else list(suffixes)
    spark = df.sparkSession
    sfx = spark.createDataFrame([(s,) for s in sfx_list], "_sfx string")
    hosts = df.select(F.col(host_col).alias("_h")).where(
        F.col("_h").isNotNull()
    ).distinct()
    cand = hosts.join(
        F.broadcast(sfx),
        (F.col("_h") == F.col("_sfx"))
        | F.col("_h").endswith(F.concat(F.lit("."), F.col("_sfx"))),
        "left",
    )
    best = cand.groupBy("_h").agg(
        F.max_by("_sfx", F.length("_sfx")).alias("_best")
    )
    labels = F.split(F.col("_h"), r"\.")
    prefix = F.expr(
        "substring(_h, 1, length(_h) - length(_best) - 1)"
    )
    domain = (
        F.when(F.col("_best").isNull(),
               # implicit * rule: last two labels (or the bare host)
               F.when(F.size(labels) <= 1, F.col("_h")).otherwise(
                   F.concat(
                       F.element_at(labels, -2), F.lit("."), F.element_at(labels, -1)
                   )
               ))
        .when(F.col("_h") == F.col("_best"), F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.element_at(F.split(prefix, r"\."), -1),
                F.lit("."),
                F.col("_best"),
            )
        )
    )
    mapping = best.select(
        "_h",
        domain.alias(out_col),
        F.coalesce(F.col("_best"), F.element_at(labels, -1)).alias("public_suffix"),
    )
    return df.join(
        mapping, df[host_col] == mapping["_h"], "left"
    ).drop("_h")


def url_features(
    df: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Structural URL features -> input columns + ``(is_https, host,
    path_depth, path_len, n_params, has_fragment)`` — the crawl-quality
    and frontier-prioritization signals (deep paths and parameter soups
    correlate with faceted-search/duplicate pages; schedulers downrank
    them before fetching). Pure zero-shuffle regexp projection, no
    Python, oracle-reproducible.

    ``path_depth`` counts non-empty ``/``-separated path segments;
    ``n_params`` counts ``&``-separated entries of a non-empty query
    string. Fragments and queries are located with RE2-safe character
    classes only.
    """
    u = F.col(url_col)
    no_frag = F.regexp_replace(u, r"#.*$", "")
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    path = F.regexp_extract(
        no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(/[^?]*)?", 1
    )
    return df.select(
        "*",
        u.startswith("https://").alias("is_https"),
        F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
        .alias("host"),
        F.size(
            F.filter(F.split(path, "/"), lambda s: s != "")
        ).cast("long").alias("path_depth"),
        F.length(path).cast("long").alias("path_len"),
        F.when(query == "", F.lit(0))
        .otherwise(F.size(F.split(query, "&")))
        .cast("long").alias("n_params"),
        u.rlike("#").alias("has_fragment"),
    )
