"""Deterministic synthetic Common-Crawl-style pages table + the north-star
web-KG mapping.

Input contract (BASELINE.json ``input_hint``): one table
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.
The generator is pure Column expressions over ``spark.range(n)`` — fully
distributed and deterministic for any scale (no driver-side data, no RNG
state), so the same (n, seed) always produces byte-identical rows.

Skew realism: hosts follow a heavy-tailed distribution (hub sites own a
large share of pages) so the fusion stage sees the hub-entity skew that a
10^12-document corpus would produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# deterministic word inventory for page text
_WORDS = [
    "graph", "table", "spark", "stream", "window", "batch", "merge", "join",
    "query", "index", "shard", "vector", "token", "crawl", "parse", "fetch",
    "cache", "store", "scale", "plan",
]
_TLDS = ["com", "org", "net", "io", "dev"]
_LANGS = ["en", "en", "en", "es", "fr", "de", "pt", "it"]  # en-heavy
_KEYWORDS = [
    "analytics", "database", "pipeline", "search", "ranking", "crawler",
    "spark", "etl", "graphs", "ontology", "mapping", "dedup",
]

N_HOSTS = 1000  # host id space; traffic concentrates on low ids (hubs)


def _pick(arr: list[str], idx_col):
    return F.element_at(F.array(*[F.lit(x) for x in arr]), (idx_col % len(arr) + 1).cast("int"))


def generate_pages(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Build the synthetic pages table with n rows."""
    df = spark.range(0, n, 1, partitions or max(4, n // 250_000 or 4))
    i = F.col("id")
    h = F.abs(F.xxhash64(i.cast("string"), F.lit(seed)))

    # heavy-tailed host: host_id = floor(N / (1 + (h % 9973) mod sqrt-ish)) —
    # approximate zipf by inverting a uniform draw
    u = (h % 100_000) / 100_000.0
    host_id = F.floor(F.pow(F.lit(N_HOSTS).cast("double"), u)).cast("long")
    host = F.concat(F.lit("site"), host_id.cast("string"), F.lit("."), _pick(_TLDS, host_id))

    path = F.concat(F.lit("p"), (h % 100_000_000).cast("string"))
    url = F.concat(F.lit("https://"), host, F.lit("/"), path)

    lang = _pick(_LANGS, h % 7919)

    # 3 outlinks to other (deterministic) hosts — the triple-extraction payload
    def linkref(k: int):
        hk = F.abs(F.xxhash64(i.cast("string"), F.lit(seed + k)))
        lhost_id = F.floor(F.pow(F.lit(N_HOSTS).cast("double"), (hk % 100_000) / 100_000.0)).cast("long")
        return F.concat(
            F.lit("https://site"), lhost_id.cast("string"), F.lit("."),
            _pick(_TLDS, lhost_id), F.lit("/p"), (hk % 100_000_000).cast("string"),
        )

    kw1 = _pick(_KEYWORDS, h % 101)
    kw2 = _pick(_KEYWORDS, h % 103)
    body = F.concat_ws(
        " ",
        *[_pick(_WORDS, (h % (53 + 7 * k))) for k in range(12)],
    )
    text = F.concat(
        body,
        F.lit(". keywords: "), kw1, F.lit(", "), kw2,
        F.lit(". links: "), linkref(1), F.lit(" "), linkref(2), F.lit(" "), linkref(3),
        F.lit("."),
    )

    warc_ts = F.timestamp_seconds(F.lit(1704067200) + (h % 31_536_000))  # 2024

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(text, "utf-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


# --- north-star mapping: pages -> web knowledge graph -----------------------
# Subject = the page (url); objects = host site, language, keywords, linked
# pages; canonicalization via lower/replace; the page keeps its text and
# fetch timestamp as properties (the byte-identical text invariant rides on
# the `text` property).
WEB_KG_MAPPING = {
    "row": {"map": {"id_from_column": "url", "to_subject": "page"}},
    "transformers": [
        {"regex_extract": {
            "column": "url", "pattern": r"^https?://([^/]+)/", "group": 1,
            "to_object": "site", "via_relation": "hosted_on",
        }},
        {"lower": {"column": "lang", "to_object": "language", "via_relation": "in_language"}},
        {"regex_extract_all": {
            "column": "text", "pattern": r"keywords: ([a-z]+), ([a-z]+)\.", "group": 1,
            "to_object": "keyword", "via_relation": "has_keyword",
        }},
        {"regex_extract_all": {
            "column": "text", "pattern": r"keywords: ([a-z]+), ([a-z]+)\.", "group": 2,
            "to_object": "keyword", "via_relation": "has_keyword",
        }},
        {"regex_extract_all": {
            "column": "text", "pattern": r"(https?://[^\s.,]+[^\s.,])", "group": 1,
            "to_object": "page", "via_relation": "links_to",
        }},
        {"map": {"column": "text", "to_properties": ["text"]}},
        {"map": {"column": "warc_ts", "to_properties": ["fetched_at"]}},
        {"token_count": {"column": "text", "to_properties": ["n_tokens"]}},
    ],
}


def web_kg(pages: DataFrame, salt: int = 0):
    """Run the north-star pipeline: pages -> fused (nodes, edges)."""
    from . import weave

    return weave(pages, WEB_KG_MAPPING, affix="none", raise_errors=False, salt=salt)


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Derive the contract pages table ``(url, warc_ts, html, text, lang)``
    deterministically from a driver ``documents`` table.

    Every expression here is plain ANSI SQL (concat / modulo / split_part),
    so a DuckDB oracle can rebuild the byte-identical input from the same
    parquet — this is what makes the flagship web-KG pipeline hash-
    verifiable end to end (extraction + fusion included), unlike the
    xxhash64-based synthetic generator above which only Spark can evaluate.

    The synthesized text embeds the three extraction payloads of
    WEB_KG_MAPPING: a keyword clause (``kw<lang>`` keeps keyword node ids
    letters-only AND disjoint from language node ids — affix="none" fuses
    nodes by raw id, so an id shared across labels would be a label
    conflict), and two dot-free outlinks whose hub/path ids are small
    moduli of doc_id (collisions across docs are intentional — they
    exercise node fusion of link targets)."""
    i = F.col("doc_id")
    first_word = F.element_at(F.split(F.col("text"), " "), 1)

    def link(a: int, b: int):
        return F.concat(
            F.lit("https://hub"), ((i * a) % 97).cast("string"),
            F.lit("/p"), ((i * b) % 997).cast("string"),
        )

    text = F.concat(
        F.col("text"),
        F.lit(". keywords: kw"), F.col("lang"), F.lit(", "), first_word,
        F.lit(". links: "), link(7, 13), F.lit(" "), link(11, 17), F.lit("."),
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/p"), i.cast("string")
    )
    return docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + i).alias("warc_ts"),
        F.encode(text, "utf-8").alias("html"),
        text.alias("text"),
        F.col("lang").alias("lang"),
    )


def pattern_triples(
    df: DataFrame,
    patterns: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "url",
) -> DataFrame:
    """Free-text relation extraction -> ``(doc, subj, pred, obj)``:
    every (relation, regex-with-two-groups) pattern is applied to the
    text with ``regexp_extract_all``, group 1 is the subject mention and
    group 2 the object mention, one output row per (non-overlapping)
    match. This is the open-IE counterpart of the mapping-driven
    extraction in :func:`web_kg` — the reference only extracts from
    structured cells (transformer.py's column operators); web-scale KG
    construction also mines the prose.

    Scale shape: each pattern is two JVM ``regexp_extract_all`` calls
    zipped and exploded — zero shuffle, whole-stage codegen, linear in
    corpus bytes. Patterns must avoid lookarounds/backrefs so the same
    string runs identically on Java regex (Spark) and RE2 (the DuckDB
    oracle); `regexp_extract_all` scans are non-overlapping in both.
    Union across patterns stays one pass per pattern (Catalyst does not
    currently fuse them; for dozens of patterns prefer one alternation
    regex with tagged relations).

    Each match's groups are re-extracted from the isolated match string
    (:func:`~ontoweaver_spark.textops.regex_match_structs`), which is only
    equivalent for patterns that do not look outside their own match: a
    pattern with a lookaround, a backreference or an unescaped ``$`` raises
    ``ValueError`` naming the relation and the pattern.
    """
    from .textops import regex_match_structs

    outs = []
    for relation, regex in patterns:
        _check_pattern(relation, regex)
        matches = regex_match_structs(
            F.col(text_col), regex, [("s", 1), ("o", 2)]
        )
        outs.append(
            df.select(
                F.col(id_col).alias("doc"),
                F.explode(matches).alias("_m"),
            ).select(
                "doc",
                F.col("_m.s").alias("subj"),
                F.lit(relation).alias("pred"),
                F.col("_m.o").alias("obj"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


_LOOKAROUNDS = ("(?=", "(?!", "(?<=", "(?<!")


def _check_pattern(relation: str, regex: str) -> None:
    """Reject the regex constructs :func:`pattern_triples` cannot run
    faithfully: lookarounds, backreferences (``\\1``, ``\\k<name>``), word
    boundaries (``\\b``, ``\\B``) and ``$``, outside character classes and
    escapes."""
    found, i, in_class = None, 0, False
    while i < len(regex) and found is None:
        c = regex[i]
        if c == "\\":
            nxt = regex[i + 1:i + 2]
            if not in_class and nxt and nxt in "123456789k":
                found = f"backreference \\{nxt}"
            elif not in_class and nxt and nxt in "bB":
                found = f"the word boundary \\{nxt}"
            i += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            in_class = True
        elif c == "$":
            found = "the $ anchor"
        elif c == "(" and regex.startswith(_LOOKAROUNDS, i):
            found = "a lookaround"
        i += 1
    if found:
        raise ValueError(
            f"pattern_triples: relation {relation!r} pattern {regex!r} uses {found}; "
            "groups are re-read from the isolated match, so lookarounds, "
            "backreferences, word boundaries and $ are not supported"
        )
