"""Order-independent output digests and the reference digests they are
checked against.

A digest is ``(rows, sum of md5 bits 0-31, sum of md5 bits 32-63)`` over
one rendered string per output row, so it does not depend on row order or
partitioning, and Spark, DuckDB and Python compute it identically. The
reference side never runs the engine: DuckDB SQL over the generated parquet
for web_pages, plain-Python graph algorithms for kg_analytics.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import duckdb
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEP = "\x1f"


def spark_digest(rows: DataFrame) -> tuple[int, int, int]:
    """Digest of a one-column (``r`` string) Spark frame."""
    h = F.md5("r")
    got = rows.agg(
        F.count("*"),
        F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("long")),
        F.sum(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")),
    ).first()
    return int(got[0]), int(got[1] or 0), int(got[2] or 0)


def duckdb_digest(rows_sql: str) -> tuple[int, int, int]:
    """Digest of a DuckDB query returning one string column ``r``."""
    got = duckdb.sql(f"""
        SELECT count(*),
               coalesce(sum(('0x' || substr(md5(r), 1, 8))::BIGINT), 0),
               coalesce(sum(('0x' || substr(md5(r), 9, 8))::BIGINT), 0)
        FROM ({rows_sql})
    """).fetchone()
    return int(got[0]), int(got[1]), int(got[2])


def python_digest(rows) -> tuple[int, int, int]:
    n = a = b = 0
    for r in rows:
        h = hashlib.md5(r.encode()).hexdigest()
        n, a, b = n + 1, a + int(h[:8], 16), b + int(h[8:16], 16)
    return n, a, b


def combine(*digests: tuple[int, int, int]) -> tuple[int, int, int]:
    return tuple(sum(d[i] for d in digests) for i in range(3))


# ---- fused KG tables ---------------------------------------------------------

def render_props(props: str) -> Column:
    """``k1=v,v;k2=v`` with keys sorted; values are already sorted sets."""
    return F.array_join(
        F.transform(
            F.array_sort(F.map_keys(props)),
            lambda k: F.concat(k, F.lit("="), F.array_join(F.element_at(props, k), ",")),
        ),
        ";",
    )


def kg_rows(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """One rendered row per fused node and edge of a ``run_pipeline`` output."""
    s = F.lit(SEP)
    n = nodes.select(F.concat(
        F.lit("n"), s, "id", s, "label", s, render_props("properties")).alias("r"))
    e = edges.select(F.concat(
        F.lit("e"), s, "id", s, "src", s, "label", s, "dst", s,
        render_props("properties")).alias("r"))
    return n.unionByName(e)


def _kg_sql(nodes_sql: str, edges_sql: str) -> str:
    """Rows in the :func:`kg_rows` rendering from DuckDB ``nodes(id, label,
    props)`` and ``edges(src, label, dst)`` relations (edges of the web KG
    mapping carry no properties)."""
    return f"""
        WITH nodes AS ({nodes_sql}), edges AS ({edges_sql})
        SELECT 'n' || chr(31) || id || chr(31) || label || chr(31) || props AS r
        FROM nodes
        UNION ALL
        SELECT 'e' || chr(31) || '(' || src || ')--[' || label || ']->(' || dst || ')'
               || chr(31) || src || chr(31) || label || chr(31) || dst || chr(31) AS r
        FROM edges
    """


def _agg(col: str) -> str:
    return f"array_to_string(list_sort(list_distinct(list({col}))), ',')"


def web_pages_reference(pages_path: str, langs: list[str]) -> tuple[int, int, int]:
    """WEB_KG_MAPPING plus the ``lang`` validation rule, as SQL. Adapted from
    the ``pages_web_kg`` oracle of ``__spark_entry__.py``: page nodes (the
    subject and every ``links_to`` target) carry the emitting row's text,
    fetched_at and n_tokens, set-unioned by fusion."""
    allowed = ", ".join(f"'{x}'" for x in langs)
    kw = r"'keywords: ([a-z]+), ([a-z]+)\.'"
    ctes = rf"""
        WITH pages AS (
          SELECT url, lang, text, CAST(warc_ts AS VARCHAR) AS fetched_at,
                 len(regexp_split_to_array(trim(text), '\s+'))::VARCHAR AS n_tokens
          FROM read_parquet('{pages_path}/*.parquet') WHERE lang IN ({allowed})
        ), links AS (
          -- per row, not re-joined on url: two rows may share a url
          SELECT url, text, fetched_at, n_tokens, unnest(regexp_extract_all(
                   text, '(https?://[^\s.,]+[^\s.,])', 1)) AS dst FROM pages
        ), kws AS (
          SELECT url, regexp_extract(text, {kw}, 1) AS kw FROM pages
          UNION ALL SELECT url, regexp_extract(text, {kw}, 2) FROM pages
        )
    """
    nodes = ctes + f"""
        , contrib AS (
          SELECT url AS id, text, fetched_at, n_tokens FROM pages
          UNION ALL SELECT dst, text, fetched_at, n_tokens FROM links
        )
        SELECT id, 'page' AS label,
               'fetched_at=' || {_agg('fetched_at')} || ';n_tokens=' || {_agg('n_tokens')}
               || ';text=' || {_agg('text')} AS props
        FROM contrib GROUP BY id
        UNION ALL SELECT DISTINCT regexp_extract(url, '^https?://([^/]+)/', 1), 'site', ''
                  FROM pages
        UNION ALL SELECT DISTINCT lower(lang), 'language', '' FROM pages
        UNION ALL SELECT DISTINCT kw, 'keyword', '' FROM kws WHERE kw <> ''
    """
    edges = ctes + """
        SELECT url AS src, 'hosted_on' AS label,
               regexp_extract(url, '^https?://([^/]+)/', 1) AS dst FROM pages
        UNION SELECT url, 'in_language', lower(lang) FROM pages
        UNION SELECT url, 'has_keyword', kw FROM kws WHERE kw <> ''
        UNION SELECT url, 'links_to', dst FROM links
    """
    return duckdb_digest(_kg_sql(nodes, edges))


# ---- graph analytics ---------------------------------------------------------

def analytics_rows(pagerank: DataFrame, cc: DataFrame, core: DataFrame) -> DataFrame:
    """Rendered rows of the three kg_analytics outputs (Spark side)."""
    s = F.lit(SEP)

    def rows(df, tag, a, b):
        return df.select(F.concat(F.lit(tag), s, F.col(a).cast("string"), s,
                                  F.col(b).cast("string")).alias("r"))

    return (rows(pagerank, "p", "node", "rank")
            .unionByName(rows(cc, "c", "vertex", "component"))
            .unionByName(rows(core, "k", "node", "coreness")))


def _pagerank(edges, iterations: int, scale: int = 1_000_000, damping_pct: int = 85):
    """Integer PageRank with the exact arithmetic of
    ``graphstats.pagerank_fixed_point`` (contribution ``rank DIV outdeg``)."""
    e = set(edges)
    outd: dict[int, int] = defaultdict(int)
    for s, _ in e:
        outd[s] += 1
    nodes = {s for s, _ in e} | {d for _, d in e}
    rank = dict.fromkeys(nodes, scale)
    teleport = (100 - damping_pct) * scale // 100
    for _ in range(iterations):
        inb: dict[int, int] = defaultdict(int)
        for s, d in e:
            inb[d] += rank[s] // outd[s]
        rank = {n: teleport + damping_pct * inb.get(n, 0) // 100 for n in nodes}
    return rank


def _components(und) -> dict[int, int]:
    """Union-find; every vertex maps to the smallest vertex of its component."""
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in und:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _core_numbers(und) -> dict[int, int]:
    """Batagelj-Zaversnik peeling over the undirected simple graph."""
    adj: dict[int, set] = defaultdict(set)
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    deg = {x: len(n) for x, n in adj.items()}
    buckets: dict[int, set] = defaultdict(set)
    for x, d in deg.items():
        buckets[d].add(x)
    core, k = {}, 0
    for _ in range(len(deg)):
        while not buckets[k]:
            k += 1
        x = buckets[k].pop()
        core[x] = k
        for y in adj[x]:
            if y not in core and deg[y] > k:
                buckets[deg[y]].discard(y)
                deg[y] -= 1
                buckets[deg[y]].add(y)
    return core


def kg_analytics_reference(edges_path: str, iterations: int) -> tuple[int, int, int]:
    edges = duckdb.sql(
        f"SELECT src, dst FROM read_parquet('{edges_path}/*.parquet')").fetchall()
    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    rank = _pagerank(edges, iterations)
    comp = _components(und)
    core = _core_numbers(und)
    return python_digest(
        [f"p{SEP}{n}{SEP}{r}" for n, r in rank.items()]
        + [f"c{SEP}{v}{SEP}{c}" for v, c in comp.items()]
        + [f"k{SEP}{n}{SEP}{c}" for n, c in core.items()]
    )
