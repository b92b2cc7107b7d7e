"""Corpus indexing operators: inverted index, tf-idf ranking, and URL /
domain extraction over the ``documents`` table.

These are the retrieval-side primitives of an LLM data pipeline
(dedup/quality live in their own modules): build posting statistics,
rank salient terms per document, and profile link targets. All three
are pure built-in column expressions — tokenization is a map-side
explode, counting is a partial aggregate (the shuffle moves one row per
distinct key, never per occurrence), and ranking is a window over the
already-aggregated counts. No Python UDFs anywhere.

Scale notes (100 TB): the posting table is Zipf-bounded (rows ~ distinct
(term, doc) pairs); the df table is vocabulary-sized and broadcasts into
the salience join; the per-doc ranking shuffles by doc_id only. The
salience score is deterministic integer tf/df (``tf * SCALE // df``) —
a df-penalized term frequency chosen so both engines rank bit-for-bit.
Note this is NOT order-equivalent to classical tf·ln(N/df): idf's log
compresses the df axis, so a high-tf/high-df term can outrank under one
score and not the other. The deterministic ranking is the contract here;
swap in float tf·idf where classical weighting matters more than exact
cross-engine agreement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..queries.registry import register_query, register_stage
from ..sources import load_table
from .text import _tok, _TOK_SQL

MIN_DF = 3  # drop hapax-ish terms from the index listing
TFIDF_TOP_K = 3
TFIDF_SCALE = 1_000_000

_POSTINGS_SQL = f"""
  SELECT term, doc_id, tf FROM (
    SELECT token AS term, doc_id, COUNT(*) AS tf
    FROM ({_TOK_SQL}) tok
    GROUP BY token, doc_id
  ) per_doc
"""


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, tf): the posting table, aggregated map-side first."""
    return (
        _tok(spark, sf_dir)
        .groupBy(F.col("token").alias("term"), "doc_id")
        .agg(F.count("*").alias("tf"))
    )


@register_query(
    "index_postings_per_term",
    oracle=f"""
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS tf_total,
           MIN(doc_id) AS first_doc_id
    FROM ({_POSTINGS_SQL}) p
    GROUP BY term
    HAVING COUNT(*) >= {MIN_DF}
    """,
    description=f"inverted-index build: per-term document frequency, total tf, first posting (df >= {MIN_DF})",
)
def index_postings_per_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index statistics. Two partial-aggregate shuffles:
    (term, doc) then term — both keyed on Zipf-bounded spaces, so data
    volume collapses at the map side before either exchange."""
    postings = _postings(spark, sf_dir)
    return (
        postings.groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("tf_total"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("df") >= MIN_DF)
    )


@register_query(
    "tfidf_top_terms_per_doc",
    oracle=f"""
    WITH p AS ({_POSTINGS_SQL}),
    df AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
      SELECT p.doc_id, p.term, p.tf, df.df,
             CAST(p.tf * {TFIDF_SCALE} // df.df AS BIGINT) AS score_scaled
      FROM p JOIN df ON p.term = df.term
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           score_scaled, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_scaled DESC, term) AS rk
      FROM scored
    ) ranked WHERE rk <= {TFIDF_TOP_K}
    """,
    description=f"tf-idf salient terms: top-{TFIDF_TOP_K} per doc by integer-scaled tf/df (exact cross-engine ranking)",
)
def tfidf_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k salient terms per document. The df side is vocabulary-sized
    (AQE broadcasts it); the ranking window shuffles by doc_id. The
    integer score ``tf * SCALE div df`` is a deterministic df-penalized
    term frequency: zero float drift across engines, but not
    order-equivalent to classical tf·ln(N/df) (see module docstring)."""
    # NOTE(r16): pinning postings with localCheckpoint was measured
    # SLOWER here — the (term, doc, tf) frame is occurrence-sized, so
    # materializing it costs more than the duplicated tokenize pass it
    # saves (guide §5: cache only when recompute beats the materialize)
    postings = _postings(spark, sf_dir)
    df_tbl = postings.groupBy("term").agg(F.count("*").alias("df"))
    scored = postings.join(df_tbl, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.expr(f"CAST(tf * {TFIDF_SCALE} DIV df AS BIGINT)").alias("score_scaled"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_scaled"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "score_scaled",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ------------------------------------------------------------ URLs
# The synthetic corpus holds no URLs, so the operator plants
# deterministic ones inside the query (the established planted-work
# pattern) and then extracts + profiles them. Regexes stay inside the
# Java/RE2-common subset.
URL_REGEX = r"https?://[a-z0-9.-]+/[a-z0-9./-]*"
URL_DOMAIN_REGEX = r"https?://([a-z0-9.-]+)/"


@register_query(
    "text_url_domain_stats",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 6 = 0
                THEN ' see https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/page' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                THEN ' img http://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net/x.jpg' ELSE '' END
               AS text
      FROM documents
    ),
    urls AS (
      SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(text, '{URL_DOMAIN_REGEX}', 1)) AS domain
      FROM planted
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM urls GROUP BY domain
    """,
    description="URL/domain profiling: extract planted links, per-domain url + doc counts (crawl-curation primitive)",
)
def text_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-target profiling, the domain-blocklist primitive of crawl
    curation. Extraction is one regexp column expression; the aggregate
    is keyed on the (bounded) domain space."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    (F.col("doc_id") % 20).cast("string"),
                    F.lit(".example.org/page"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" img http://cdn"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example.net/x.jpg"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    urls = planted.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(URL_DOMAIN_REGEX), 1)).alias(
            "domain"
        ),
    )
    return urls.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )


# ------------------------------------------------------------ PageRank
# Link-authority ranking over the planted domain graph: each doc's home
# domain (host<id%10>) links to its planted URL targets (site<id%20>,
# cdn<id%7> — same plants as text_url_domain_stats), and docs with
# id%4==0 plant a backlink site->host, giving the graph real cycles.
# The power iteration is INTEGER-SCALED and statically unrolled
# (PAGERANK_ITERS, like the IVF k-means fit): every per-edge
# contribution is (DAMP_NUM * r) // (DAMP_DEN * outdeg) — floor
# division on exact ints — so both engines walk bit-identical ranks.
PR_SCALE = 1_000_000
DAMP_NUM, DAMP_DEN = 85, 100
PAGERANK_ITERS = 2  # oracle CTE chain below is unrolled for exactly 2

_PR_EDGES_SQL = """
    raw AS (
      SELECT 'host' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' AS src,
             'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS dst
      FROM documents WHERE doc_id % 6 = 0
      UNION ALL
      SELECT 'host' || CAST(doc_id % 10 AS VARCHAR) || '.example.com',
             'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org',
             'host' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'
      FROM documents WHERE doc_id % 4 = 0
    ),
    edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM raw GROUP BY 1, 2),
    outdeg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS od FROM edges GROUP BY src),
    nodes AS (SELECT src AS domain FROM edges UNION SELECT dst FROM edges)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT n.domain,
             CAST({DAMP_DEN - DAMP_NUM} * {PR_SCALE} // {DAMP_DEN} AS BIGINT)
             + COALESCE(CAST((
                 SELECT SUM(e.w * (({DAMP_NUM} * p.r) // ({DAMP_DEN} * o.od)))
                 FROM edges e
                 JOIN {prev} p ON p.domain = e.src
                 JOIN outdeg o ON o.src = e.src
                 WHERE e.dst = n.domain) AS BIGINT), 0) AS r
      FROM nodes n
    )"""


# persisted invariant graph tables, a registered stage: an iterative
# algorithm must pin its edge list once, not rebuild it per round —
# without this the statically unrolled plan re-derives edges/outdeg/nodes
# inside every iteration (3x the shuffles for zero new information)
@register_stage("pagerank_graph")
def _pr_graph_cached(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    host = F.concat(F.lit("host"), (F.col("doc_id") % 10).cast("string"), F.lit(".example.com"))
    site = F.concat(F.lit("site"), (F.col("doc_id") % 20).cast("string"), F.lit(".example.org"))
    cdn = F.concat(F.lit("cdn"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.net"))
    raw = (
        docs.filter(F.col("doc_id") % 6 == 0).select(host.alias("src"), site.alias("dst"))
        .unionAll(
            docs.filter(F.col("doc_id") % 11 == 0).select(host.alias("src"), cdn.alias("dst"))
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 4 == 0).select(site.alias("src"), host.alias("dst"))
        )
    )
    edges = raw.groupBy("src", "dst").agg(F.count("*").cast("bigint").alias("w")).persist()
    outdeg = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("od")).persist()
    nodes = (
        edges.select(F.col("src").alias("domain"))
        .union(edges.select(F.col("dst").alias("domain")))
        .distinct()
        .persist()
    )
    return edges, outdeg, nodes


@register_query(
    "graph_domain_pagerank",
    oracle=f"""
    WITH {_PR_EDGES_SQL},
    r0 AS (SELECT domain, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")}
    SELECT r2.domain, r2.r AS rank_scaled,
           COALESCE(o.od, 0) AS n_out
    FROM r2 LEFT JOIN outdeg o ON o.src = r2.domain
    """,
    description=(
        f"integer-scaled PageRank ({PAGERANK_ITERS} unrolled damped power iterations, "
        "floor-div edge contributions) over the planted domain link graph"
    ),
)
def graph_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph authority scoring, the crawl-prioritization primitive:
    damped PageRank over the domain graph the planted URLs induce.
    Fixed-iteration-count power method with integer-scaled ranks and
    floor-division contributions, so the oracle replays it exactly
    (same pattern as the unrolled k-means fit).

    Scale shape: each iteration is one join of ranks to edges on src
    plus one groupBy dst — the BSP step every distributed PageRank
    uses; ranks and edges co-partition on the domain key, so at 100 TB
    each round is a single co-located shuffle. Dangling-node mass is
    dropped (not redistributed), stated semantics on both engines."""
    edges, outdeg, nodes = _pr_graph_cached(spark, sf_dir)
    base = (DAMP_DEN - DAMP_NUM) * PR_SCALE // DAMP_DEN

    ranks = nodes.withColumn("r", F.lit(PR_SCALE).cast("bigint"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(outdeg, "src")
            .join(ranks.withColumnRenamed("domain", "src"), "src")
            .select(
                F.col("dst").alias("domain"),
                (
                    F.col("w")
                    * F.expr(f"({DAMP_NUM} * r) div ({DAMP_DEN} * od)")
                ).alias("c"),
            )
            .groupBy("domain")
            .agg(F.sum("c").cast("bigint").alias("inflow"))
        )
        ranks = nodes.join(contrib, "domain", "left").select(
            "domain",
            (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0))).cast("bigint").alias("r"),
        )
    return ranks.join(outdeg.withColumnRenamed("src", "domain"), "domain", "left").select(
        "domain",
        F.col("r").alias("rank_scaled"),
        F.coalesce(F.col("od"), F.lit(0)).cast("bigint").alias("n_out"),
    )


# ------------------------------------------------------------ BFS reachability
# Multi-source BFS over the same planted domain graph, declared as a
# native recursive CTE (Spark 4's WITH RECURSIVE / UnionLoopExec) rather
# than a hand-rolled driver loop: the engine owns iteration scheduling
# and plan reuse, the exact shape PageRank unrolls by hand above. The
# recursive step SELECT DISTINCTs the next frontier, so per-level width
# is bounded by |V| regardless of walk multiplicity — at 100 TB the
# level join is frontier×edges co-partitioned on the domain key, the
# textbook BSP frontier expansion. MAX_HOPS bounds depth on both
# engines identically; min-hop aggregation at the end turns level
# membership into BFS distance.
REACH_MAX_HOPS = 3

_REACH_SQL_TEMPLATE = """
    WITH RECURSIVE {edges_ctes}
    reach(domain, hops) AS (
      SELECT DISTINCT src AS domain, 0 AS hops
      FROM edges WHERE src LIKE 'host%'
      UNION ALL
      SELECT DISTINCT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.domain
      WHERE r.hops < {max_hops}
    )
    SELECT domain, CAST(MIN(hops) AS BIGINT) AS min_hops,
           CAST(COUNT(*) AS BIGINT) AS n_levels
    FROM reach GROUP BY domain
"""


@register_query(
    "graph_reachability_recursive",
    oracle=_REACH_SQL_TEMPLATE.format(
        edges_ctes=_PR_EDGES_SQL + ",", max_hops=REACH_MAX_HOPS
    ),
    description=(
        f"multi-source BFS distance (<= {REACH_MAX_HOPS} hops) over the planted "
        "domain graph via a native recursive CTE with per-level frontier dedup"
    ),
)
def graph_reachability_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the host tier over the planted link graph.

    Runs Spark 4's recursive-CTE executor against the persisted edge
    table shared with :func:`graph_domain_pagerank` (the oracle rebuilds
    the identical edges inline). ``n_levels`` counts how many distinct
    BFS levels a domain appears in — deterministic because each level is
    de-duplicated before accumulation."""
    edges, _outdeg, _nodes = _pr_graph_cached(spark, sf_dir)
    edges.createOrReplaceTempView("pr_reach_edges")
    return spark.sql(
        _REACH_SQL_TEMPLATE.format(
            edges_ctes="edges AS (SELECT * FROM pr_reach_edges),",
            max_hops=REACH_MAX_HOPS,
        )
    )


# ------------------------------------------------------------ URL canonicalization
# Canonical form: lowercase scheme+host, path kept, query string and
# fragment stripped — the CommonCrawl-style URL-level dedup key. The
# plants vary host case and tracking params so raw URLs differ while
# canonical forms collide.
_URL_CANON_PARTS = r"(?:https?)://([A-Za-z0-9.-]+)(/[A-Za-z0-9./-]*)?"


@register_query(
    "dedup_url_canonical_groups",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'https://Site' ELSE 'https://site' END
               || CAST(doc_id % 12 AS VARCHAR)
               || '.example.org/landing'
               || CASE WHEN doc_id % 2 = 0
                  THEN '?utm_source=feed&visit=' || CAST(doc_id AS VARCHAR) ELSE '' END
               AS url
      FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
    ),
    canon AS (
      SELECT doc_id, url,
             'https://' || LOWER(regexp_extract(url, '{_URL_CANON_PARTS}', 1))
               || COALESCE(regexp_extract(url, '{_URL_CANON_PARTS}', 2), '')
               AS canonical_url
      FROM planted
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
    FROM canon
    GROUP BY canonical_url
    """,
    description="URL-level dedup: canonicalize (lowercase host, strip query) and group raw variants under one keeper",
)
def dedup_url_canonical_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup, the cheapest and highest-precision dedup tier in
    a crawl pipeline (runs before any content hashing): canonicalize,
    group, keep the minimum doc per canonical target. One regexp
    projection + one groupBy on the canonical key — no Python, no
    pairwise work, cardinality bounded by the distinct-URL space."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 3 == 0)).select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("https://Site")).otherwise(
                F.lit("https://site")
            ),
            (F.col("doc_id") % 12).cast("string"),
            F.lit(".example.org/landing"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("?utm_source=feed&visit="), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    canonical = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_extract("url", _URL_CANON_PARTS, 1)),
        F.coalesce(F.regexp_extract("url", _URL_CANON_PARTS, 2), F.lit("")),
    )
    return (
        planted.withColumn("canonical_url", canonical)
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.countDistinct("url").cast("bigint").alias("n_raw_variants"),
            F.min("doc_id").cast("bigint").alias("keeper_doc"),
        )
    )
