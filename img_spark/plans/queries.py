"""Driver correctness-gate queries: each Spark query is paired with an
independent DuckDB oracle SQL over the same parquet views
(__spark_entry__.py exposes them as queries()/oracle_sql()).

Synthesized inputs (URLs, HTML pages) are constructed with IDENTICAL
deterministic expressions on both sides, so the oracle checks the
ENGINE's transformation, not the input construction. Column names and
rounding are aligned on both sides (the driver hash-compares values
after sorting columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from img_spark.operators import dedup, similarity
from img_spark.operators.extract_udf import extract_pages
from img_spark.operators.politeness import apply_robots, dispatch_top_k, robots_df
from img_spark.operators.textquality import (
    STOPWORDS,
    fingerprint,
    lang_id,
    quality_signals,
    token_count,
)
from img_spark.operators.urlexprs import canonicalize_expr, filename_expr, host_of
from img_spark.sources.site_config import attach_site_config


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _did():
    # lazy: building a Column requires an active SparkContext
    return F.col("doc_id").cast("string")


# =====================================================================
# Crawl-side operators (SURVEY.md §2.1/§2.2/§2.5/§2.7)
# =====================================================================

def q_host_extract(spark, sf_dir):
    """P1 check_host as a JVM projection (main.rs:50-62)."""
    mod7 = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("https://site"), mod7, F.lit(".test/gal/"), _did()))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("http://site"), mod7, F.lit(".test")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("site"), mod7, F.lit(".test/x")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("ftp://site"), mod7, F.lit(".test/x")))
        .otherwise(F.concat(F.lit("https://nodot"), _did(), F.lit("/x")))
    )
    return _docs(spark, sf_dir).select(
        "doc_id", url.alias("url"), host_of(url).alias("host")
    )


SQL_HOST_EXTRACT = """
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN 'https://site' || (doc_id % 7)::varchar || '.test/gal/' || doc_id::varchar
      WHEN 1 THEN 'http://site' || (doc_id % 7)::varchar || '.test'
      WHEN 2 THEN 'site' || (doc_id % 7)::varchar || '.test/x'
      WHEN 3 THEN 'ftp://site' || (doc_id % 7)::varchar || '.test/x'
      ELSE 'https://nodot' || doc_id::varchar || '/x'
    END AS url
  FROM documents),
s AS (
  SELECT doc_id, url,
    CASE WHEN strpos(url,'://')>0 THEN substr(url,1,strpos(url,'://')-1) ELSE 'http' END AS scheme,
    CASE WHEN strpos(url,'://')>0 THEN substr(url,strpos(url,'://')+3) ELSE url END AS rest
  FROM u)
SELECT doc_id, url,
  CASE WHEN lower(scheme) NOT IN ('http','https') THEN NULL
       WHEN strpos(split_part(rest,'/',1),'.')=0 THEN NULL
       ELSE split_part(rest,'/',1) END AS host
FROM s
"""


def q_canonicalize(spark, sf_dir):
    """E6 canonicalize as a JVM projection (main.rs:501-523)."""
    mod7 = (F.col("doc_id") % 7).cast("string")
    addr = F.concat(F.lit("https://site"), mod7, F.lit(".test/gal/page/3"))
    rel = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(""))
        .when(F.col("doc_id") % 5 == 1, F.lit("//cdn.test/i.jpg"))
        .when(F.col("doc_id") % 5 == 2, F.lit("/img/x.png"))
        .when(F.col("doc_id") % 5 == 3, F.lit("deep/y.jpg"))
        .otherwise(F.lit("https://abs.test/z.gif"))
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        rel.alias("rel"),
        addr.alias("addr"),
        canonicalize_expr(rel, addr).alias("canon"),
    )


SQL_CANONICALIZE = """
WITH t AS (
  SELECT doc_id,
    CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN '//cdn.test/i.jpg'
      WHEN 2 THEN '/img/x.png' WHEN 3 THEN 'deep/y.jpg'
      ELSE 'https://abs.test/z.gif' END AS rel,
    'https://site' || (doc_id % 7)::varchar || '.test/gal/page/3' AS addr
  FROM documents),
p AS (
  SELECT *,
    CASE WHEN strpos(addr,'://')>0 THEN substr(addr,1,strpos(addr,'://')-1) ELSE 'http' END AS scheme,
    CASE WHEN strpos(addr,'://')>0 THEN substr(addr,strpos(addr,'://')+3) ELSE addr END AS path
  FROM t)
SELECT doc_id, rel, addr,
  CASE WHEN rel='' THEN rel
       WHEN rel LIKE 'http%' THEN rel
       WHEN rel LIKE '//%' THEN scheme || ':' || rel
       WHEN rel LIKE '/%' THEN scheme || '://' || split_part(path,'/',1) || rel
       ELSE scheme || '://' ||
            (CASE WHEN strpos(path,'/')>0 THEN regexp_replace(path,'/[^/]*$','') ELSE path END)
            || '/' || rel END AS canon
FROM p
"""


def q_filename(spark, sf_dir):
    """F10 sink filename derivation (main.rs:583-614)."""
    url = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("https://h.test/p/img"), _did(), F.lit(".jpg")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("https://h.test/a/-_-pic"), _did(), F.lit(".png?x=1")))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("https://h.test/b/r?url=deep/d"), _did(), F.lit(".webp")))
        .when(F.col("doc_id") % 6 == 3, F.lit("https://h.test/c/noext"))
        .when(F.col("doc_id") % 6 == 4,
              F.concat(F.lit("https://h.test/d/q"), _did(), F.lit(".jpeg?a=1&b=2")))
        .otherwise(
            F.when(F.col("doc_id") % 2 == 0, F.lit("no-slash-url"))
            .otherwise(F.lit("https://h.test/e/noext2 | pretty.png")))
    )
    return _docs(spark, sf_dir).select(
        "doc_id", url.alias("url"), filename_expr(url).alias("filename")
    )


SQL_FILENAME = """
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 6
      WHEN 0 THEN 'https://h.test/p/img' || doc_id::varchar || '.jpg'
      WHEN 1 THEN 'https://h.test/a/-_-pic' || doc_id::varchar || '.png?x=1'
      WHEN 2 THEN 'https://h.test/b/r?url=deep/d' || doc_id::varchar || '.webp'
      WHEN 3 THEN 'https://h.test/c/noext'
      WHEN 4 THEN 'https://h.test/d/q' || doc_id::varchar || '.jpeg?a=1&b=2'
      ELSE (CASE WHEN doc_id % 2 = 0 THEN 'no-slash-url'
                 ELSE 'https://h.test/e/noext2 | pretty.png' END) END AS url
  FROM documents),
u2 AS (
  SELECT doc_id, url,
    CASE WHEN strpos(url,' | ')>0 THEN substr(url,1,strpos(url,' | ')-1) ELSE url END AS dl,
    CASE WHEN strpos(url,' | ')>0 THEN substr(url,strpos(url,' | ')+3) ELSE NULL END AS titlepart
  FROM u),
n AS (
  SELECT doc_id, url, titlepart,
    strpos(dl,'/')>0 AS has_slash,
    regexp_replace(regexp_extract(dl,'[^/]*$'), '^[-_]+','') AS name1
  FROM u2),
n2 AS (
  SELECT doc_id, url, titlepart, has_slash,
    CASE WHEN strpos(name1,'?url=')>0 THEN substr(name1, strpos(name1,'?url=')+5) ELSE name1 END AS name2
  FROM n),
n3 AS (SELECT doc_id, url, titlepart, has_slash, split_part(name2,'?',1) AS no_query FROM n2)
SELECT doc_id, url,
  CASE WHEN has_slash AND strpos(no_query,'.')>0 THEN no_query
       WHEN has_slash AND titlepart IS NOT NULL THEN titlepart
       ELSE NULL END AS filename
FROM n3
"""


# P2 site-config lookup ------------------------------------------------
LOOKUP_CFG = [
    (0, "alpha.test", "img.a", "div.n a", "div.alb a"),
    (1, "beta.test", "div.b img", None, None),
    (2, "x.beta.test", "img.shadowed", None, None),  # shadowed by entry 1
    (3, "gamma.test", "json: key | photourl", "<script>", None),
]


def q_site_lookup(spark, sf_dir):
    host = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("alpha.test"))
        .when(F.col("doc_id") % 5 == 1, F.lit("sub.alpha.test"))
        .when(F.col("doc_id") % 5 == 2, F.lit("x.beta.test"))
        .when(F.col("doc_id") % 5 == 3, F.lit("nomatch.test"))
        .otherwise(F.lit("gamma.test"))
    )
    d = _docs(spark, sf_dir).select("doc_id", host.alias("host"))
    return attach_site_config(d, LOOKUP_CFG).select(
        "doc_id", "host", "img_sel", "next_sel", "album_sel"
    )


def _sql_site_lookup():
    whens = []
    for order, dom, img, nxt, alb in sorted(LOOKUP_CFG, key=lambda r: r[0]):
        def q(v):
            return "NULL" if v is None else "'" + v.replace("'", "''") + "'"
        whens.append(
            f"WHEN ends_with(rtrim(host), '{dom}') THEN struct_pack("
            f"img_sel := {q(img)}::varchar, next_sel := {q(nxt)}::varchar,"
            f" album_sel := {q(alb)}::varchar)"
        )
    case = "CASE " + " ".join(whens) + " ELSE NULL END"
    return f"""
WITH h AS (
  SELECT doc_id,
    CASE doc_id % 5 WHEN 0 THEN 'alpha.test' WHEN 1 THEN 'sub.alpha.test'
      WHEN 2 THEN 'x.beta.test' WHEN 3 THEN 'nomatch.test'
      ELSE 'gamma.test' END AS host
  FROM documents),
c AS (SELECT doc_id, host, {case} AS cfg FROM h)
SELECT doc_id, host, cfg.img_sel AS img_sel, cfg.next_sel AS next_sel,
       cfg.album_sel AS album_sel
FROM c
"""


# robots ---------------------------------------------------------------
# Patterns, not literal prefixes (RFC 9309 §2.2.2-3): '*' spans any
# run, a trailing '$' anchors the path end, %XX escapes are
# case-normalized — h3/h4 pin the wildcard matcher (round-5 verdict
# item 1: a '/*.pdf$' rule used to match nothing).
ROBOTS_RULES = [
    ("h0.test", "/private", False, 0.0),
    ("h0.test", "/", True, 0.0),
    ("h1.test", "/", False, 0.0),
    ("h2.test", "/private/pub", True, 0.0),
    ("h2.test", "/private", False, 2.5),
    ("h3.test", "/*.pdf$", False, 0.0),
    ("h3.test", "/files/*/raw", False, 1.0),
    ("h4.test", "/*?sort=", False, 0.0),
    ("h4.test", "/a%3Cb", False, 0.0),
    # h5 pins RFC 3986 §6.2.2.2 decode-unreserved normalization
    # (round-6 verdict item 4): %7E ≡ ~ and %41 ≡ A on either side
    ("h5.test", "/%7Euser", False, 0.5),
    ("h5.test", "/%41lbum*", False, 0.0),
]


def _robots_cand(spark, sf_dir):
    """Candidate batch for both robots queries: host varies with
    doc_id%10, path with (doc_id//10)%8 — independent moduli, so every
    (host, path-shape) pair occurs, including the wildcard hits
    (*.pdf$ anchored + its non-match, mid-pattern '*', query-string
    match, %-case normalization) and the prefix-precedence cases."""
    hostn = (F.col("doc_id") % 10).cast("string")
    host = F.concat(F.lit("h"), hostn, F.lit(".test"))
    p = (F.col("doc_id") / 10).cast("int") % 10
    path = (
        F.when(p == 0, F.concat(F.lit("/pub/"), _did()))
        .when(p == 1, F.concat(F.lit("/private/"), _did()))
        .when(p == 2, F.lit("/private/pub/x"))
        .when(p == 3, F.lit("/"))
        .when(p == 4, F.concat(F.lit("/docs/"), _did(), F.lit(".pdf")))
        .when(p == 5, F.concat(F.lit("/docs/"), _did(), F.lit(".pdfx")))
        .when(p == 6, F.concat(F.lit("/files/"), _did(), F.lit("/raw/x")))
        # raw '~' path vs the %7E rule; encoded-lowercase path vs the
        # %41…* wildcard rule — both sides of decode-unreserved
        .when(p == 7, F.concat(F.lit("/~user/"), _did()))
        .when(p == 8, F.lit("/%41lbum/x%7ez"))
        .otherwise(
            F.when(F.col("doc_id") % 2 == 0, F.lit("/a%3cb"))
            .otherwise(F.lit("/list?sort=asc"))
        )
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url"),
    )


def q_robots_allow(spark, sf_dir):
    out = apply_robots(_robots_cand(spark, sf_dir),
                       robots_df(spark, ROBOTS_RULES), key_cols=("doc_id",))
    return out.select("doc_id", "url", "allowed",
                      F.round("crawl_delay", 6).alias("crawl_delay"))


def q_robots_allow_rules(spark, sf_dir):
    """Shuffle-free robots twin (the form the crawl loop runs):
    compacted per-host rules array (with precompiled pattern regexes)
    + broadcast join + longest-pattern array expressions — same oracle
    as the window form."""
    from img_spark.operators.politeness import apply_robots_rules, robots_compact

    out = apply_robots_rules(
        _robots_cand(spark, sf_dir),
        robots_compact(robots_df(spark, ROBOTS_RULES)),
    )
    return out.select("doc_id", "url", "allowed",
                      F.round("crawl_delay", 6).alias("crawl_delay"))


# the oracle carries each pattern's translated regex literally (same
# ^ . * $ \-escape subset the engine emits — RE2 and Java read it
# identically, with unreserved escapes pre-decoded: '/%7Euser' →
# '^/~user') and replays the precedence order: longest NORMALIZED
# pattern (pn) in octets — RFC 9309's "most octets" over what actually
# matched — allow on ties, then crawl_delay. The only escapes the
# candidates generate are %3c (stays encoded, case-normalized) and
# %41/%7e (unreserved — decode), so the oracle's normalization is the
# literal replace chain.
SQL_ROBOTS_ALLOW = """
WITH rules(host, pn, re, allow, crawl_delay) AS (VALUES
  ('h0.test','/private','^/private',FALSE,0.0::double),
  ('h0.test','/','^/',TRUE,0.0::double),
  ('h1.test','/','^/',FALSE,0.0::double),
  ('h2.test','/private/pub','^/private/pub',TRUE,0.0::double),
  ('h2.test','/private','^/private',FALSE,2.5::double),
  ('h3.test','/*.pdf$','^/.*\\.pdf$',FALSE,0.0::double),
  ('h3.test','/files/*/raw','^/files/.*/raw',FALSE,1.0::double),
  ('h4.test','/*?sort=','^/.*\\?sort=',FALSE,0.0::double),
  ('h4.test','/a%3Cb','^/a%3Cb',FALSE,0.0::double),
  ('h5.test','/~user','^/~user',FALSE,0.5::double),
  ('h5.test','/Album*','^/Album.*',FALSE,0.0::double)),
c AS (
  SELECT doc_id, 'h' || (doc_id % 10)::varchar || '.test' AS host,
    CASE (doc_id // 10) % 10
      WHEN 0 THEN '/pub/' || doc_id::varchar
      WHEN 1 THEN '/private/' || doc_id::varchar
      WHEN 2 THEN '/private/pub/x'
      WHEN 3 THEN '/'
      WHEN 4 THEN '/docs/' || doc_id::varchar || '.pdf'
      WHEN 5 THEN '/docs/' || doc_id::varchar || '.pdfx'
      WHEN 6 THEN '/files/' || doc_id::varchar || '/raw/x'
      WHEN 7 THEN '/~user/' || doc_id::varchar
      WHEN 8 THEN '/%41lbum/x%7ez'
      ELSE CASE WHEN doc_id % 2 = 0 THEN '/a%3cb' ELSE '/list?sort=asc' END
    END AS path
  FROM documents),
n AS (SELECT doc_id, host, path,
        replace(replace(replace(replace(path, '%3c', '%3C'),
                '%7e', '~'), '%7E', '~'), '%41', 'A') AS path_n
      FROM c)
SELECT doc_id, 'https://' || host || path AS url,
  COALESCE((SELECT r.allow FROM rules r WHERE r.host=n.host
            AND regexp_matches(n.path_n, r.re)
            ORDER BY length(r.pn) DESC, r.allow DESC,
                     r.crawl_delay DESC LIMIT 1), TRUE) AS allowed,
  round(COALESCE((SELECT r.crawl_delay FROM rules r WHERE r.host=n.host
            AND regexp_matches(n.path_n, r.re)
            ORDER BY length(r.pn) DESC, r.allow DESC,
                     r.crawl_delay DESC LIMIT 1), 0.0), 6) AS crawl_delay
FROM n
"""


def q_politeness_topk(spark, sf_dir):
    o = _orders(spark, sf_dir)
    pend = o.select(
        F.concat(F.lit("u"), F.col("o_orderkey").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("o_custkey") % 25).cast("string")).alias("host"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("path"),
        F.when(F.col("o_custkey") % 3 == 0, F.lit(40.0)).otherwise(F.lit(0.0)).alias(
            "crawl_delay"
        ),
    )
    return dispatch_top_k(pend, host_budget=2, batch_window_s=60.0).select(
        "url", "host", "dispatch"
    )


SQL_POLITENESS_TOPK = """
WITH pend AS (
  SELECT 'u' || o_orderkey::varchar AS url,
         'h' || (o_custkey % 25)::varchar AS host,
         lpad(o_orderkey::varchar, 10, '0') AS path,
         CASE WHEN o_custkey % 3 = 0 THEN 40.0 ELSE 0.0 END AS crawl_delay
  FROM orders),
r AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY path, url) AS rn
  FROM pend)
SELECT url, host,
  rn <= (CASE WHEN crawl_delay > 0
              THEN least(2, greatest(1, floor(60.0/crawl_delay)::int))
              ELSE 2 END) AS dispatch
FROM r
"""


def q_seen_antijoin(spark, sf_dir):
    o = _orders(spark, sf_dir)
    frontier = o.select(
        F.concat(F.lit("u"), F.col("o_orderkey").cast("string")).alias("url_canon"),
        "o_orderkey",
    )
    seen = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.concat(F.lit("u"), F.col("o_orderkey").cast("string")).alias("seen_url")
    )
    return frontier.join(
        seen, frontier["url_canon"] == seen["seen_url"], "left_anti"
    ).select("url_canon")


SQL_SEEN_ANTIJOIN = """
SELECT 'u' || o_orderkey::varchar AS url_canon
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM orders s WHERE s.o_orderkey % 2 = 0
    AND 'u' || s.o_orderkey::varchar = 'u' || o.o_orderkey::varchar)
"""


# =====================================================================
# Extraction UDF end-to-end (pages built from documents)
# =====================================================================

_CLEAN = "[^a-z0-9 ]"


def _doc_pages(spark, sf_dir, with_next=False):
    d = _docs(spark, sf_dir)
    mod10 = (F.col("doc_id") % 10).cast("string")
    page_url = F.concat(F.lit("https://ex"), mod10, F.lit(".test/d/"), _did())
    clean = F.regexp_replace(F.lower(F.col("text")), _CLEAN, "")
    body = F.concat(
        F.lit('<div class="photo">'),
        F.lit('<img src="/i/'), _did(), F.lit('a.jpg">'),
        F.lit('<img src="i'), _did(), F.lit('b.png">'),
        F.lit('<img src="https://cdn.test/c'), _did(), F.lit('.webp">'),
        F.lit('<img src="/i/'), _did(), F.lit('a.jpg">'),
        F.lit("</div>"),
    )
    nxt = (
        F.concat(
            F.lit('<div class="pg"><a href="/l/1">1</a><span class="current">2'
                  '</span><a href="/l/'),
            ((F.col("doc_id") % 9) + 2).cast("string"),
            F.lit('">next page</a></div>'),
        )
        if with_next
        else F.lit("")
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), _did(), F.lit(" - Photo Gallery"),
        F.lit("</title></head><body>"), body, nxt,
        F.lit("<p>"), clean, F.lit("</p></body></html>"),
    )
    return d.select(
        page_url.alias("url"),
        F.encode(html, "utf-8").alias("html"),
        (F.lit("div.photo img") if with_next else F.lit(None).cast("string")).alias("img_sel"),
        (F.lit("div.pg a") if with_next else F.lit(None).cast("string")).alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )


def q_extract_images(spark, sf_dir):
    """Full extraction UDF over synthesized pages: discovered-image URL
    set per page, canonicalized + deduped (E1/E6/D1)."""
    pages = _doc_pages(spark, sf_dir)
    out = extract_pages(pages)
    return out.select(
        F.col("url").alias("page_url"), F.explode("imgs").alias("img_url")
    )


SQL_EXTRACT_IMAGES = """
WITH d AS (
  SELECT doc_id,
    'https://ex' || (doc_id % 10)::varchar || '.test/d/' || doc_id::varchar AS page_url
  FROM documents)
SELECT page_url, img_url FROM (
  SELECT page_url,
    'https://ex' || (doc_id % 10)::varchar || '.test/i/' || doc_id::varchar || 'a.jpg' AS img_url FROM d
  UNION ALL
  SELECT page_url,
    'https://ex' || (doc_id % 10)::varchar || '.test/d/i' || doc_id::varchar || 'b.png' FROM d
  UNION ALL
  SELECT page_url, 'https://cdn.test/c' || doc_id::varchar || '.webp' FROM d)
"""


def q_extract_text(spark, sf_dir):
    """Byte-identical extracted-text invariant over synthesized pages
    PLUS the main-content (boilerplate-removal) branch: each page gets
    a link-dense nav div, the doc's text inside a container whose TAG
    varies article/div/section by doc_id, and a link footer. The
    readability scorer (functions/maintext.py) must return exactly the
    doc text with nav/footer stripped AND name the right container —
    the oracle replays both closed-form. extract_pages and
    extract_main_text share the page set; the engine operator parses
    once per page for both text invariants."""
    from img_spark.operators.extract_udf import extract_main_text

    d = _docs(spark, sf_dir)
    clean = F.regexp_replace(F.lower(F.col("text")), _CLEAN, "")
    tag = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("article"))
        .when(F.col("doc_id") % 3 == 1, F.lit("div"))
        .otherwise(F.lit("section"))
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), _did(),
        F.lit(" - Photo Gallery</title></head><body>"),
        F.lit('<div id="nav"><a href="/h">Home</a><a href="/ab">About'
              '</a><a href="/c">Contact</a></div>'),
        F.lit("<"), tag, F.lit(' id="m"><p>'), clean,
        F.lit("</p></"), tag, F.lit(">"),
        F.lit('<div id="f"><a href="/p">Privacy</a><a href="/t">Terms'
              '</a></div></body></html>'),
    )
    pages = d.select(
        F.concat(F.lit("https://ex"), (F.col("doc_id") % 10).cast("string"),
                 F.lit(".test/d/"), _did()).alias("url"),
        F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("img_sel"),
        F.lit(None).cast("string").alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )
    return extract_main_text(pages).select(
        F.col("url").alias("page_url"), "extracted_text", "main_text",
        "main_tag",
    )


SQL_EXTRACT_TEXT = """
WITH d AS (
  SELECT doc_id,
    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS clean,
    CASE doc_id % 3 WHEN 0 THEN 'article' WHEN 1 THEN 'div'
                    ELSE 'section' END AS tag
  FROM documents)
SELECT 'https://ex' || (doc_id % 10)::varchar || '.test/d/' || doc_id::varchar AS page_url,
  'Doc ' || doc_id::varchar || ' - Photo GalleryHomeAboutContact' ||
    clean || 'PrivacyTerms' AS extracted_text,
  trim(regexp_replace(clean, ' +', ' ', 'g')) AS main_text,
  CASE WHEN trim(clean) = '' THEN '' ELSE tag END AS main_tag
FROM d
"""


def q_next_link(spark, sf_dir):
    """C2 next-link heuristics (case e: 'next' text among last 2 hits)."""
    pages = _doc_pages(spark, sf_dir, with_next=True)
    out = extract_pages(pages)
    return out.select(F.col("url").alias("page_url"), "next_url")


SQL_NEXT_LINK = """
SELECT 'https://ex' || (doc_id % 10)::varchar || '.test/d/' || doc_id::varchar AS page_url,
  'https://ex' || (doc_id % 10)::varchar || '.test/l/' || ((doc_id % 9) + 2)::varchar AS next_url
FROM documents
"""


def q_title_clean(spark, sf_dir):
    """E8 title pipeline: longest-segment pick + suffix cleanup."""
    d = _docs(spark, sf_dir)
    mod = (F.col("doc_id") % 100).cast("string")
    html = F.concat(
        F.lit("<html><head><title>t"), _did(), F.lit("|Gallery Number "), mod,
        F.lit('</title></head><body><img src="/x'), _did(),
        F.lit('.jpg"></body></html>'),
    )
    pages = d.select(
        F.concat(F.lit("https://t.test/"), _did()).alias("url"),
        F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("img_sel"),
        F.lit(None).cast("string").alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )
    out = extract_pages(pages)
    return out.select(F.col("url").alias("page_url"), "title", "dir_title")


SQL_TITLE_CLEAN = """
SELECT 'https://t.test/' || doc_id::varchar AS page_url,
  'Gallery Number ' || (doc_id % 100)::varchar AS title,
  'Gallery Number ' || (doc_id % 100)::varchar AS dir_title
FROM documents
"""


# =====================================================================
# Training-data pipeline operators (documents/embeddings tables)
# =====================================================================

def q_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )


SQL_TOKEN_COUNT = r"""
SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens
FROM documents
"""


# per-language probe runs: chosen so each hits ONLY its own stopword
# list (no cross-list words) — exercises every classifier branch.
LANG_PROBES = [
    ("en", "the and of to a in is it"),
    ("de", "der und das ist nicht mit den"),
    ("fr", "les et des est pas une le"),
    ("es", "los una es no el y que"),
    ("it", "il di che per non sono"),
    ("pt", "do da em um para o"),
    ("nl", "het ik te dat niet van"),
    ("ru", "и в не на я что с"),
    ("zh", "这是中文文本测试"),
]


def q_lang_id(spark, sf_dir):
    """Language ID over a 10-way input mix — BOTH branches under the
    driver gate: the expression-only stopword heuristic (lang_pred)
    AND the pluggable model hook (model_lang) running the shipped
    demo weighted-token model Arrow-batched through
    ``lang_id_with_model`` (round-5 verdict item 6). The oracle
    replays the model's exact scoring (token-join → weight sum →
    argmax with lexicographic ties, 'und' on zero evidence) in SQL."""
    import os

    from img_spark.operators.textquality import (
        lang_id_with_model,
        load_lang_model,
    )

    model = load_lang_model(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "lang_model_demo.txt",
    ))
    n = len(LANG_PROBES) + 1
    text = F.col("text")
    for i, (_, probe) in enumerate(LANG_PROBES):
        text = F.when(F.col("doc_id") % n == i, F.lit(probe)).otherwise(text)
    return _docs(spark, sf_dir).select(
        "doc_id",
        lang_id(text).alias("lang_pred"),
        lang_id_with_model(text, model).alias("model_lang"),
    )


def _lang_sql_parts():
    """(stopword-hit columns, decision chain, fallback lang) — shared
    by the lang_id oracle and the corpus-curation composition."""
    from img_spark.operators.textquality import LANG_ORDER

    def hits(lang):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (
            f"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
            f" t -> list_contains([{words}], t))) AS {lang}"
        )

    cols = ",\n    ".join(hits(l) for l in LANG_ORDER)
    whens = []
    for i, lang in enumerate(LANG_ORDER[:-1]):
        conds = " AND ".join(
            f"{lang} >= {other}" for other in LANG_ORDER[i + 1:]
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    return cols, " ".join(whens), LANG_ORDER[-1]


def _sql_lang_model_values():
    """The demo model file as SQL VALUES — read through the SAME parser
    the Spark query's loader uses (textquality.read_lang_model_rows),
    so the oracle can never drift from the shipped model."""
    import os

    from img_spark.operators.textquality import read_lang_model_rows

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "lang_model_demo.txt",
    )
    return ", ".join(
        f"('{lang}','{tok}',{w})"
        for lang, tok, w in read_lang_model_rows(path)
    )


def _sql_lang_id():
    cols, chain, fallback = _lang_sql_parts()
    n = len(LANG_PROBES) + 1
    probe_whens = " ".join(
        f"WHEN {i} THEN '{probe}'"
        for i, (_, probe) in enumerate(LANG_PROBES)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
    CASE doc_id % {n} {probe_whens} ELSE text END AS text
  FROM documents),
m(mlang, tok, w) AS (VALUES {_sql_lang_model_values()}),
tk AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM t),
sc AS (
  SELECT doc_id, mlang, sum(w) AS score
  FROM tk JOIN m USING (tok) GROUP BY doc_id, mlang),
best AS (
  SELECT doc_id, mlang,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, mlang) AS rn
  FROM sc),
s AS (
  SELECT doc_id, text,
    {cols}
  FROM t)
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
       {chain}
       ELSE '{fallback}' END AS lang_pred,
  coalesce(b.mlang, 'und') AS model_lang
FROM s LEFT JOIN (SELECT doc_id, mlang FROM best WHERE rn = 1) b
  USING (doc_id)
"""


def q_quality(spark, sf_dir):
    """Gopher-style gates: length/word/punct/stopword signals AND the
    duplicate-line repetition signals in one row per doc (the repetition
    branch is exercised by planting repeated lines in every 3rd doc —
    same planting as the standalone repetition fixture used in r2/r3).
    PLUS the host-quality-prior branch (folded — registry cap):
    ``host_quality_scores`` over the same docs with ``source`` as the
    host key, joined back per doc — the per-host keep fraction is an
    average of exact 0.0/1.0 doubles, so it hash-matches the oracle's
    avg without quantization."""
    from img_spark.operators.linkgraph import host_quality_scores
    from img_spark.operators.textquality import repetition_signals

    head = F.substring(F.col("text"), 1, 40)
    text = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat_ws("\n", F.col("text"), head, head, head, head),
    ).otherwise(F.concat_ws("\n", F.col("text"), head))
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", text.alias("text")
    )
    hqs = host_quality_scores(d, host_col="source").select(
        "host",
        F.col("score").alias("host_quality"),
        F.col("n_docs").alias("host_docs"),
    )
    return (
        quality_signals(d)
        .join(repetition_signals(d), "doc_id")
        .join(
            d.select("doc_id", F.col("source").alias("host")), "doc_id"
        )
        .join(hqs, "host")
    )


def _sql_quality():
    words = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 3 = 0
         THEN text || '\n' || substr(text,1,40) || '\n' || substr(text,1,40)
              || '\n' || substr(text,1,40) || '\n' || substr(text,1,40)
         ELSE text || '\n' || substr(text,1,40) END AS text
  FROM documents),
s AS (
  SELECT doc_id, source,
    length(text) AS n_chars,
    len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
    length(regexp_replace(text, '\\s+', '', 'g')) AS no_ws,
    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct,
    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
        t -> list_contains([{words}], t))) AS stop_hits,
    len(string_split(text, chr(10))) AS n_lines,
    len(list_distinct(string_split(text, chr(10)))) AS n_distinct_lines
  FROM t),
k AS (
  SELECT doc_id,
    (n_tokens >= 10 AND n_tokens <= 100000
     AND round(no_ws / n_tokens, 6) >= 2.0
     AND round(no_ws / n_tokens, 6) <= 12.0) AS keep
  FROM s),
hq AS (
  SELECT s.source AS host,
    avg(CASE WHEN k.keep THEN 1.0 ELSE 0.0 END) AS host_quality,
    count(*) AS host_docs
  FROM k JOIN s USING (doc_id) GROUP BY s.source)
SELECT s.doc_id, s.n_chars AS n_chars, n_tokens,
  round(no_ws / n_tokens, 6) AS mean_word_len,
  punct AS punct_chars,
  round(punct / s.n_chars, 6) AS punct_ratio,
  stop_hits AS stopword_hits,
  k.keep AS keep,
  n_lines, n_distinct_lines,
  round((n_lines - n_distinct_lines) / n_lines, 6) AS dup_line_frac,
  round((n_lines - n_distinct_lines) / n_lines, 6) <= 0.3 AS keep_repetition,
  s.source AS host, hq.host_quality, hq.host_docs
FROM s
JOIN k USING (doc_id)
JOIN hq ON hq.host = s.source
"""


def q_fingerprint(spark, sf_dir):
    """Fingerprint PLUS the link-graph rank branch (folded — registry
    cap): PageRank over a deterministic synthetic link graph on the
    doc ids (i → (2i+1) mod N and (3i+7) mod N; out-degrees 1 or 2).
    With damping 0.5 and power-of-two degrees every intermediate is a
    dyadic rational, so the iterative Spark sums and the oracle's
    unrolled-CTE sums are EXACT and order-independent — link_rank
    compares hash-identical without quantization."""
    from img_spark.operators.linkgraph import pagerank_dual

    d = _docs(spark, sf_dir)
    n = d.count()  # one bounded scalar (node-id modulus)
    # ONE graph definition serves both branches (weights 1 and 3 per
    # source — Σ=4 → shares 0.25/0.75, still dyadic → still exact; the
    # collision node's two edges merge to one with w=4 → share 1). The
    # unweighted branch simply ignores w (pagerank distincts edges).
    raw = d.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 2 + 1) % n).alias("dst"),
        F.lit(1.0).alias("w"),
    ).unionByName(
        d.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 3 + 7) % n).alias("dst"),
            F.lit(3.0).alias("w"),
        )
    )
    # r8: ONE fused iteration loop for both rank variants
    # (pagerank_dual ≡ two pagerank() calls, pinned in
    # tests/test_linkgraph.py; here every w>0 so the node sets are
    # identical too) — halves the iterative joins and checkpoints the
    # two separate 8-iteration chains paid, and the fingerprint
    # attaches with ONE join instead of two.
    ranks = pagerank_dual(raw, iterations=8, damping=0.5).select(
        F.col("id").alias("doc_id"),
        F.col("rank").alias("link_rank"),
        F.col("rank_w").alias("link_rank_w"),
    )
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .join(ranks, "doc_id")
    )


def _pr_chain(prefix: str, edge_cte: str, iters: int = 8) -> list:
    """One source of truth for the unrolled PageRank iteration body —
    the unweighted (r*/ed) and weighted (wr*/wed) chains differ ONLY
    by these names; duplicating the body by hand is how the two twins
    would silently desynchronize."""
    return [f"""{prefix}{i} AS (
  SELECT n.id, 0.5::DOUBLE + 0.5::DOUBLE * coalesce(c.c, 0.0::DOUBLE)
           AS rank
  FROM nodes n LEFT JOIN (
    SELECT {edge_cte}.dst AS id, sum(r.rank * {edge_cte}.inv_deg) AS c
    FROM {edge_cte} JOIN {prefix}{i - 1} r
      ON r.id = {edge_cte}.src GROUP BY {edge_cte}.dst) c
    USING (id))""" for i in range(1, iters + 1)]


def _sql_fingerprint():
    """Unrolled 8-iteration PageRank CTE chains (unweighted +
    weighted) + the md5 fingerprint (matches q_fingerprint exactly —
    dyadic floats, see its doc). ONE ``raw`` edge definition feeds
    both chains, mirroring the Spark side's single ``raw`` frame."""
    parts = [
        """raw AS (
  SELECT doc_id AS src,
         (doc_id*2+1) % (SELECT count(*) FROM documents) AS dst,
         1.0::DOUBLE AS w
  FROM documents
  UNION ALL
  SELECT doc_id,
         (doc_id*3+7) % (SELECT count(*) FROM documents),
         3.0::DOUBLE
  FROM documents),
e AS (SELECT DISTINCT src, dst FROM raw),
ed AS (
  SELECT e.src, e.dst, 1.0::DOUBLE / d.cnt AS inv_deg
  FROM e JOIN (SELECT src, count(*) AS cnt FROM e GROUP BY src) d
    USING (src)),
we AS (SELECT src, dst, sum(w) AS w FROM raw GROUP BY src, dst),
wed AS (
  SELECT we.src, we.dst, we.w / t.tot AS inv_deg
  FROM we JOIN (SELECT src, sum(w) AS tot FROM we GROUP BY src) t
    USING (src)),
nodes AS (SELECT DISTINCT src AS id FROM e
          UNION SELECT DISTINCT dst FROM e),
r0 AS (SELECT id, 1.0::DOUBLE AS rank FROM nodes),
wr0 AS (SELECT id, 1.0::DOUBLE AS rank FROM nodes)"""
    ]
    parts += _pr_chain("r", "ed")
    parts += _pr_chain("wr", "wed")
    ctes = ",\n".join(parts)
    return (
        "WITH " + ctes + r"""
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
       r8.rank AS link_rank,
       wr8.rank AS link_rank_w
FROM documents
JOIN r8 ON r8.id = documents.doc_id
JOIN wr8 ON wr8.id = documents.doc_id
"""
    )


SQL_FINGERPRINT = _sql_fingerprint()


# shared boilerplate line for the line-dedup branch of the dedup_exact
# row: planted into EVERY doc's synthesized 3-line text, so exactly one
# doc (the global first) keeps it — the CCNet paragraph-dedup semantics
_LD_BOILER = "SHARED BOILERPLATE NAVIGATION FOOTER LINE"


def q_dedup_exact(spark, sf_dir):
    """Exact doc-level dedup PLUS the line-level (CCNet paragraph)
    dedup branch: each doc's text is re-synthesized as three lines —
    a doc-specific head, the shared boilerplate, a doc-specific tail —
    and ``dedup_lines`` keeps only each distinct line's globally first
    (doc_id, pos) occurrence; identical-text docs also lose their
    head/tail lines to the first copy. The oracle replays the
    first-occurrence rule over the same closed-form lines."""
    d = _docs(spark, sf_dir)
    base = dedup.exact_dedup(d).select("doc_id", "fp", "rep_id", "is_dup")
    synth = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit("\n"),
            F.lit(_LD_BOILER), F.lit("\n"),
            F.substring("text", 41, 40),
        ).alias("text"),
    )
    ld = dedup.dedup_lines(synth, min_chars=5).select(
        "doc_id",
        F.col("text").alias("ld_text"),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_removed").cast("int").alias("n_removed"),
    )
    return base.join(ld, "doc_id")


SQL_DEDUP_EXACT = r"""
WITH f AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
  FROM documents),
e AS (
  SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS rep_id,
    doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
  FROM f),
ln AS (
  SELECT doc_id, 0 AS pos, substr(text, 1, 40) AS line FROM documents
  UNION ALL
  SELECT doc_id, 1, 'SHARED BOILERPLATE NAVIGATION FOOTER LINE'
  FROM documents
  UNION ALL
  SELECT doc_id, 2, substr(text, 41, 40) FROM documents),
rk AS (
  SELECT doc_id, pos, line,
    length(trim(line)) >= 5 AS elig,
    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM ln),
ld AS (
  SELECT doc_id,
    coalesce(string_agg(line, chr(10) ORDER BY pos)
             FILTER (WHERE (NOT elig) OR rn = 1), '') AS ld_text,
    3::int AS n_lines,
    (count(*) FILTER (WHERE elig AND rn <> 1))::int AS n_removed
  FROM rk GROUP BY doc_id)
SELECT e.doc_id, e.fp, e.rep_id, e.is_dup,
       ld.ld_text, ld.n_lines, ld.n_removed
FROM e JOIN ld ON e.doc_id = ld.doc_id
"""


# shared gram-hash CTE (mirrors dedup.gram_hashes: word 3-grams,
# distinct, h32 = first-8-hex of md5 as bigint)
_SQL_GRAMS_CTE = r"""
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
g0 AS (
  SELECT doc_id,
    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         ELSE list_transform(generate_series(1, len(t)-2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
    END AS grams
  FROM toks),
gh AS (
  SELECT doc_id,
    list_distinct(list_transform(grams,
        g -> ('0x' || substr(md5(g),1,8))::bigint)) AS ghs
  FROM g0),
ge AS (SELECT doc_id, unnest(ghs) AS gh FROM gh),
sizes AS (SELECT doc_id, count(*) AS n FROM ge GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ge a JOIN ge b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
jac AS (
  SELECT doc_a, doc_b, i AS inter, sa.n AS na, sb.n AS nb,
         round(i / (sa.n + sb.n - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b)
"""


def q_jaccard_pairs(spark, sf_dir):
    return dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


SQL_JACCARD_PAIRS = (
    "WITH " + _SQL_GRAMS_CTE
    + "\nSELECT doc_a, doc_b, inter, na, nb, jaccard FROM jac WHERE jaccard >= 0.5"
)


def q_minhash_pairs(spark, sf_dir):
    return dedup.minhash_dedup(_docs(spark, sf_dir), threshold=0.8)


def _sql_minhash_pairs():
    sig_terms = ", ".join(
        f"list_min(list_transform(ghs, h -> (h * {a} + {b}) % {dedup.MINHASH_P}))"
        for a, b in dedup.PERMS
    )
    r = dedup.MINHASH_K // dedup.LSH_BANDS
    band_rows = []
    for band in range(dedup.LSH_BANDS):
        cols = " || ',' || ".join(
            f"sig[{band * r + j + 1}]::varchar" for j in range(r)
        )
        band_rows.append(
            f"SELECT doc_id, {band} AS band, md5({cols}) AS bucket FROM sig"
        )
    banded = " UNION ALL ".join(band_rows)
    return (
        "WITH " + _SQL_GRAMS_CTE + f""",
sig AS (SELECT doc_id, [{sig_terms}] AS sig FROM gh),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
SELECT c.doc_a, c.doc_b, j.jaccard
FROM cand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
WHERE j.jaccard >= 0.8
"""
    )


def q_simhash(spark, sf_dir):
    """64-bit SimHash as two 32-bit words (both hash families: sh_lo
    hashes the token, sh_hi the '#2'-salted token). Computed via the
    aggregate form (``simhash64_agg`` — one explode + 64 map-side
    combinable sums; value-identical to the per-row fold, pinned in
    tests/test_dataops.py, and ~2x faster: the fold's per-token
    32-array zip_with runs interpreted). The left join reinstates
    NULL-text docs with NULL signatures, exactly as the fold emitted
    them — one row per input doc either way."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id").join(
        dedup.simhash64_agg(d), "doc_id", "left"
    )


def _sql_simhash():
    def word(hs_col):
        return " + ".join(
            f"(CASE WHEN list_sum(list_transform({hs_col},"
            f" h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0"
            f" THEN {1 << j}::bigint ELSE 0::bigint END)"
            for j in range(32)
        )
    return rf"""
WITH toks AS (
  SELECT doc_id,
    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
  FROM documents),
hs AS (
  SELECT doc_id,
    list_transform(t, w -> ('0x' || substr(md5(w),1,8))::bigint) AS h0,
    list_transform(t, w -> ('0x' || substr(md5(w || '#2'),1,8))::bigint) AS h1
  FROM toks)
SELECT doc_id, ({word("h0")}) AS sh_lo, ({word("h1")}) AS sh_hi FROM hs
"""


def q_simhash_near_dups(spark, sf_dir):
    return dedup.simhash_near_dups(_docs(spark, sf_dir)).select(
        "doc_a", "doc_b", "hamming"
    )


def _sql_simhash_near_dups():
    inner = _sql_simhash().strip()
    # 4 bands × 16-bit chunks over the two 32-bit words (bands 0-1 from
    # sh_lo, 2-3 from sh_hi) — mirrors dedup.simhash_bands
    bands = " UNION ALL ".join(
        f"SELECT doc_id, sh_lo, sh_hi, {b} AS band,"
        f" (({'sh_lo' if b < 2 else 'sh_hi'} >> {(b % 2) * 16}) & 65535)"
        f" AS chunk FROM s"
        for b in range(4)
    )
    return f"""
WITH s AS ({inner}),
banded AS ({bands}),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.sh_lo AS sa_lo, x.sh_hi AS sa_hi,
         y.sh_lo AS sb_lo, y.sh_hi AS sb_hi
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b,
  bit_count(xor(sa_lo, sb_lo)) + bit_count(xor(sa_hi, sb_hi)) AS hamming
FROM pairs
"""


def q_ann_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


SQL_ANN_COSINE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
    round(
      list_sum(list_transform(generate_series(1, len(q.v)),
                              i -> q.v[i] * c.v[i]))
      / (sqrt(list_sum(list_transform(q.v, x -> x*x)))
         * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 6) AS sim
  FROM e q, e c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, corpus_id) AS rank
  FROM p)
SELECT query_id, corpus_id, sim, rank FROM r WHERE rank <= 3
"""


def q_embedding_near_dups(spark, sf_dir):
    """LSH-bucketed cosine near-dup pairs. The corpus is the embeddings
    table plus planted exact duplicates (every 20th vector re-appears as
    vec_id+1000000) so the check always exercises non-empty output; the
    oracle reproduces the hyperplane bucketing bit-for-bit from the same
    md5-derived plane literals."""
    emb = _emb(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    return similarity.embedding_near_dups(corpus, threshold=0.9)


def q_lsh_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


# ---- LSH oracle plumbing: the hyperplanes are md5-derived literals
# (similarity._planes), so DuckDB can recompute the SAME buckets. The
# sign test needs BIT-EXACT dot products → the SQL spells the fold out
# as a left-associated chain, matching F.aggregate's accumulation order
# (float→double cast on both sides, IEEE-identical thereafter).

def _sql_dot_chain(vcol: str, plane: list) -> str:
    terms = " + ".join(
        f"{vcol}[{i + 1}]*({w!r})" for i, w in enumerate(plane)
    )
    return f"(0.0 + {terms})"


def _sql_bucket_expr(vcol: str, n_planes: int = 8, dim: int = 64) -> str:
    planes = similarity._planes(n_planes, dim)
    parts = [
        f"(CASE WHEN {_sql_dot_chain(vcol, plane)} > 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    ]
    return "(" + " + ".join(parts) + ")"


_SQL_COS = """round(
      list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))
      / (sqrt(list_sum(list_transform({a}, x -> x*x)))
         * sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)"""


def _sql_lsh_topk():
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings),
b AS (SELECT vec_id, v, {_sql_bucket_expr('v')} AS bucket FROM e),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         {_SQL_COS.format(a='c.v', b='q.v')} AS sim
  FROM b c JOIN b q ON c.bucket = q.bucket
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, corpus_id) AS rank
  FROM s)
SELECT query_id, corpus_id, sim, rank FROM r WHERE rank <= 3
"""


def _sql_embedding_near_dups():
    return f"""
WITH e0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings),
e AS (
  SELECT vec_id, v FROM e0
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, v FROM e0 WHERE vec_id % 20 = 0),
b AS (SELECT vec_id, v, {_sql_bucket_expr('v')} AS bucket FROM e),
p AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         {_SQL_COS.format(a='a.v', b='c.v')} AS sim
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
SELECT DISTINCT id_a, id_b, sim FROM p WHERE sim >= 0.9
"""


# =====================================================================
# Crawl end-to-end fixture (golden-oracle)
# =====================================================================

def q_crawl_fixture(spark, sf_dir):
    """Full micro-batch crawl of the fixture web: (url, status,
    generation-of-fetch) for every frontier row — checked against the
    hand-derived reference DFS golden (SURVEY.md §7.5)."""
    import tempfile

    from img_spark.plans.crawl import CrawlConfig, Crawler, read_frontier
    from img_spark.operators.politeness import robots_df as _rdf
    from img_spark.sources.site_config import rows_from_config
    from img_spark.sources.synthweb import (
        FIXTURE_CONFIG, FIXTURE_ROBOTS, FIXTURE_SEEDS, fixture_pages_df,
    )

    ckpt = tempfile.mkdtemp(prefix="imgspark_crawlq_")
    c = Crawler(
        spark,
        fixture_pages_df(spark),
        rows_from_config(FIXTURE_CONFIG),
        _rdf(spark, FIXTURE_ROBOTS),
        CrawlConfig(checkpoint_dir=ckpt, partitions=8),
    )
    c.run(seeds=FIXTURE_SEEDS)
    frontier = read_frontier(spark, ckpt, c.generation)
    return frontier.filter(
        F.col("status").isin("fetched", "disallowed", "fetch_failed")
    ).select("url", "status", F.col("generation").cast("int").alias("fetch_gen"))


# hand-derived golden: DFS order per host, budget=1 (FIXTURES.md §3)
SQL_CRAWL_FIXTURE = """
SELECT * FROM (VALUES
  ('https://site-a.test/',            'fetched',    1),
  ('https://site-b.test/gallery',     'fetched',    1),
  ('https://site-c.test/g/1',         'fetched',    1),
  ('https://site-d.test/idx',         'fetched',    1),
  ('https://site-a.test/private/x/1', 'disallowed', 1),
  ('https://site-a.test/a1/1',        'fetched',    2),
  ('https://site-c.test/g/2',         'fetched',    2),
  ('https://site-a.test/a1/2',        'fetched',    3),
  ('https://site-c.test/g/3',         'fetched',    3),
  ('https://site-a.test/a1/3',        'fetched',    4),
  ('https://site-a.test/a2/1',        'fetched',    5),
  ('https://site-a.test/a2/2',        'fetched',    6),
  ('https://site-a.test/a2/3',        'fetched',    7)
) AS t(url, status, fetch_gen)
"""


# =====================================================================
# Registry
# =====================================================================

def all_queries():
    return {
        "host_extract": q_host_extract,
        "canonicalize": q_canonicalize,
        "filename_derive": q_filename,
        "site_config_lookup": q_site_lookup,
        "robots_allow": q_robots_allow,
        "robots_allow_rules": q_robots_allow_rules,
        "decontaminate": q_decontaminate,
        "curate_corpus": q_curate_corpus,
        "stratified_sample": q_stratified_sample,
        "politeness_topk": q_politeness_topk,
        "seen_antijoin": q_seen_antijoin,
        "extract_images": q_extract_images,
        "extract_text": q_extract_text,
        "next_link": q_next_link,
        "title_clean": q_title_clean,
        "token_count": q_token_count,
        "lang_id": q_lang_id,
        "quality_signals": q_quality,
        "doc_fingerprint": q_fingerprint,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard_pairs": q_jaccard_pairs,
        "dedup_minhash_lsh": q_minhash_pairs,
        "simhash": q_simhash,
        "simhash_near_dups": q_simhash_near_dups,
        "ann_cosine_topk": q_ann_cosine,
        "ann_lsh_topk": q_lsh_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "crawl_fixture": q_crawl_fixture,
        "downloads_sink": q_downloads,
        "content_type_name": q_content_type_name,
        "token_count_bpe": q_token_count_bpe,
        "extract_css_style": q_css_style_extract,
        "extract_json": q_json_extract,
        "extract_redirect_cleanup": q_redirect_cleanup,
        "extract_two_level": q_two_level,
        "embed_dup_counts": q_embed_dup_counts,
        "metrics_rollup": q_metrics_rollup,
        "percent_encode": q_percent_encode,
        "magic_sniff": q_magic_sniff,
        "extract_assets": q_extract_assets,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_features": q_multimodal_features,
        "stream_window_counts": q_stream_window_counts,
        "css_import_chain": q_css_import_chain,
        "ann_ivf_topk": q_ivf_topk,
        "robots_parse": q_robots_parse,
        "dedup_clusters": q_dedup_clusters,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_resize": q_multimodal_resize,
        "redact_pii": q_redact_pii,
    }


def all_oracles():
    return {
        "host_extract": SQL_HOST_EXTRACT,
        "canonicalize": SQL_CANONICALIZE,
        "filename_derive": SQL_FILENAME,
        "site_config_lookup": _sql_site_lookup(),
        "robots_allow": SQL_ROBOTS_ALLOW,
        "robots_allow_rules": SQL_ROBOTS_ALLOW,
        "decontaminate": SQL_DECONTAMINATE,
        "curate_corpus": _sql_curate_corpus(),
        "stratified_sample": SQL_STRATIFIED_SAMPLE,
        "politeness_topk": SQL_POLITENESS_TOPK,
        "seen_antijoin": SQL_SEEN_ANTIJOIN,
        "extract_images": SQL_EXTRACT_IMAGES,
        "extract_text": SQL_EXTRACT_TEXT,
        "next_link": SQL_NEXT_LINK,
        "title_clean": SQL_TITLE_CLEAN,
        "token_count": SQL_TOKEN_COUNT,
        "lang_id": _sql_lang_id(),
        "quality_signals": _sql_quality(),
        "doc_fingerprint": SQL_FINGERPRINT,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_jaccard_pairs": SQL_JACCARD_PAIRS,
        "dedup_minhash_lsh": _sql_minhash_pairs(),
        "simhash": _sql_simhash(),
        "simhash_near_dups": _sql_simhash_near_dups(),
        "ann_cosine_topk": SQL_ANN_COSINE,
        "ann_lsh_topk": _sql_lsh_topk(),
        "embedding_near_dups": _sql_embedding_near_dups(),
        "crawl_fixture": SQL_CRAWL_FIXTURE,
        "downloads_sink": SQL_DOWNLOADS,
        "content_type_name": SQL_CONTENT_TYPE_NAME,
        "token_count_bpe": SQL_TOKEN_COUNT_BPE,
        "extract_css_style": SQL_CSS_STYLE_EXTRACT,
        "extract_json": SQL_JSON_EXTRACT,
        "extract_redirect_cleanup": SQL_REDIRECT_CLEANUP,
        "extract_two_level": SQL_TWO_LEVEL,
        "embed_dup_counts": SQL_EMBED_DUP_COUNTS,
        "metrics_rollup": SQL_METRICS_ROLLUP,
        "percent_encode": SQL_PERCENT_ENCODE,
        "magic_sniff": SQL_MAGIC_SNIFF,
        "extract_assets": SQL_EXTRACT_ASSETS,
        "multimodal_decode": SQL_MULTIMODAL_DECODE,
        "multimodal_features": SQL_MULTIMODAL_FEATURES,
        "stream_window_counts": SQL_STREAM_WINDOW_COUNTS,
        "css_import_chain": SQL_CSS_IMPORT_CHAIN,
        "ann_ivf_topk": _sql_ivf_topk(),
        "robots_parse": SQL_ROBOTS_PARSE,
        "dedup_clusters": _sql_dedup_clusters(),
        "multimodal_frames": SQL_MULTIMODAL_FRAMES,
        "multimodal_resize": SQL_MULTIMODAL_RESIZE,
        "redact_pii": _sql_redact_pii(),
    }


def q_downloads(spark, sf_dir):
    """S4 sink derivation: dir (F12), filename (F10), referer over the
    extracted images of the synthesized pages (enc_url exercised in
    tests; excluded here because DuckDB lacks the custom encode set)."""
    from img_spark.operators.urlexprs import filename_expr

    pages = _doc_pages(spark, sf_dir)
    out = extract_pages(pages)
    rows = out.select(
        F.col("url").alias("page_url"),
        F.col("dir_title"),
        F.explode("imgs").alias("img_url"),
    )
    return rows.select(
        "page_url",
        "img_url",
        F.translate(F.col("dir_title"), "/", ":").alias("dir"),
        filename_expr(F.col("img_url")).alias("filename"),
    )


# titles are 'Doc N - Photo Gallery' → longest segment 'Photo Gallery'
SQL_DOWNLOADS = """
WITH d AS (
  SELECT doc_id,
    'https://ex' || (doc_id % 10)::varchar || '.test/d/' || doc_id::varchar AS page_url
  FROM documents),
imgs AS (
  SELECT page_url, doc_id,
    'https://ex' || (doc_id % 10)::varchar || '.test/i/' || doc_id::varchar || 'a.jpg' AS img_url,
    doc_id::varchar || 'a.jpg' AS filename FROM d
  UNION ALL
  SELECT page_url, doc_id,
    'https://ex' || (doc_id % 10)::varchar || '.test/d/i' || doc_id::varchar || 'b.png',
    'i' || doc_id::varchar || 'b.png' FROM d
  UNION ALL
  SELECT page_url, doc_id, 'https://cdn.test/c' || doc_id::varchar || '.webp',
    'c' || doc_id::varchar || '.webp' FROM d)
SELECT page_url, img_url, 'Photo Gallery' AS dir, filename FROM imgs
"""


def q_content_type_name(spark, sf_dir):
    """S6 content-type → filename extension mapping (main.rs:716-734)
    as a portable expression."""
    name = F.concat(F.lit("pic"), _did())
    ctype = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("image/jpeg"))
        .when(F.col("doc_id") % 5 == 1, F.lit("image/svg+xml"))
        .when(F.col("doc_id") % 5 == 2, F.lit("image/png;charset=x"))
        .when(F.col("doc_id") % 5 == 3, F.lit("image/+xml"))  # empty ext
        .otherwise(F.lit("text/html"))
    )
    pos_plus = F.instr(F.substring_index(ctype, "image/", -1), "+")
    pos_semi = F.instr(F.substring_index(ctype, "image/", -1), ";")
    pos_comma = F.instr(F.substring_index(ctype, "image/", -1), ",")
    ctx = F.substring_index(ctype, "image/", -1)
    # probe order '+' then ';' then ',' (main.rs:718-721)
    cut = (
        F.when(pos_plus > 0, pos_plus - 1)
        .when(pos_semi > 0, pos_semi - 1)
        .when(pos_comma > 0, pos_comma - 1)
        .otherwise(F.length(ctx))
    )
    ext = F.substring(ctx, F.lit(1), cut)
    # empty ext still yields "name." (main.rs:723-727) — no ".ext!" fallback
    fname = F.when(
        ctype.contains("image/"),
        F.when(
            ~name.endswith(F.concat(F.lit("."), ext)),
            F.concat(name, F.lit("."), ext),
        ).otherwise(name),
    ).otherwise(F.concat(name, F.lit(".ext!")))
    return _docs(spark, sf_dir).select(
        "doc_id", ctype.alias("content_type"), fname.alias("filename")
    )


SQL_CONTENT_TYPE_NAME = """
WITH c AS (
  SELECT doc_id, 'pic' || doc_id::varchar AS name,
    CASE doc_id % 5 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/svg+xml'
      WHEN 2 THEN 'image/png;charset=x' WHEN 3 THEN 'image/+xml'
      ELSE 'text/html' END AS content_type
  FROM documents),
x AS (
  SELECT doc_id, name, content_type,
    CASE WHEN strpos(content_type,'image/')>0
         THEN substr(content_type, strpos(content_type,'image/')+6) END AS ctx
  FROM c),
e AS (
  SELECT doc_id, name, content_type, ctx,
    CASE WHEN ctx IS NULL THEN NULL
         WHEN strpos(ctx,'+')>0 THEN substr(ctx,1,strpos(ctx,'+')-1)
         WHEN strpos(ctx,';')>0 THEN substr(ctx,1,strpos(ctx,';')-1)
         WHEN strpos(ctx,',')>0 THEN substr(ctx,1,strpos(ctx,',')-1)
         ELSE ctx END AS ext
  FROM x)
SELECT doc_id, content_type,
  CASE WHEN ext IS NOT NULL
       THEN (CASE WHEN NOT ends_with(name, '.' || ext)
                  THEN name || '.' || ext ELSE name END)
       ELSE name || '.ext!' END AS filename
FROM e
"""


def q_token_count_bpe(spark, sf_dir):
    """BPE token counting, BOTH branches under the driver gate: the
    expression-only pre-tokenizer estimator (n_bpe_tokens) AND the
    REAL greedy lowest-rank merge loop (n_bpe_real) with the demo
    merges file [("e","r"), ("er","s")] loaded from disk (round-4
    verdict item 7). The oracle reproduces the real branch in closed
    form: with exactly these two rules, every literal "er" merges (an
    "er" match cannot be shadowed by an overlapping earlier match —
    the pattern's first char 'e' differs from its last char 'r') and
    every literal "ers" then merges (er,s); both pairs only ever form
    from those literals, and letters never split across pre-tokenizer
    pieces, so tokens = chars − count("er") − count("ers"). Pinned
    against the merge loop on adversarial strings in
    tests/test_dataops.py."""
    import os

    from img_spark.operators.textquality import (
        load_bpe_merges,
        token_count_bpe,
        token_count_bpe_regex,
    )

    merges = load_bpe_merges(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "bpe_merges_demo.txt",
    ))
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count_bpe_regex(F.col("text")).alias("n_bpe_tokens"),
        token_count_bpe(F.col("text"), merges).alias("n_bpe_real"),
    )


SQL_TOKEN_COUNT_BPE = r"""
SELECT doc_id,
  len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+'))
    AS n_bpe_tokens,
  length(text) - len(regexp_extract_all(text, 'er'))
               - len(regexp_extract_all(text, 'ers')) AS n_bpe_real
FROM documents
"""


def q_css_style_extract(spark, sf_dir):
    """E3 (raw-CSS url(/image-set( scan, config-less pages) and E7
    (style-attribute url() with entity quotes) through the full
    extraction UDF; also exercises P6 font rejects and E4 cleanup."""
    d = _docs(spark, sf_dir)
    css_url = F.concat(F.lit("https://css"), (F.col("doc_id") % 10).cast("string"),
                       F.lit(".test/p/"), _did())
    css_html = F.concat(
        F.lit("<html><head><title>CSS Page "), _did(),
        F.lit('</title></head><body><style>.a{background:url("/bg/'), _did(),
        F.lit('.png")} .b{background:image-set(url(/hi/'), _did(),
        F.lit(".webp) 2x)} .f{src:url(/f/"), _did(),
        F.lit(".woff2)}</style><p>x</p></body></html>"),
    )
    sty_url = F.concat(F.lit("https://sty"), (F.col("doc_id") % 10).cast("string"),
                       F.lit(".test/p/"), _did())
    sty_html = F.concat(
        F.lit("<html><head><title>Style Page "), _did(),
        F.lit('</title></head><body><div class="bg" style="background:url(&#39;/s/'),
        _did(),
        F.lit('.jpg&#39;) no-repeat"></div></body></html>'),
    )
    css_pages = d.select(
        css_url.alias("url"), F.encode(css_html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("img_sel"),
        F.lit(None).cast("string").alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )
    sty_pages = d.select(
        sty_url.alias("url"), F.encode(sty_html, "utf-8").alias("html"),
        F.lit("div.bg[style]").alias("img_sel"),
        F.lit(None).cast("string").alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )
    out = extract_pages(css_pages.unionByName(sty_pages))
    return out.select(
        F.col("url").alias("page_url"),
        F.explode("imgs").alias("img_url"),
        F.col("origins")[0].alias("origin"),
    )


SQL_CSS_STYLE_EXTRACT = """
WITH d AS (SELECT doc_id, (doc_id % 10)::varchar AS k, doc_id::varchar AS i
           FROM documents)
SELECT page_url, img_url, origin FROM (
  SELECT 'https://css' || k || '.test/p/' || i AS page_url,
         'https://css' || k || '.test/bg/' || i || '.png' AS img_url,
         'css' AS origin FROM d
  UNION ALL
  SELECT 'https://css' || k || '.test/p/' || i,
         'https://css' || k || '.test/hi/' || i || '.webp', 'css' FROM d
  UNION ALL
  SELECT 'https://sty' || k || '.test/p/' || i,
         'https://sty' || k || '.test/s/' || i || '.jpg', 'html' FROM d)
"""


def q_json_extract(spark, sf_dir):
    """E2 json-mode extraction (string-splitting, NOT a JSON parser),
    metaKeywords title (E8 json path) and C3 <script> numeric pagination
    through the full UDF."""
    d = _docs(spark, sf_dir)
    k = (F.col("doc_id") % 10).cast("string")
    pnum = ((F.col("doc_id") % 5) + 1).cast("string")
    page_url = F.concat(F.lit("https://js"), k, F.lit(".test/g/"), pnum)
    html = F.concat(
        F.lit("<html><head><title>ignored</title></head><body><script>"),
        F.lit('var g = {photourl:"https:\\u002F\\u002Fcdn.test\\u002Fa'),
        _did(),
        F.lit('.jpg"};var h = {photourl:"https:\\u002F\\u002Fcdn.test\\u002Fb'),
        _did(),
        F.lit('.jpg"};</script><script>var metaKeywords = "x,Json Gallery '),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(' Long,y";</script></body></html>'),
    )
    pages = d.select(
        page_url.alias("url"),
        F.encode(html, "utf-8").alias("html"),
        F.lit("json: key | photourl").alias("img_sel"),
        F.lit("<script>").alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )
    out = extract_pages(pages)
    return out.select(
        F.col("url").alias("page_url"),
        F.explode("imgs").alias("img_url"),
        "title",
        "next_url",
    )


SQL_JSON_EXTRACT = """
WITH d AS (
  SELECT doc_id,
    'https://js' || (doc_id % 10)::varchar || '.test/g/' AS base,
    ((doc_id % 5) + 1) AS p
  FROM documents),
pages AS (
  SELECT doc_id, base || p::varchar AS page_url,
    'Json Gallery ' || (doc_id % 50)::varchar || ' Long' AS title,
    base || (p + 1)::varchar AS next_url
  FROM d)
SELECT page_url, 'https://cdn.test/a' || doc_id::varchar || '.jpg' AS img_url,
       title, next_url FROM pages
UNION ALL
SELECT page_url, 'https://cdn.test/b' || doc_id::varchar || '.jpg',
       title, next_url FROM pages
"""


def q_redirect_cleanup(spark, sf_dir):
    """E5 redirect/query URL cleanup (main.rs:985-1003) through the full
    extraction UDF on config-less pages (the single-level path is the
    only one that applies the cleanup, main.rs:298-302): percent-decode,
    ?url= unwrap, two-stage query truncation."""
    d = _docs(spark, sf_dir)
    k = (F.col("doc_id") % 10).cast("string")
    page_url = F.concat(F.lit("https://r"), k, F.lit(".test/p/"), _did())
    html = F.concat(
        F.lit("<html><head><title>R "), _did(), F.lit(" Cleanup</title>"),
        F.lit('</head><body><img src="https://cdn.test/i'), _did(),
        F.lit('.jpg?a=1&b=2">'),
        F.lit('<img src="/redir%2Fx?url=https://deep.test/d'), _did(),
        F.lit('.png">'),
        F.lit('<img src="deep/e'), _did(), F.lit('.gif?x=9">'),
        F.lit("</body></html>"),
    )
    pages = d.select(
        page_url.alias("url"), F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("img_sel"),
        F.lit(None).cast("string").alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )
    out = extract_pages(pages)
    return out.select(
        F.col("url").alias("page_url"), F.explode("imgs").alias("img_url")
    )


# src1: query truncated at the '&' after the first '?' (main.rs:990-992)
# src2: %2F decoded, trailing ?url= redirect unwrapped (main.rs:986-988)
# src3: no '&' after '?' and none after the last-segment '.' → kept whole
SQL_REDIRECT_CLEANUP = """
WITH d AS (SELECT doc_id, (doc_id % 10)::varchar AS k, doc_id::varchar AS i
           FROM documents)
SELECT page_url, img_url FROM (
  SELECT 'https://r' || k || '.test/p/' || i AS page_url,
         'https://cdn.test/i' || i || '.jpg?a=1' AS img_url FROM d
  UNION ALL
  SELECT 'https://r' || k || '.test/p/' || i,
         'https://deep.test/d' || i || '.png' FROM d
  UNION ALL
  SELECT 'https://r' || k || '.test/p/' || i,
         'https://r' || k || '.test/p/deep/e' || i || '.gif?x=9' FROM d)
"""


def q_two_level(spark, sf_dir):
    """E9/P7 two-level selector pass (main.rs:325-364): first-level URLs
    re-fetched, right selector applied, title/alt suffix whitelisted by
    image extension (P7, main.rs:346), canonicalized against the ORIGINAL
    page address."""
    from img_spark.operators.extract_udf import resolve_second_level

    d = _docs(spark, sf_dir)
    k = (F.col("doc_id") % 10).cast("string")
    base = F.concat(F.lit("https://tw"), k, F.lit(".test"))
    l1_url = F.concat(base, F.lit("/g/"), _did())
    l1_html = F.concat(
        F.lit("<html><head><title>Two "), _did(), F.lit("</title></head>"),
        F.lit('<body><div class="gal"><img src="/m/'), _did(),
        F.lit('a"><img src="/m/'), _did(), F.lit('b"></div></body></html>'),
    )
    l2a_url = F.concat(base, F.lit("/m/"), _did(), F.lit("a"))
    l2a_html = F.concat(
        F.lit('<html><body><img class="big" src="/full/'), _did(),
        F.lit('a.jpg" title="Pretty '), _did(), F.lit('.JPG">'),
        F.lit('<img class="big" src="/full/'), _did(),
        F.lit('x.png" alt="plain"></body></html>'),
    )
    l2b_url = F.concat(base, F.lit("/m/"), _did(), F.lit("b"))
    l2b_html = F.concat(
        F.lit('<html><body><img class="big" src="/full/'), _did(),
        F.lit('b.webp" alt="B'), _did(), F.lit('.webp"></body></html>'),
    )
    l1 = d.select(
        l1_url.alias("url"), F.encode(l1_html, "utf-8").alias("html"),
        F.lit("div.gal img | img.big").alias("img_sel"),
        F.lit(None).cast("string").alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )
    pages = d.select(
        l2a_url.alias("url"), F.encode(l2a_html, "utf-8").alias("html")
    ).unionByName(
        d.select(l2b_url.alias("url"), F.encode(l2b_html, "utf-8").alias("html"))
    )
    out = resolve_second_level(extract_pages(l1), pages)
    return out.select(
        F.col("url").alias("page_url"), F.explode("imgs").alias("img_url")
    )


SQL_TWO_LEVEL = """
WITH d AS (SELECT doc_id, (doc_id % 10)::varchar AS k, doc_id::varchar AS i
           FROM documents)
SELECT page_url, img_url FROM (
  SELECT 'https://tw' || k || '.test/g/' || i AS page_url,
         'https://tw' || k || '.test/full/' || i || 'a.jpg | Pretty ' || i || '.JPG' AS img_url
  FROM d
  UNION ALL
  SELECT 'https://tw' || k || '.test/g/' || i,
         'https://tw' || k || '.test/full/' || i || 'x.png' FROM d
  UNION ALL
  SELECT 'https://tw' || k || '.test/g/' || i,
         'https://tw' || k || '.test/full/' || i || 'b.webp | B' || i || '.webp' FROM d)
"""


def q_embed_dup_counts(spark, sf_dir):
    """P5/S5/D1 counters through the UDF: data:image embeds counted,
    never emitted (default build, main.rs:289-296); per-page URL dedup
    and missing-src hits land in empty_dup (main.rs:216-245)."""
    d = _docs(spark, sf_dir)
    k = (F.col("doc_id") % 10).cast("string")
    page_url = F.concat(F.lit("https://em"), k, F.lit(".test/p/"), _did())
    html = F.concat(
        F.lit("<html><head><title>Embed "), _did(), F.lit("</title></head>"),
        F.lit('<body><img src="data:image/png;base64,AA">'),
        F.lit('<img src="data:image/gif;base64,BB">'),
        F.lit('<img src="/i/'), _did(), F.lit('.jpg">'),
        F.lit('<img src="/i/'), _did(), F.lit('.jpg">'),
        F.lit('<img data-x="1"></body></html>'),
    )
    pages = d.select(
        page_url.alias("url"), F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("img_sel"),
        F.lit(None).cast("string").alias("next_sel"),
        F.lit(None).cast("string").alias("album_sel"),
    )
    out = extract_pages(pages)
    return out.select(
        F.col("url").alias("page_url"),
        F.size("imgs").alias("n_imgs"),
        "empty_dup",
        "embed",
        "imgs_len",
    )


SQL_EMBED_DUP_COUNTS = """
SELECT 'https://em' || (doc_id % 10)::varchar || '.test/p/' || doc_id::varchar
         AS page_url,
       1 AS n_imgs, 2 AS empty_dup, 2 AS embed, 5 AS imgs_len
FROM documents
"""


def q_metrics_rollup(spark, sf_dir):
    """D3/D4 per-host counters: the crawl loop's metrics aggregation
    (dispatched / imgs / empty_dup / embed sums per host) over the
    embed/dup fixture pages."""
    out = q_embed_dup_counts(spark, sf_dir)
    host = F.substring_index(
        F.substring_index(F.col("page_url"), "://", -1), "/", 1
    )
    return out.groupBy(host.alias("host")).agg(
        F.count("*").alias("dispatched"),
        F.sum("n_imgs").alias("imgs"),
        F.sum("empty_dup").alias("empty_dup"),
        F.sum("embed").alias("embed"),
    )


SQL_METRICS_ROLLUP = """
SELECT 'em' || (doc_id % 10)::varchar || '.test' AS host,
       count(*) AS dispatched, sum(1)::BIGINT AS imgs,
       sum(2)::BIGINT AS empty_dup, sum(2)::BIGINT AS embed
FROM documents GROUP BY 1
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination over the documents table: every
    37th doc plays the evaluation set; docs sharing any distinct word
    3-gram hash with it (themselves, their exact dups, boilerplate
    overlaps) are flagged with their shared-gram count."""
    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 37 == 0)
    return dedup.ngram_decontaminate(d, bench)


# minimal gram CTEs (toks→g0→gh→ge, same construction the jaccard
# oracle uses — duplicated here so the decontam oracle doesn't drag the
# quadratic jac CTE along)
_SQL_GRAM_GE_CTE = r"""
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
g0 AS (
  SELECT doc_id,
    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         ELSE list_transform(generate_series(1, len(t)-2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
    END AS grams
  FROM toks),
gh AS (
  SELECT doc_id,
    list_distinct(list_transform(grams,
        g -> ('0x' || substr(md5(g),1,8))::bigint)) AS ghs
  FROM g0),
ge AS (SELECT doc_id, unnest(ghs) AS gh FROM gh)
"""

SQL_DECONTAMINATE = (
    "WITH " + _SQL_GRAM_GE_CTE + """,
bgh AS (SELECT DISTINCT gh FROM ge WHERE doc_id % 37 = 0),
hits AS (SELECT ge.doc_id, count(*) AS n FROM ge JOIN bgh USING (gh)
         GROUP BY 1)
SELECT d.doc_id, coalesce(h.n, 0)::BIGINT AS bench_hits,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""
)


def q_curate_corpus(spark, sf_dir):
    """The composed training-corpus curation gate: quality AND
    language AND not-exact-dup AND not-benchmark-contaminated, every
    component flag retained for drop auditing."""
    from img_spark.operators.textquality import curate_corpus

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 37 == 0)
    return curate_corpus(d, benchmark=bench, lang="en")


def _sql_curate_corpus():
    words = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    cols, chain, fallback = _lang_sql_parts()
    return (
        "WITH " + _SQL_GRAM_GE_CTE + f""",
bgh AS (SELECT DISTINCT gh FROM ge WHERE doc_id % 37 = 0),
hits AS (SELECT ge.doc_id, count(*) AS n FROM ge JOIN bgh USING (gh)
         GROUP BY 1),
q AS (
  SELECT doc_id,
    (len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 10
     AND len(regexp_split_to_array(trim(lower(text)), '\\s+')) <= 100000
     AND round(length(regexp_replace(text, '\\s+', '', 'g'))
               / len(regexp_split_to_array(trim(lower(text)), '\\s+')), 6) >= 2.0
     AND round(length(regexp_replace(text, '\\s+', '', 'g'))
               / len(regexp_split_to_array(trim(lower(text)), '\\s+')), 6) <= 12.0
    ) AS quality_keep
  FROM documents),
ls AS (
  SELECT doc_id, text,
    {cols}
  FROM documents),
lp AS (
  SELECT doc_id,
    CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
         {chain}
         ELSE '{fallback}' END AS lang_pred
  FROM ls),
fp AS (
  SELECT doc_id,
    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents),
dd AS (
  SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
  FROM fp)
SELECT d.doc_id, q.quality_keep, lp.lang_pred = 'en' AS lang_ok, dd.is_dup,
       coalesce(h.n, 0) > 0 AS contaminated,
       (q.quality_keep AND lp.lang_pred = 'en' AND NOT dd.is_dup
        AND NOT coalesce(h.n, 0) > 0) AS keep
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN lp ON lp.doc_id = d.doc_id
JOIN dd ON dd.doc_id = d.doc_id
LEFT JOIN hits h ON h.doc_id = d.doc_id
"""
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling rates over the documents
    table (corpus-mixing weights): en 50%, de 25%, others kept."""
    from img_spark.operators.textquality import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), {"en": 0.5, "de": 0.25}, default_rate=1.0
    )


SQL_STRATIFIED_SAMPLE = """
WITH b AS (
  SELECT doc_id, lang AS stratum,
    ('0x' || substr(md5(doc_id::varchar || ':sample'), 1, 8))::bigint
      % 1000000 AS bucket
  FROM documents)
SELECT doc_id, stratum, bucket,
  bucket < (CASE stratum WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
            ELSE 1000000 END) AS sampled
FROM b
"""


def q_percent_encode(spark, sf_dir):
    """F11 percent-encode (main.rs:553-564, 629): UTF-8 bytes outside
    alnum + ':/.-_?=%' encoded — the reference's NON_ALPHANUMERIC set,
    NOT urllib.quote (which never encodes '~' or '*')."""
    from img_spark.operators.sink import percent_encode_expr

    url = F.concat(
        F.lit("https://h.test/p "), _did(), F.lit("~a*b&c=d/e.f_g:h?i%j"),
        F.lit("é"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", percent_encode_expr(url).alias("enc_url")
    )


# the fixed input alphabet makes the encode expressible as a replace
# chain; '%' itself is in the keep set so there is no double-encoding
SQL_PERCENT_ENCODE = """
SELECT doc_id,
  replace(replace(replace(replace(replace(
    'https://h.test/p ' || doc_id::varchar || '~a*b&c=d/e.f_g:h?i%j' || 'é',
    ' ', '%20'), '~', '%7E'), '*', '%2A'), '&', '%26'), 'é', '%C3%A9')
    AS enc_url
FROM documents
"""


def q_magic_sniff(spark, sf_dir):
    """S7 magic-number type inference (main.rs:739-766): first-16-byte
    magic → extension, '<svg' text fallback, '' for unknown."""
    from img_spark.operators.sink import magic_extension

    m = F.col("doc_id") % 8
    blob = (
        F.when(m == 0, F.unhex(F.lit("FFD8FFE000104A464946")))
        .when(m == 1, F.unhex(F.lit("89504E470D0A1A0A0000")))
        .when(m == 2, F.unhex(F.lit("47494638396164000000")))
        .when(m == 3, F.unhex(F.lit("524946462400000057454250565038")))
        .when(m == 4, F.unhex(F.lit("424D462A000000000000")))
        .when(m == 5, F.unhex(F.lit("000000206674797061766966000000")))
        .when(m == 6, F.encode(F.lit('<svg xmlns="http://x">'), "utf-8"))
        .otherwise(F.encode(F.lit("plain text payload"), "utf-8"))
    )
    return _docs(spark, sf_dir).select(
        "doc_id", magic_extension(blob).alias("ext")
    )


SQL_MAGIC_SNIFF = """
SELECT doc_id,
  CASE doc_id % 8 WHEN 0 THEN 'jpg' WHEN 1 THEN 'png' WHEN 2 THEN 'gif'
    WHEN 3 THEN 'webp' WHEN 4 THEN 'bmp' WHEN 5 THEN 'avif'
    WHEN 6 THEN 'svg' ELSE '' END AS ext
FROM documents
"""


def q_extract_assets(spark, sf_dir):
    """srcset / link-icon / @import chain extraction (north_star asset
    surface beyond the reference parser; BASELINE.json names all three)."""
    from img_spark.operators.extract_udf import extract_assets

    d = _docs(spark, sf_dir)
    k = (F.col("doc_id") % 10).cast("string")
    page_url = F.concat(F.lit("https://as"), k, F.lit(".test/p/"), _did())
    html = F.concat(
        F.lit('<html><head><link rel="icon" href="/fav'), _did(),
        F.lit('.ico"><style>@import url("/css/a'), _did(),
        F.lit('.css");@import "/css/b'), _did(),
        F.lit('.css";</style></head><body><img src="/s/'), _did(),
        F.lit('.jpg" srcset="/s/'), _did(), F.lit('-1x.jpg 1x, /s/'), _did(),
        F.lit('-2x.jpg 2x"><picture><source srcset="https://cdn.test/pic'),
        _did(), F.lit('.webp"></picture></body></html>'),
    )
    pages = d.select(page_url.alias("url"), F.encode(html, "utf-8").alias("html"))
    return extract_assets(pages).select(
        F.col("url").alias("page_url"), "asset_url", "kind"
    )


SQL_EXTRACT_ASSETS = """
WITH d AS (SELECT doc_id, (doc_id % 10)::varchar AS k, doc_id::varchar AS i
           FROM documents)
SELECT page_url, asset_url, kind FROM (
  SELECT 'https://as' || k || '.test/p/' || i AS page_url,
         'https://as' || k || '.test/fav' || i || '.ico' AS asset_url,
         'icon' AS kind FROM d
  UNION ALL
  SELECT 'https://as' || k || '.test/p/' || i,
         'https://as' || k || '.test/css/a' || i || '.css', 'import' FROM d
  UNION ALL
  SELECT 'https://as' || k || '.test/p/' || i,
         'https://as' || k || '.test/css/b' || i || '.css', 'import' FROM d
  UNION ALL
  SELECT 'https://as' || k || '.test/p/' || i,
         'https://as' || k || '.test/s/' || i || '-1x.jpg', 'srcset' FROM d
  UNION ALL
  SELECT 'https://as' || k || '.test/p/' || i,
         'https://as' || k || '.test/s/' || i || '-2x.jpg', 'srcset' FROM d
  UNION ALL
  SELECT 'https://as' || k || '.test/p/' || i,
         'https://cdn.test/pic' || i || '.webp', 'srcset' FROM d)
"""


def _media_df(spark, sf_dir):
    """Deterministic media blobs keyed by doc_id; the payload is an
    ASCII hex string (sha256 repeated) so DuckDB's VARCHAR md5 can
    reproduce the engine's md5-seeded fake-decode byte-for-byte."""
    import hashlib

    import pandas as pd

    d = _docs(spark, sf_dir).select("doc_id")

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                kind = ("image", "audio", "video")[i % 3]
                data = (
                    hashlib.sha256(f"media-{i}".encode()).hexdigest()
                    * (4 + i % 7)
                ).encode()
                rows.append((i, kind, data))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "data"])

    return d.mapInPandas(gen, schema="media_id long, kind string, data binary")


# md5 hex positions: byte j = hx[2j+1 : 2j+2] (1-based substr); s is
# the raw ASCII payload itself (the demo embedder's oracle counts its
# characters)
_SQL_MEDIA_CTE = """
m AS (
  SELECT doc_id AS media_id,
    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    md5(repeat(sha256('media-' || doc_id::varchar), 4 + doc_id % 7)) AS hx,
    repeat(sha256('media-' || doc_id::varchar), 4 + doc_id % 7) AS s
  FROM documents)
"""


def q_multimodal_decode(spark, sf_dir):
    """Multimodal decode plumbing (deterministic-fake path: no codecs in
    this container): md5-seeded width/height/frame-count over the binary
    column via Arrow mapInPandas."""
    from img_spark.operators.multimodal import decode_media

    return decode_media(_media_df(spark, sf_dir))


SQL_MULTIMODAL_DECODE = f"""
WITH {_SQL_MEDIA_CTE}
SELECT media_id, kind,
  64 + (('0x'||substr(hx,1,2))::int + 256*('0x'||substr(hx,3,2))::int) % 1984 AS width,
  64 + (('0x'||substr(hx,5,2))::int + 256*('0x'||substr(hx,7,2))::int) % 1984 AS height,
  CASE WHEN kind = 'video' THEN 1 + ('0x'||substr(hx,9,2))::int % 32 ELSE 1 END AS n_frames,
  TRUE AS decode_ok
FROM m
"""


def q_multimodal_features(spark, sf_dir):
    """Feature-extraction plumbing: 16-dim md5-seeded vector, exploded
    and re-quantized to the exact 16-bit integers (float32 storage
    round-trips k/65535 losslessly at this magnitude) — PLUS the
    embedding-MODEL hook (round-6 verdict item 6) exercised through
    the same gate: ``model_q`` is the demo hashed-byte-projection
    embedder's value at the same index (small integer counts, exact in
    float32), so the model seam has a value-compared oracle even
    though real codecs/models are environment-blocked."""
    from img_spark.operators.multimodal import (
        extract_features,
        hashed_byte_embedder,
    )

    media = _media_df(spark, sf_dir)
    feats = extract_features(media).select(
        "media_id",
        F.posexplode("features").alias("idx", "f"),
    ).select(
        "media_id", "idx",
        F.round(F.col("f").cast("double") * 65535).cast("int").alias("q16"),
    )
    model = extract_features(
        media, model_fn=hashed_byte_embedder()
    ).select(
        "media_id",
        F.posexplode("features").alias("idx", "mf"),
    ).select(
        "media_id", "idx", F.col("mf").cast("int").alias("model_q")
    )
    return feats.join(model, ["media_id", "idx"])


def _sql_mm_model_q() -> str:
    """DuckDB closed form of ``hashed_byte_embedder`` over the media
    payload (ASCII hex chars): bucket j counts the characters whose
    ASCII code ≡ j (mod 16) — digits land on 0-9, 'a'-'f' on 1-6."""
    cases = []
    for j in range(16):
        chars = []
        if j <= 9:
            chars.append(str(j))
        if 1 <= j <= 6:
            chars.append(chr(96 + j))
        if chars:
            expr = " + ".join(
                f"(length(s) - length(replace(s, '{c}', '')))"
                for c in chars
            )
            cases.append(f"WHEN {j} THEN {expr}")
    return "(CASE idx " + " ".join(cases) + " ELSE 0 END)::int"


SQL_MULTIMODAL_FEATURES = f"""
WITH {_SQL_MEDIA_CTE},
f AS (
  SELECT media_id, unnest(generate_series(0, 15)) AS idx, hx, s FROM m)
SELECT media_id, idx::int AS idx,
  (('0x'||substr(hx, 2*(idx%16)+1, 2))::int * 256
   + ('0x'||substr(hx, 2*((idx+1)%16)+1, 2))::int)::int AS q16,
  {_sql_mm_model_q()} AS model_q
FROM f
"""


EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def q_stream_window_counts(spark, sf_dir):
    """Structured Streaming correctness row: readStream over the events
    table → watermark + 1-hour tumbling window + per-type counts/sums,
    drained with availableNow into a memory sink (complete mode so every
    window is emitted and the batch result is oracle-comparable).
    Tumbling windows are epoch-aligned, so DuckDB date_trunc('hour')
    reproduces the window starts exactly."""
    import tempfile
    import uuid

    # the file-stream source needs a DIRECTORY; glob-filter the sf dir
    # down to the events file
    src = (
        spark.readStream.schema(EVENTS_DDL)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    out = agg.select(
        F.col("window.start").alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )
    name = "q_stream_win_" + uuid.uuid4().hex[:12]
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="imgspark_sw_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


SQL_STREAM_WINDOW_COUNTS = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
"""


def q_css_import_chain(spark, sf_dir):
    """@import chain following: page imports a.css; a.css yields one
    image and imports b.css; b.css yields another image (image-set
    form). Every image reachable through the 2-level chain must surface
    against the ORIGINATING page."""
    from img_spark.operators.extract_udf import (
        extract_assets,
        resolve_css_imports,
    )

    d = _docs(spark, sf_dir)
    k = (F.col("doc_id") % 10).cast("string")
    base = F.concat(F.lit("https://cc"), k, F.lit(".test"))
    page_url = F.concat(base, F.lit("/p/"), _did())
    html = F.concat(
        F.lit('<html><head><style>@import url("/css/a'), _did(),
        F.lit('.css");</style></head><body>x</body></html>'),
    )
    a_url = F.concat(base, F.lit("/css/a"), _did(), F.lit(".css"))
    a_body = F.concat(
        F.lit(".x{background:url(/img/one"), _did(),
        F.lit('.png)} @import "/css/b'), _did(), F.lit('.css";'),
    )
    b_url = F.concat(base, F.lit("/css/b"), _did(), F.lit(".css"))
    b_body = F.concat(
        F.lit(".y{background:image-set(url(/img/two"), _did(),
        F.lit(".jpg) 2x)}"),
    )
    html_pages = d.select(
        page_url.alias("url"), F.encode(html, "utf-8").alias("html")
    )
    css_pages = d.select(
        a_url.alias("url"), F.encode(a_body, "utf-8").alias("html")
    ).unionByName(
        d.select(b_url.alias("url"), F.encode(b_body, "utf-8").alias("html"))
    )
    assets = extract_assets(html_pages)
    return resolve_css_imports(assets, css_pages, max_depth=3)


SQL_CSS_IMPORT_CHAIN = """
WITH d AS (SELECT doc_id, (doc_id % 10)::varchar AS k, doc_id::varchar AS i
           FROM documents)
SELECT page_url, img_url FROM (
  SELECT 'https://cc' || k || '.test/p/' || i AS page_url,
         'https://cc' || k || '.test/img/one' || i || '.png' AS img_url FROM d
  UNION ALL
  SELECT 'https://cc' || k || '.test/p/' || i,
         'https://cc' || k || '.test/img/two' || i || '.jpg' FROM d)
"""


def q_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (inverted-file scale path, sibling of the LSH
    variant): deterministic centroids → list assignment → nprobe probe →
    in-list top-k."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3, n_centroids=16, nprobe=4
    )


def _sql_ivf_topk():
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS ev FROM e WHERE vec_id < 16),
ca AS (
  SELECT c.vec_id AS corpus_id, c.v AS cv, ct.centroid_id,
         {_SQL_COS.format(a='c.v', b='ct.ev')} AS csim
  FROM e c CROSS JOIN cent ct),
assign AS (
  SELECT corpus_id, cv, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY corpus_id
                                 ORDER BY csim DESC, centroid_id) AS rn
    FROM ca) WHERE rn = 1),
qa AS (
  SELECT q.vec_id AS query_id, q.v AS qv, ct.centroid_id,
         {_SQL_COS.format(a='q.v', b='ct.ev')} AS psim
  FROM e q CROSS JOIN cent ct WHERE q.vec_id < 5),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY psim DESC, centroid_id) AS rn
    FROM qa) WHERE rn <= 4),
s AS (
  SELECT p.query_id, a.corpus_id,
         {_SQL_COS.format(a='a.cv', b='p.qv')} AS sim
  FROM assign a JOIN probes p USING (centroid_id)
  WHERE a.corpus_id <> p.query_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, corpus_id) AS rank
  FROM s)
SELECT query_id, corpus_id, sim, rank FROM r WHERE rank <= 3
"""


def q_robots_parse(spark, sf_dir):
    """robots.txt BODY parsing (RFC 9309 subset) → broadcastable rules
    table: agent-group selection (longest match, '*' fallback),
    Allow/Disallow prefixes, Crawl-delay, comments, empty-Disallow
    allow-all."""
    from img_spark.operators.politeness import robots_rules_from_bodies

    v = F.col("doc_id") % 4
    body = (
        F.when(v == 0, F.lit(
            "User-agent: *\nDisallow: /private\n"
            "Allow: /private/pub\nCrawl-delay: 2.5"))
        .when(v == 1, F.lit(
            "User-agent: imgbot\nDisallow: /img\nDisallow: /*.tmp$\n\n"
            "User-agent: *\nDisallow: /all"))
        .when(v == 2, F.lit("# nothing blocked\nUser-agent: *\nDisallow:"))
        .otherwise(F.lit("User-agent: other\nDisallow: /x"))
    )
    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("rb"), _did(), F.lit(".test")).alias("host"),
        body.alias("body"),
    )
    return robots_rules_from_bodies(d, agent="imgbot")


SQL_ROBOTS_PARSE = """
WITH d AS (
  SELECT 'rb' || doc_id::varchar || '.test' AS host, doc_id % 4 AS v
  FROM documents)
SELECT host, path_prefix, allow, crawl_delay FROM (
  SELECT host, '/private' AS path_prefix, FALSE AS allow,
         2.5::double AS crawl_delay FROM d WHERE v = 0
  UNION ALL
  SELECT host, '/private/pub', TRUE, 2.5::double FROM d WHERE v = 0
  UNION ALL
  SELECT host, '/img', FALSE, 0.0::double FROM d WHERE v = 1
  UNION ALL
  SELECT host, '/*.tmp$', FALSE, 0.0::double FROM d WHERE v = 1)
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the MinHash+verify
    pairs (threshold 0.8), rep = min doc id per component — the
    keep-smallest dedup policy. Large-star/small-star contraction on the
    Spark side (O(log n) join-free rounds); the oracle replays plain
    min-label propagation with a recursive CTE."""
    pairs = dedup.minhash_dedup(_docs(spark, sf_dir), threshold=0.8)
    return dedup.connected_components(pairs)


def _sql_dedup_clusters():
    inner = _sql_minhash_pairs().strip().rstrip()
    return f"""
WITH RECURSIVE pairs AS ({inner}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
cc(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, c.lbl FROM edges e JOIN cc c ON c.id = e.dst)
SELECT id AS doc_id, min(lbl) AS rep_id FROM cc GROUP BY id
"""


def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling plan (video rows): one row per sampled frame index
    at a 1000 ms stride — pure JVM sequence/explode."""
    from img_spark.operators.multimodal import sample_frames

    d = _docs(spark, sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 2, F.lit("video"))
        .otherwise(F.lit("image")).alias("kind"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(640).alias("width"),
            F.lit(480).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.lit(1500) + (F.col("doc_id") % 10) * 1000).cast("int")
            .alias("duration_ms"),
        ).alias("meta"),
    )
    return sample_frames(media, every_ms=1000)


SQL_MULTIMODAL_FRAMES = """
WITH v AS (
  SELECT doc_id AS media_id,
         greatest(1, (1500 + (doc_id % 10) * 1000) // 1000) AS n
  FROM documents WHERE doc_id % 3 = 2)
SELECT media_id, unnest(generate_series(0, (n - 1)::int))::int AS frame_idx,
       unnest(generate_series(0, (n - 1)::int))::int * 1000 AS ts_ms
FROM v
"""


def q_multimodal_resize(spark, sf_dir):
    """Aspect-preserving resize plumbing (fake-decode path): md5-seeded
    source dims → scale = min(1, 256/max_side), truncated target dims."""
    from img_spark.operators.multimodal import resize_image

    media = _media_df(spark, sf_dir).withColumn(
        "kind", F.lit("image")
    )
    out = resize_image(media, max_side=256)
    return out.select("media_id", "width", "height", "resize_ok")


SQL_MULTIMODAL_RESIZE = f"""
WITH {_SQL_MEDIA_CTE},
dims AS (
  SELECT media_id,
    64 + (('0x'||substr(hx,1,2))::int + 256*('0x'||substr(hx,3,2))::int) % 1984 AS w,
    64 + (('0x'||substr(hx,5,2))::int + 256*('0x'||substr(hx,7,2))::int) % 1984 AS h
  FROM m)
SELECT media_id,
  greatest(1, trunc(w * least(1.0, 256.0 / greatest(w, h)))::int) AS width,
  greatest(1, trunc(h * least(1.0, 256.0 / greatest(w, h)))::int) AS height,
  TRUE AS resize_ok
FROM dims
"""


def q_redact_pii(spark, sf_dir):
    """PII redaction over text with planted emails/phones/IPs (hygiene
    pass every training pipeline needs before tokenization)."""
    from img_spark.operators.textquality import redact_pii

    planted = F.concat(
        F.col("text"), F.lit(" contact user"), _did(),
        F.lit("@example.com or +1 555-123-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 192.168."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 today"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", redact_pii(planted).alias("clean_text")
    )


def _sql_redact_pii():
    from img_spark.operators.textquality import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    return f"""
WITH t AS (
  SELECT doc_id,
    text || ' contact user' || doc_id::varchar ||
    '@example.com or +1 555-123-' || lpad((doc_id % 10000)::varchar, 4, '0') ||
    ' from 192.168.' || (doc_id % 256)::varchar || '.7 today' AS planted
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(planted,
    '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
    '{PII_IPV4_RE}', '[IP]', 'g'),
    '{PII_PHONE_RE}', '[PHONE]', 'g') AS clean_text
FROM t
"""


# repetition_signals' driver row was folded into quality_signals in
# round 4 (the driver reports at most 50 queries; r3 carried 51 and the
# repetition row fell off the report). The operator itself is unchanged
# (operators/textquality.py:repetition_signals) and is exercised — with
# planted repeated lines — inside q_quality above.
