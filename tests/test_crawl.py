"""End-to-end crawl over the fixture web (FIXTURES.md §3): visit-order
parity, URL-seen membership, byte-identical text invariant, robots,
cuckoo-vs-exact equality, and checkpoint resume."""

import pytest
from pyspark.sql import functions as F

from img_spark.plans.crawl import CrawlConfig, Crawler, read_frontier
from img_spark.operators.politeness import robots_df
from img_spark.sources.site_config import rows_from_config
from img_spark.sources.synthweb import (
    FIXTURE_CONFIG,
    FIXTURE_ROBOTS,
    FIXTURE_SEEDS,
    fixture_pages_df,
    fixture_web,
)

# reference DFS order per host (SURVEY.md §7.5), budget=1
SITE_A_ORDER = [
    "https://site-a.test/",
    "https://site-a.test/a1/1",
    "https://site-a.test/a1/2",
    "https://site-a.test/a1/3",
    "https://site-a.test/a2/1",
    "https://site-a.test/a2/2",
    "https://site-a.test/a2/3",
]


def make_crawler(spark, tmpdir, **kw):
    pages = fixture_pages_df(spark).cache()
    cfg = CrawlConfig(checkpoint_dir=str(tmpdir), partitions=8, **kw)
    return Crawler(
        spark,
        pages,
        rows_from_config(FIXTURE_CONFIG),
        robots_df(spark, FIXTURE_ROBOTS),
        cfg,
    )


def fetched_in_order(spark, ckpt, gmax):
    rows = []
    for g in range(1, gmax + 1):
        df = spark.read.parquet(f"{ckpt}/extracted/g{g}")
        rows.extend(
            (g, r["page_url"]) for r in df.select("page_url").distinct().collect()
        )
    return rows


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    ckpt = tmp_path_factory.mktemp("ckpt_cuckoo")
    c = make_crawler(spark, ckpt)
    c.run(seeds=FIXTURE_SEEDS)
    return c


def test_terminates_and_visits_expected_set(spark, crawl):
    frontier = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    fetched = {
        r["url"]
        for r in frontier.filter(F.col("status") == "fetched").collect()
    }
    expect = set(SITE_A_ORDER) | {
        "https://site-b.test/gallery",
        "https://site-c.test/g/1",
        "https://site-c.test/g/2",
        "https://site-c.test/g/3",
        "https://site-d.test/idx",
    }
    assert fetched == expect
    # robots-disallowed URL never fetched, recorded as disallowed
    dis = {
        r["url"]
        for r in frontier.filter(F.col("status") == "disallowed").collect()
    }
    assert dis == {"https://site-a.test/private/x/1"}


def test_visit_order_parity(spark, crawl):
    """Per-host fetch sequence equals the reference's DFS order."""
    seq = fetched_in_order(spark, crawl.cfg.checkpoint_dir, crawl.generation)
    site_a = [u for _, u in sorted(seq) if u.startswith("https://site-a")]
    assert site_a == SITE_A_ORDER
    site_c = [u for _, u in sorted(seq) if u.startswith("https://site-c")]
    assert site_c == [f"https://site-c.test/g/{p}" for p in (1, 2, 3)]


def test_text_invariant_byte_identical(spark, crawl):
    """input_hint invariant: extracted text == pages.text, byte for byte."""
    pages = fixture_pages_df(spark)
    ckpt = crawl.cfg.checkpoint_dir
    for g in range(1, crawl.generation + 1):
        ext = (
            spark.read.parquet(f"{ckpt}/extracted/g{g}")
            .filter(F.col("status") != "fetch_failed")
            .select("page_url", "extracted_text")
            .distinct()
        )
        j = ext.join(pages, ext["page_url"] == pages["url"]).select(
            "page_url", "extracted_text", "text"
        )
        bad = j.filter(F.col("extracted_text") != F.col("text")).collect()
        assert not bad, bad


def test_discovered_image_sets(spark, crawl):
    ckpt = crawl.cfg.checkpoint_dir
    by_page = {}
    for g in range(1, crawl.generation + 1):
        for r in spark.read.parquet(f"{ckpt}/extracted/g{g}").collect():
            if r["img_url"] is not None:
                by_page.setdefault(r["page_url"], set()).add(r["img_url"])
    assert by_page["https://site-b.test/gallery"] == {
        "https://site-b.test/imgs/1.jpg",
        "https://site-b.test/imgs/lazy.jpg",
        "https://cdn-b.test/deep.png",
        "https://site-b.test/css/hero.jpg",
    }
    assert by_page["https://site-c.test/g/1"] == {
        "https://cdn-c.test/g1/a.jpg",
        "https://cdn-c.test/g1/b.jpg",
    }
    assert by_page["https://site-d.test/idx"] == {
        "https://site-d.test/full/1.jpg | Pretty.jpg",
        "https://site-d.test/full/2.jpg",
    }
    assert by_page["https://site-a.test/a1/1"] == {
        "https://site-a.test/static/a1/p1/i1.jpg",
        "https://site-a.test/static/a1/p1/i2.jpg",
        "https://cdn-a.test/a1/p1/big.jpg",
    }
    # index pages discover albums, not images
    assert "https://site-a.test/" not in by_page


def test_counters(spark, crawl):
    from img_spark.plans.crawl import metrics_df

    ckpt = str(crawl.cfg.checkpoint_dir)
    m = None
    for g in range(1, crawl.generation + 1):
        df = metrics_df(spark, ckpt, g)
        m = df if m is None else m.unionByName(df)
    agg = {
        r["host"]: r
        for r in m.groupBy("host")
        .agg(
            F.sum("dispatched").alias("d"),
            F.sum("empty_dup").alias("dup"),
            F.sum("embed").alias("emb"),
        )
        .collect()
    }
    assert agg["site-b.test"]["emb"] == 1
    # each site-a gallery page has 1 duplicate img (4th img repeats i1)
    assert agg["site-a.test"]["dup"] == 6
    assert agg["site-a.test"]["d"] == 7


def test_exact_mode_membership_equality(spark, crawl, tmp_path_factory):
    """Cuckoo path and exact anti-join backstop agree on the URL-seen
    membership and the visit order (SURVEY.md §2.4 D6)."""
    ckpt2 = tmp_path_factory.mktemp("ckpt_exact")
    c2 = make_crawler(spark, ckpt2, seen_mode="exact")
    c2.run(seeds=FIXTURE_SEEDS)
    assert c2.generation == crawl.generation
    for g in (crawl.generation,):
        f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
        f2 = read_frontier(spark, str(ckpt2), c2.generation)
        s1 = {(r["url"], r["status"]) for r in f1.collect()}
        s2 = {(r["url"], r["status"]) for r in f2.collect()}
        assert s1 == s2


def test_resume_from_checkpoint(spark, crawl, tmp_path_factory):
    """Kill after generation 2, resume, final state identical."""
    ckpt3 = tmp_path_factory.mktemp("ckpt_resume")
    c3 = make_crawler(spark, ckpt3)
    c3.init(FIXTURE_SEEDS)
    c3.step()
    c3.step()
    # fresh crawler object = process restart
    c4 = make_crawler(spark, ckpt3)
    g = c4.resume()
    assert g == 2
    c4.run()
    assert c4.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f4 = read_frontier(spark, str(ckpt3), c4.generation)
    assert {(r["url"], r["status"]) for r in f1.collect()} == {
        (r["url"], r["status"]) for r in f4.collect()
    }


def test_pages_table_adapter(spark, tmp_path):
    """sources/tables.read_pages: parquet fallback path + schema check."""
    import pytest as _pytest

    from img_spark.sources.tables import read_pages

    p = str(tmp_path / "pages_pq")
    fixture_pages_df(spark).write.parquet(p)
    df = read_pages(spark, p)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert df.count() > 0
    bad = str(tmp_path / "bad_pq")
    spark.range(3).write.parquet(bad)
    with _pytest.raises(ValueError):
        read_pages(spark, bad)


def test_streaming_metrics(spark, crawl):
    """Structured Streaming over the extracted sink deltas: per-host
    rolling counts drained with availableNow."""
    from img_spark.streaming.metrics_stream import run_available_now

    name = run_available_now(spark, crawl.cfg.checkpoint_dir, "t_metrics")
    rows = {r["host"]: r for r in spark.sql(f"select * from {name}").collect()}
    assert rows["site-a.test"]["pages"] == 7
    assert rows["site-a.test"]["imgs"] == 18  # 6 gallery pages x 3 imgs
    assert rows["site-c.test"]["imgs"] == 4
    assert rows["site-a.test"]["last_generation"] == 7


def test_partition_count_invariance(spark, crawl, tmp_path_factory):
    """The crawl outcome is independent of the seen-set shard count:
    partitions=2 must reproduce the partitions=8 run exactly."""
    ckpt5 = tmp_path_factory.mktemp("ckpt_p2")
    c5 = make_crawler(spark, ckpt5)
    c5.cfg.partitions = 2
    c5.run(seeds=FIXTURE_SEEDS)
    assert c5.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f5 = read_frontier(spark, str(ckpt5), c5.generation)
    assert {(r["url"], r["status"], r["generation"]) for r in f1.collect()} == {
        (r["url"], r["status"], r["generation"]) for r in f5.collect()
    }


def test_stateful_host_rate(spark, crawl):
    """applyInPandasWithState over the extracted stream: managed per-host
    state accumulates across micro-batches (update mode may emit one row
    per batch per host — the final row per host carries the totals)."""
    from pyspark.sql import functions as F2

    from img_spark.streaming.stateful import run_available_now as run_state

    name = run_state(spark, crawl.cfg.checkpoint_dir, "t_state")
    final = {
        r["host"]: r
        for r in spark.sql(f"select * from {name}")
        .groupBy("host")
        .agg(
            F2.max("total_pages").alias("p"),
            F2.max("total_imgs").alias("i"),
            F2.max("last_generation").alias("g"),
        )
        .collect()
    }
    assert final["site-a.test"]["p"] == 7
    assert final["site-a.test"]["i"] == 18
    assert final["site-a.test"]["g"] == 7
    assert final["site-d.test"]["i"] == 2


def test_bucketed_pages_pruned_crawl(spark, crawl, tmp_path_factory):
    """Bucket-pruned fetch (100-TB scan path): a crawl over the
    hash-partitioned pages table reproduces the plain crawl exactly,
    and each generation's fetch opens only the dispatch batch's bucket
    partitions (file-level pruning, not post-scan filtering)."""
    from img_spark.sources.tables import (
        PAGES_BUCKET_COL,
        read_pages_bucketed,
        write_pages_bucketed,
    )

    n_buckets = 8
    bdir = str(tmp_path_factory.mktemp("pages_bucketed") / "pages")
    write_pages_bucketed(fixture_pages_df(spark), bdir, n_buckets=n_buckets)
    pages = read_pages_bucketed(spark, bdir)

    # partition pruning is real: the bucket filter lands in the scan's
    # PartitionFilters (directory-level pruning, not post-scan filter)
    one = pages.filter(F.col(PAGES_BUCKET_COL).isin([0]))
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
    assert PAGES_BUCKET_COL in pf, pf

    ckpt = tmp_path_factory.mktemp("ckpt_bucketed")
    c = Crawler(
        spark,
        pages,
        rows_from_config(FIXTURE_CONFIG),
        robots_df(spark, FIXTURE_ROBOTS),
        CrawlConfig(checkpoint_dir=str(ckpt), partitions=8,
                    pages_buckets=n_buckets),
    )
    c.run(seeds=FIXTURE_SEEDS)
    assert c.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f2 = read_frontier(spark, str(ckpt), c.generation)
    assert {(r["url"], r["status"], r["generation"]) for r in f1.collect()} == {
        (r["url"], r["status"], r["generation"]) for r in f2.collect()
    }


def test_compaction_mid_crawl(spark, crawl, tmp_path_factory):
    """Compact (with pruning) after generation 2, continue the crawl:
    the final full-frontier view is identical to the uncompacted run,
    and the superseded per-generation dirs are gone."""
    import os

    ckpt = tmp_path_factory.mktemp("ckpt_compact")
    c = make_crawler(spark, ckpt)
    c.init(FIXTURE_SEEDS)
    c.step()
    c.step()
    c.compact(prune=True)
    assert not os.path.isdir(f"{ckpt}/frontier/g0")  # pruned
    assert os.path.isdir(f"{ckpt}/compacted/g2")
    c.run()
    assert c.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    s2 = {(r["url"], r["status"], r["generation"])
          for r in c.frontier_df().collect()}
    assert {(r["url"], r["status"], r["generation"])
            for r in f1.collect()} == s2
    # second compaction folds the first compaction + later deltas
    # (collect before pruning — it deletes the first compaction's files)
    c.compact(prune=True)
    s3 = {(r["url"], r["status"], r["generation"])
          for r in c.frontier_df().collect()}
    assert s2 == s3
    # compact again at the SAME generation: must be an idempotent no-op
    # returning the committed dir (a rewrite would read compacted/g{g}
    # and overwrite that same path in one job — r3 ADVICE)
    p1 = c.compact(prune=True)
    p2 = c.compact(prune=True)
    assert p1 == p2 and os.path.isdir(p1)
    s4 = {(r["url"], r["status"], r["generation"])
          for r in c.frontier_df().collect()}
    assert s2 == s4


def test_parse_robots_txt_kernel():
    from img_spark.operators.politeness import parse_robots_txt

    body = (
        "# robots\nUser-agent: Googlebot\nDisallow: /g\n\n"
        "User-agent: imgbot\nUser-agent: otherbot\n"
        "Disallow: /private\nAllow: /private/pub\nCrawl-delay: 1.5\n\n"
        "User-agent: *\nDisallow: /all\n"
    )
    assert parse_robots_txt(body, "imgbot/1.0") == [
        ("/private", False, 1.5), ("/private/pub", True, 1.5),
    ]
    assert parse_robots_txt(body, "randombot") == [("/all", False, 0.0)]
    assert parse_robots_txt("User-agent: *\nDisallow:", "x") == []
    assert parse_robots_txt("", "x") == []
    # missing blank line between groups: a new User-agent after
    # directives starts a new group (lenient, html5-of-robots behavior)
    two = "User-agent: a\nDisallow: /x\nUser-agent: *\nDisallow: /y"
    assert parse_robots_txt(two, "zbot") == [("/y", False, 0.0)]


def test_robots_pattern_kernel():
    """RFC 9309 pattern semantics, pure-Python twin (the Spark
    expression form is pinned equivalent by the randomized test
    below): '*' spans any run, TRAILING '$' anchors, mid-pattern '$'
    is literal, regex metachars in patterns are literal, %XX escapes
    compare case-insensitively."""
    from img_spark.operators.politeness import (
        robots_pattern_matches as m,
        robots_pattern_regex,
    )

    assert m("/*.pdf$", "/docs/x.pdf")
    assert not m("/*.pdf$", "/docs/x.pdfx")     # anchored
    assert not m("/*.pdf$", "/docs/xApdf")      # '.' is literal
    assert m("/files/*/raw", "/files/a/b/raw/x")
    assert not m("/files/*/raw", "/files/a/b/ra")
    assert m("/*?sort=", "/list?sort=asc")      # '?' is literal
    assert not m("/*?sort=", "/list-sort=asc")
    assert m("/a$b", "/a$b/c")                  # mid-pattern '$' literal
    assert not m("/a$b", "/ab/c")
    assert m("/a%3Cb", "/a%3cb") and m("/a%3cb", "/a%3Cb")  # %-case
    assert not m("/a%3Cb", "/a%3db")
    assert m("/", "/anything") and m("", "/x")
    assert m("/p", "/p") and not m("/private", "/p")
    # RFC 3986 §6.2.2.2: unreserved escapes decode on EITHER side
    # (round-6 verdict item 4) — reserved ones stay encoded
    assert m("/%7Euser", "/~user/x") and m("/~user", "/%7euser/x")
    assert m("/%41lbum*", "/Album/z") and not m("/%41lbum*", "/album/z")
    assert not m("/%2Fx", "//x")                # %2F is NOT '/'
    # a decoded '.' is a literal, not a regex dot
    assert robots_pattern_regex("/%2Epdf") == r"^/\.pdf"
    assert m("/%2Epdf", "/.pdf") and not m("/%2Epdf", "/xpdf")
    # the regex uses only the ^ . * $ \-escape subset (RE2 ≡ Java)
    assert robots_pattern_regex("/*.pdf$") == r"^/.*\.pdf$"
    assert robots_pattern_regex("/a(b)+c") == r"^/a\(b\)\+c"


def test_robots_pattern_spark_python_differential(spark):
    """The Column-expression wildcard kernel ≡ the pure-Python twin on
    a randomized sweep of adversarial patterns and paths (regex
    metachars, '%' escapes in both cases, bare '%', mid/trailing '$',
    stacked '*') — string-for-string on the compiled regex AND the
    percent-normalized path, verdict-for-verdict on the match."""
    import random
    import re

    from pyspark.sql import functions as F

    from img_spark.operators.politeness import (
        _pattern_regex_expr,
        _pct_norm_expr,
        robots_pattern_regex,
    )

    rng = random.Random(42)
    # '4','1','7','e','E','2' make random %41/%7E/%2E escapes likely —
    # the decode-unreserved branch gets fuzzed, not just the fixed cases
    alphabet = list("ab/.*$%3Cc?+()[]\\|^{}-_~ 417eE2")
    pats = ["/" + "".join(rng.choice(alphabet)
                          for _ in range(rng.randrange(0, 10)))
            for _ in range(48)]
    paths = ["/" + "".join(rng.choice(alphabet)
                           for _ in range(rng.randrange(0, 14)))
             for _ in range(48)]
    pats += ["/*.pdf$", "/a%3cb", "/a%3Cb", "/%zz", "/", "/a$b$",
             "/**", "/*$", "/%3", "/a{2}b",
             "/%7Euser", "/%41lbum*", "/%2Epdf$", "/~user"]
    paths += ["/docs/x.pdf", "/a%3Cb", "/a%3cb", "/%ZZ", "/x", "/a$b$",
              "/%3cx%3C", "/a{2}b",
              "/~user/5", "/%7euser/5", "/Album/x%7ez", "/.pdf", "/xpdf"]
    rows = [(p, q) for p in pats for q in paths]
    df = spark.createDataFrame(rows, "pattern string, path string").select(
        "pattern", "path",
        _pattern_regex_expr(F.col("pattern")).alias("re"),
        _pct_norm_expr(F.col("path")).alias("npath"),
    ).withColumn(
        "match", F.regexp_like(F.col("npath"), F.col("re"))
    )

    from img_spark.operators.politeness import robots_pct_norm

    for r in df.collect():
        want_re = robots_pattern_regex(r["pattern"])
        assert r["re"] == want_re, (r["pattern"], r["re"], want_re)
        assert r["npath"] == robots_pct_norm(r["path"]), r["path"]
        want = re.search(want_re, robots_pct_norm(r["path"])) is not None
        assert r["match"] == want, (r["pattern"], r["path"])


def test_bfs_vs_dfs_priority(spark, tmp_path_factory):
    """Priority-queue frontier: a nested-album site where DFS descends
    into the sub-album before the sibling leaf, while BFS fetches the
    shallow sibling first."""
    rows = [
        ("https://site-n.test/",
         '<html><head><title>Root N</title></head><body>'
         '<a class="alb" href="/a">A</a><a class="alb" href="/b">B</a>'
         "</body></html>"),
        ("https://site-n.test/a",
         '<html><head><title>Sub A</title></head><body>'
         '<a class="alb" href="/a/1">A1</a></body></html>'),
        ("https://site-n.test/b",
         '<html><head><title>Leaf B</title></head><body>'
         '<img class="x" src="/i/b.jpg"></body></html>'),
        ("https://site-n.test/a/1",
         '<html><head><title>Leaf A1</title></head><body>'
         '<img class="x" src="/i/a1.jpg"></body></html>'),
    ]
    import datetime as dt

    pages = spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1), h.encode(), "", "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).cache()
    cfg_rows = [(0, "site-n.test", "img.x", None, "a.alb")]

    def run(priority):
        ckpt = tmp_path_factory.mktemp(f"ckpt_{priority}")
        c = Crawler(
            spark, pages, cfg_rows, robots_df(spark, []),
            CrawlConfig(checkpoint_dir=str(ckpt), partitions=4,
                        priority=priority),
        )
        c.run(seeds=["https://site-n.test/"])
        fr = c.frontier_df().filter(F.col("status") == "fetched")
        return {r["url"]: r["generation"] for r in fr.collect()}

    dfs = run("dfs")
    bfs = run("bfs")
    assert dfs["https://site-n.test/a/1"] == 3  # DFS descends first
    assert dfs["https://site-n.test/b"] == 4
    assert bfs["https://site-n.test/b"] == 3    # BFS takes the shallow leaf
    assert bfs["https://site-n.test/a/1"] == 4
    assert set(dfs) == set(bfs)


def test_salted_dispatch_equivalence(spark):
    """Two-phase skew-safe dispatch returns EXACTLY the single-window
    dispatch set (per-salt top-budget is a superset of the global
    top-budget), including delay-capped hosts."""
    from img_spark.operators.politeness import (
        dispatch_top_k,
        dispatch_top_k_salted,
    )

    pend = spark.createDataFrame(
        [
            (f"u{i}", f"h{i % 5}", f"{i:010d}", i % 11,
             40.0 if i % 5 == 0 else 0.0)
            for i in range(500)
        ],
        "url string, host string, path string, depth int, crawl_delay double",
    )
    for order in ("dfs", "bfs"):
        base = {
            r["url"]
            for r in dispatch_top_k(pend, 3, 60.0, order=order)
            .filter("dispatch").collect()
        }
        for salts in (2, 7, 32):
            got = {
                r["url"]
                for r in dispatch_top_k_salted(pend, 3, 60.0, order=order,
                                               salts=salts)
                .filter("dispatch").collect()
            }
            assert got == base, (order, salts)


def test_salted_crawl_and_autocompact(spark, crawl, tmp_path_factory):
    """dispatch_salts + compact_every in the live loop reproduce the
    plain crawl exactly."""
    ckpt = tmp_path_factory.mktemp("ckpt_salted")
    c = make_crawler(spark, ckpt, dispatch_salts=4, compact_every=3)
    c.run(seeds=FIXTURE_SEEDS)
    assert c.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f2 = c.frontier_df()
    assert {(r["url"], r["status"], r["generation"]) for r in f1.collect()} == {
        (r["url"], r["status"], r["generation"]) for r in f2.collect()
    }


def test_robots_bodies_end_to_end(spark, crawl, tmp_path_factory):
    """Full loop closure: raw robots.txt BODIES → parse operator →
    rules table → crawler; the crawl must match the hand-written
    rules-table run exactly."""
    from img_spark.operators.politeness import robots_rules_from_bodies

    bodies = spark.createDataFrame(
        [
            ("site-a.test",
             "# fixture\nUser-agent: *\nDisallow: /private\nAllow: /\n"),
            ("site-b.test", "User-agent: *\nAllow: /\n"),
            ("site-c.test", "User-agent: *\nAllow: /\n"),
            ("site-d.test", "User-agent: *\nAllow: /\n"),
        ],
        "host string, body string",
    )
    robots = robots_rules_from_bodies(bodies, agent="imgbot")
    ckpt = tmp_path_factory.mktemp("ckpt_robots_e2e")
    c = Crawler(
        spark,
        fixture_pages_df(spark).cache(),
        rows_from_config(FIXTURE_CONFIG),
        robots,
        CrawlConfig(checkpoint_dir=str(ckpt), partitions=8),
    )
    c.run(seeds=FIXTURE_SEEDS)
    assert c.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f2 = c.frontier_df()
    assert {(r["url"], r["status"]) for r in f1.collect()} == {
        (r["url"], r["status"]) for r in f2.collect()
    }


def test_retry_after_crash_before_manifest_commit(spark, crawl, tmp_path_factory):
    """Durability: a generation that wrote its data dirs but died BEFORE
    the atomic manifest commit is re-run from the previous manifest; the
    overwrite-mode writes make the retry idempotent and the final crawl
    matches the uninterrupted run."""
    import os

    ckpt = tmp_path_factory.mktemp("ckpt_crash")
    c = make_crawler(spark, ckpt)
    c.init(FIXTURE_SEEDS)
    c.step()  # g1 committed
    c.step()  # g2 committed — now simulate the crash by dropping ONLY
    os.remove(f"{ckpt}/manifest-g2.json")  # the commit record
    c2 = make_crawler(spark, ckpt)
    assert c2.resume() == 1  # g2's data dirs exist but are uncommitted
    c2.run()  # re-runs g2 (overwrite) and finishes the crawl
    assert c2.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f2 = c2.frontier_df()
    assert {(r["url"], r["status"], r["generation"]) for r in f1.collect()} == {
        (r["url"], r["status"], r["generation"]) for r in f2.collect()
    }


def test_step_exception_waits_for_submitted_writes(
    spark, crawl, tmp_path_factory
):
    """A generation that raises while its state plan is still being
    built (here: in the seen filter) has already submitted the
    extracted-delta write. step() must wait for that write and shut its
    write pool down before the exception propagates — an orphaned
    overwrite of extracted/g{g} would race the retried generation — and
    resume() + run() must still reproduce the uninterrupted crawl."""
    import threading

    ckpt = tmp_path_factory.mktemp("ckpt_raise")
    c = make_crawler(spark, ckpt)
    c.init(FIXTURE_SEEDS)
    c.step()  # g1 committed
    before = set(threading.enumerate())

    def boom(cand, g):
        raise RuntimeError("injected seen-filter failure")

    c._seen_filter = boom
    with pytest.raises(RuntimeError, match="injected"):
        c.step()
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert leaked == []

    c2 = make_crawler(spark, ckpt)
    assert c2.resume() == 1
    c2.run()
    assert c2.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f2 = c2.frontier_df()
    assert {(r["url"], r["status"], r["generation"]) for r in f1.collect()} == {
        (r["url"], r["status"], r["generation"]) for r in f2.collect()
    }


def test_step_exception_releases_step_caches(
    spark, crawl, tmp_path_factory, monkeypatch
):
    """A generation that raises after it cached frames — here while
    its state plan is built (seen filter) and inside a submitted write
    (state write) — must release every frame it persisted or cached
    before the exception propagates: a retried generation would
    otherwise leak the failed attempt's caches for the life of the
    session. resume() + run() still reproduces the uninterrupted
    crawl."""
    ckpt = tmp_path_factory.mktemp("ckpt_release")
    c = make_crawler(spark, ckpt)
    c.init(FIXTURE_SEEDS)
    c.step()  # g1 committed

    cached = []
    cls = type(spark.range(1))
    for name in ("persist", "cache"):
        def record(self, *args, _orig=getattr(cls, name), **kw):
            out = _orig(self, *args, **kw)
            cached.append(out)
            return out

        monkeypatch.setattr(cls, name, record)

    def boom(df, g):
        raise RuntimeError("injected failure")

    for method in ("_seen_filter", "_write_state"):
        cached.clear()
        setattr(c, method, boom)
        with pytest.raises(RuntimeError, match="injected"):
            c.step()
        delattr(c, method)
        assert cached, method  # the step cached frames before raising
        assert [df for df in cached if df.is_cached] == [], method
    monkeypatch.undo()

    c2 = make_crawler(spark, ckpt)
    assert c2.resume() == 1
    c2.run()
    assert c2.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f2 = c2.frontier_df()
    assert {(r["url"], r["status"], r["generation"]) for r in f1.collect()} == {
        (r["url"], r["status"], r["generation"]) for r in f2.collect()
    }


def test_exact_seen_read_error_fails_the_step(spark, tmp_path_factory):
    """seen_mode='exact': an unreadable seen table must fail the step.
    Reading it as empty would mark every candidate new and re-crawl
    the whole frontier."""
    import shutil

    ckpt = tmp_path_factory.mktemp("ckpt_exact_bad")
    c = make_crawler(spark, ckpt, seen_mode="exact")
    c.init(FIXTURE_SEEDS)
    seen = ckpt / "seen_exact"
    shutil.rmtree(seen)
    seen.mkdir()
    (seen / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        c.step()


def test_crawl_on_file_scheme_checkpoint(spark, crawl, tmp_path_factory):
    """Deploy-portability (round-2 verdict item 3): the whole crawl —
    cuckoo blob save/load inside executors, manifest commits, footer
    counts, compaction listings — runs with the checkpoint on a
    pyarrow.fs URI scheme (file:// is the sandbox proof; the same code
    paths resolve s3:///hdfs://)."""
    ckpt = "file://" + str(tmp_path_factory.mktemp("ckpt_uri"))
    c = make_crawler(spark, ckpt, compact_every=3)
    c.run(seeds=FIXTURE_SEEDS)
    assert c.generation == crawl.generation
    f1 = read_frontier(spark, str(crawl.cfg.checkpoint_dir), crawl.generation)
    f2 = read_frontier(spark, ckpt, c.generation)
    assert {(r["url"], r["status"], r["generation"]) for r in f1.collect()} == {
        (r["url"], r["status"], r["generation"]) for r in f2.collect()
    }
    # process restart on the URI scheme
    c2 = make_crawler(spark, ckpt)
    assert c2.resume() == crawl.generation


def test_partial_compaction_dir_is_ignored(spark, tmp_path_factory):
    """Crash mid-compaction leaves a dir without _SUCCESS: it must NOT
    become the compaction floor (round-2 advice: a partial floor makes
    read_frontier silently under-read history and lets the next prune
    destroy intact deltas); the next compact() overwrites it."""
    import os

    from img_spark.plans.crawl import _compaction_floor

    ckpt = tmp_path_factory.mktemp("ckpt_partial")
    c = make_crawler(spark, ckpt)
    c.init(FIXTURE_SEEDS)
    c.step()
    c.step()
    full_before = {(r["url"], r["status"])
                   for r in read_frontier(spark, str(ckpt), 2).collect()}
    # partial compaction dir, no _SUCCESS marker
    os.makedirs(f"{ckpt}/compacted/g1/status=fetched")
    assert _compaction_floor(str(ckpt)) == 0
    full_after = {(r["url"], r["status"])
                  for r in read_frontier(spark, str(ckpt), 2).collect()}
    assert full_before == full_after  # history not under-read
    c.compact(prune=True)  # commits a real compaction at g2
    assert _compaction_floor(str(ckpt)) == 3
    assert {(r["url"], r["status"])
            for r in read_frontier(spark, str(ckpt), 2).collect()} == full_before


def test_resume_to_pruned_generation_fails_loudly(spark, tmp_path_factory):
    """resume() to a generation whose pending snapshot was pruned by a
    later compaction must raise — not return an empty frontier that
    'completes' the crawl instantly (round-2 advice)."""
    ckpt = tmp_path_factory.mktemp("ckpt_pruneres")
    c = make_crawler(spark, ckpt)
    c.init(FIXTURE_SEEDS)
    c.step()
    c.step()
    c.step()
    c.compact(prune=True)
    c2 = make_crawler(spark, ckpt)
    with pytest.raises(RuntimeError, match="pruned"):
        c2.resume(generation=1)
    assert c2.resume() == 3  # the latest manifest is still live
    c2.run()
    assert read_frontier(spark, str(ckpt), c2.generation).filter(
        F.col("status") == "fetched"
    ).count() == 12


def test_robots_rules_equiv_and_shuffle_free(spark):
    """apply_robots_rules ≡ apply_robots on a randomized rule set
    (candidate rows preserved, longest prefix wins), with ZERO
    exchanges in its plan (the window form shuffles the candidate
    batch every generation)."""
    from img_spark.operators.politeness import (
        apply_robots,
        apply_robots_rules,
        robots_compact,
        robots_df,
    )

    rules = []
    for h in range(12):
        host = f"h{h}.test"
        if h % 4 != 3:
            # hosts h3/h7/h11 have rules but NO universal '/' rule, so
            # some candidates match rules=[], exercising the empty-
            # match default (ANSI [0] on [] is an error; get() is not)
            rules.append((host, "/", h % 3 == 0, 0.0))
        rules.append((host, f"/p{h % 4}", h % 2 == 0, float(h % 5)))
        rules.append((host, f"/p{h % 4}/deep", h % 2 == 1, 9.0))
        # RFC 9309 wildcards riding the same randomized sweep: an
        # anchored suffix rule and a mid-pattern '*' rule per host
        rules.append((host, f"/*{h % 3}/x$", h % 2 == 0, 3.0))
        rules.append((host, f"/p*deep", False, 4.0))
    robots = robots_df(spark, rules)
    cand = spark.range(300).select(
        F.col("id"),
        F.concat(F.lit("h"), (F.col("id") % 15).cast("string"),
                 F.lit(".test")).alias("host"),
        F.concat(
            F.lit("https://h"), (F.col("id") % 15).cast("string"),
            F.lit(".test/p"), (F.col("id") % 6).cast("string"),
            F.when(F.col("id") % 2 == 0, F.lit("/deep/x")).otherwise(F.lit("")),
        ).alias("url"),
    )
    a = apply_robots(cand, robots, key_cols=("id",))
    b = apply_robots_rules(cand, robots_compact(robots))
    rows_a = {(r["id"], r["allowed"], r["crawl_delay"]) for r in a.collect()}
    rows_b = {(r["id"], r["allowed"], r["crawl_delay"]) for r in b.collect()}
    assert rows_a == rows_b
    # Python-twin differential: the Column kernel and the pure-Python
    # kernel pick the same verdict for every candidate
    from img_spark.operators.politeness import robots_pattern_matches

    by_host: dict = {}
    for host, pat, allow, delay in rules:
        by_host.setdefault(host, []).append((pat, allow, delay))
    for r in cand.collect():
        path = r["url"].split(".test", 1)[1] or "/"
        hits = [
            (len(p), al, d)
            for p, al, d in by_host.get(r["host"], [])
            if robots_pattern_matches(p, path)
        ]
        want = max(hits)[1] if hits else True
        got = next(x for x in rows_a if x[0] == r["id"])[1]
        assert got == want, (r["url"], hits, got)
    assert b.count() == 300
    plan = b._jdf.queryExecution().executedPlan().toString()
    # the only hash exchange is the ONE-TIME rules compaction (keyed by
    # host, persisted across generations in the crawler); the candidate
    # batch itself must never shuffle — the window form repartitions it
    # by key_cols every generation
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchanges and all("host#" in ln for ln in exchanges), exchanges
    assert "hashpartitioning(id" not in plan


def test_two_level_bench_corpus_end_to_end(spark, tmp_path_factory):
    """Two-level crawl over the parametric bench2 corpus: every gallery
    page's imgs equal its photo pages' img.big URLs (the second-level
    broadcast re-fetch resolves ALL thumbs), and the photo pages are
    never frontier rows (they are fetched inside the generation, like
    the reference's inline two-level loop, main.rs:325-364)."""
    from img_spark.sources.synthweb import (
        bench2l_config,
        bench2l_pages_df,
        bench2l_seeds,
    )

    hosts, albums, ppa, thumbs = 3, 2, 2, 3
    pages = bench2l_pages_df(
        spark, hosts=hosts, albums=albums, pages_per_album=ppa, thumbs=thumbs
    ).cache()
    ckpt = tmp_path_factory.mktemp("ckpt_2l")
    c = Crawler(
        spark,
        pages,
        rows_from_config(bench2l_config(hosts)),
        robots_df(spark, [(f"site{h}.bench2", "/", True, 0.0)
                          for h in range(hosts)]),
        CrawlConfig(checkpoint_dir=str(ckpt), partitions=4, host_budget=10),
    )
    c.run(seeds=bench2l_seeds(hosts))
    by_page = {}
    for g in range(1, c.generation + 1):
        for r in spark.read.parquet(f"{ckpt}/extracted/g{g}").collect():
            if r["img_url"] is not None:
                by_page.setdefault(r["page_url"], set()).add(r["img_url"])
    for h in range(hosts):
        for a in range(albums):
            for p in range(1, ppa + 1):
                got = by_page[f"http://site{h}.bench2/a{a}/{p}"]
                assert got == {
                    f"http://cdn{h}.bench2/a{a}/p{p}/f{j}.jpg"
                    for j in range(thumbs)
                }, (h, a, p, got)
    # photo pages never enter the frontier
    frontier = c.frontier_df()
    assert frontier.filter(F.col("url").contains("/t")).filter(
        F.col("url").endswith(".html")
    ).count() == 0
    # frontier fetched = indexes + gallery pages only
    assert frontier.filter(F.col("status") == "fetched").count() == (
        hosts * (1 + albums * ppa)
    )
    pages.unpersist()


def test_seen_blob_gc_on_compaction(spark, tmp_path_factory):
    """compact(prune=True) garbage-collects seen-blob generations no
    longer referenced by the live manifest (without it blob dirs grow
    O(salts × generations)); every live blob survives, the resumed
    crawl still works, and resume() to a manifest whose blobs were
    pruned fails loudly."""
    import os

    from img_spark import fsio

    ckpt = tmp_path_factory.mktemp("ckpt_seengc")
    c = make_crawler(spark, ckpt)
    # 2 salts: a busy generation re-versions BOTH filters, so earlier
    # generations' blob dirs actually die (at 8 salts over this tiny
    # fixture every dir keeps some salt's latest version — correctly
    # not collectable)
    c.cfg.partitions = 2
    c.init(FIXTURE_SEEDS)
    for _ in range(4):
        c.step()
    dirs_before = {d for d in os.listdir(f"{ckpt}/seen")}
    assert len(dirs_before) >= 4  # one per generation that probed
    c.compact(prune=True)
    live = {p.rsplit("/", 2)[-2] for p in c.seen_blobs.values()}
    dirs_after = {d for d in os.listdir(f"{ckpt}/seen")}
    # everything that survives is either referenced by the live
    # manifest or the current generation's dir; dead versions are gone
    assert dirs_after <= live | {f"g{c.generation}"}
    assert dirs_after < dirs_before  # something was actually collected
    # every live blob still exists
    assert all(fsio.exists(p) for p in c.seen_blobs.values())
    # resume latest + finish the crawl
    c2 = make_crawler(spark, ckpt)
    assert c2.resume() == 4
    c2.run()
    f = read_frontier(spark, str(ckpt), c2.generation)
    assert f.filter(F.col("status") == "fetched").count() == 12
    # a pre-compaction manifest that references pruned blobs is refused
    pruned_gens = [
        int(d[1:]) for d in (dirs_before - dirs_after) if d[1:].isdigit()
    ]
    if pruned_gens:
        c3 = make_crawler(spark, ckpt)
        with pytest.raises(RuntimeError):
            c3.resume(generation=min(pruned_gens))


def test_table_mode_crawl_archives_warc(spark, tmp_path):
    """``archive_dir`` works for TABLE-mode crawls too (a re-crawl of
    an existing pages table can re-archive what it fetched): bodies
    byte-identical to the pages table, the table's ORIGINAL warc_ts
    capture timestamps preserved, and the output round-trips through
    the WARC source."""
    from img_spark.sources.warc import read_warc_pages

    arch = str(tmp_path / "arch")
    c = make_crawler(spark, tmp_path / "ck", archive_dir=arch)
    c.run(seeds=FIXTURE_SEEDS)
    pages = {
        r["url"]: (bytes(r["html"]), r["warc_ts"])
        for r in fixture_pages_df(spark).collect()
    }
    got = {
        r["url"]: (bytes(r["html"]), r["warc_ts"])
        for r in read_warc_pages(spark, arch + "/g*/*.warc.gz").collect()
    }
    fetched = {
        r["url"]
        for r in read_frontier(
            spark, c.cfg.checkpoint_dir, c.generation
        ).filter(F.col("status") == "fetched").collect()
    }
    assert set(got) == fetched and len(fetched) > 0
    for u, (html, ts) in got.items():
        assert html == pages[u][0], u
        assert ts == pages[u][1], u


def test_warc_archive_tolerates_null_warc_ts(spark, tmp_path):
    """A NULL warc_ts row (nullable in user pages tables) must not
    kill the archive task: the body is archived with the epoch
    fallback date instead of being dropped or crashing on NaT."""
    from img_spark.operators.sink import write_warc_archives
    from img_spark.sources.warc import read_warc_pages

    df = spark.createDataFrame(
        [("https://h.test/a", None, b"<html>a</html>", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "arch")
    assert write_warc_archives(df, out) == 1
    rows = read_warc_pages(spark, out + "/*.warc.gz").collect()
    assert len(rows) == 1
    assert bytes(rows[0]["html"]) == b"<html>a</html>"
    assert rows[0]["warc_ts"].year == 1970


def test_warc_source_roundtrip_and_crawl(spark, tmp_path):
    """WARC connector: a multi-member-gzip archive (the Common Crawl
    layout) reads back into the pages schema byte-exactly — and the
    resulting table drives the crawler end-to-end like any pages
    table."""
    import datetime as dt

    from img_spark.sources.synthweb import fixture_web
    from img_spark.sources.warc import build_warc, parse_warc, read_warc_pages

    rows, _, _, _ = fixture_web()
    records = [
        (url, ts, html, 200) for url, ts, html, _text, _lang in rows
    ]
    # one broken + one 404 record interleaved: both must be skipped
    records.insert(3, ("https://err.test/x", dt.datetime(2024, 1, 1),
                       b"not found", 404))
    blob = build_warc(records)
    # truncated garbage appended: the parser stops cleanly
    warc_path = tmp_path / "crawl.warc.gz"
    warc_path.write_bytes(blob + b"\x1f\x8bGARBAGE")

    # kernel-level roundtrip
    recs = list(parse_warc(blob))
    assert len(recs) == len(records)
    assert all(r["warc_type"] == "response" for r in recs)

    pages = read_warc_pages(spark, str(warc_path))
    got = {r["url"]: r for r in pages.collect()}
    assert "https://err.test/x" not in got  # non-2xx filtered
    assert set(got) == {u for u, *_ in rows}
    for url, ts, html, _t, _l in rows:
        assert bytes(got[url]["html"]) == html  # byte-exact payloads
        assert got[url]["warc_ts"] == ts

    # the WARC-derived table drives the crawl exactly like the fixture
    # df (text/lang empty is fine — the loop never reads them)
    ckpt = tmp_path / "ckpt"
    c = Crawler(
        spark,
        pages.cache(),
        rows_from_config(FIXTURE_CONFIG),
        robots_df(spark, FIXTURE_ROBOTS),
        CrawlConfig(checkpoint_dir=str(ckpt), partitions=4),
    )
    c.run(seeds=FIXTURE_SEEDS)
    fetched = c.frontier_df().filter(F.col("status") == "fetched").count()
    assert fetched == 12


def test_score_priority_and_host_budget_overrides(spark, tmp_path_factory):
    """north_star 'priority-queue frontier driven by host-budget +
    depth scoring': (a) priority='score' with a depth-scoring
    expression reproduces BFS exactly (same policy, expressed as
    data); (b) a per-host budget override widens one host's dispatch
    while others keep the default."""
    from img_spark.operators.politeness import (
        dispatch_top_k,
        dispatch_top_k_salted,
    )

    pend = spark.createDataFrame(
        [
            (f"u{i:03d}", f"h{i % 4}", f"{i:010d}", i % 6, 0.0)
            for i in range(240)
        ],
        "url string, host string, path string, depth int, crawl_delay double",
    )
    bfs = {
        r["url"]
        for r in dispatch_top_k(pend, 3, order="bfs").filter("dispatch").collect()
    }
    scored = {
        r["url"]
        for r in dispatch_top_k(pend, 3, order="score", score="-depth")
        .filter("dispatch").collect()
    }
    assert scored == bfs  # '-depth' highest-first == shallow-first
    # deeper-first scoring flips the choice
    deep = {
        r["url"]
        for r in dispatch_top_k(pend, 3, order="score", score="depth")
        .filter("dispatch").collect()
    }
    assert deep != bfs
    # salted variant agrees with the plain one under scoring
    for salts in (2, 8):
        got = {
            r["url"]
            for r in dispatch_top_k_salted(
                pend, 3, order="score", score="-depth", salts=salts
            ).filter("dispatch").collect()
        }
        assert got == scored

    budgets = spark.createDataFrame([("h1", 10)], "host string, budget int")
    over = dispatch_top_k(pend, 2, host_budgets=budgets).filter("dispatch")
    per_host = {r["host"]: r["n"]
                for r in over.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert per_host == {"h0": 2, "h1": 10, "h2": 2, "h3": 2}
    # salted variant honors the override identically
    over2 = dispatch_top_k_salted(
        pend, 2, salts=4, host_budgets=budgets
    ).filter("dispatch")
    assert {(r["url"]) for r in over2.collect()} == {
        r["url"] for r in over.collect()
    }


def test_crawler_score_priority_end_to_end(spark, crawl, tmp_path_factory):
    """priority='score' with '-depth' scoring reproduces the BFS crawl
    exactly through the full loop."""
    ckpt_a = tmp_path_factory.mktemp("ckpt_scored")
    a = make_crawler(spark, ckpt_a, priority="score",
                     priority_score="-depth")
    a.run(seeds=FIXTURE_SEEDS)
    ckpt_b = tmp_path_factory.mktemp("ckpt_bfs2")
    b = make_crawler(spark, ckpt_b, priority="bfs")
    b.run(seeds=FIXTURE_SEEDS)
    fa = {(r["url"], r["status"], r["generation"])
          for r in a.frontier_df().collect()}
    fb = {(r["url"], r["status"], r["generation"])
          for r in b.frontier_df().collect()}
    assert fa == fb


def test_job_materialize_warc_to_bucketed_pages(spark, tmp_path):
    """job.py --materialize-pages: WARC (+WET text sidecar) → bucketed
    parquet pages table in one command; the output loads through
    read_pages_bucketed (so --pages-buckets scan pruning works on the
    next run) with the text column filled from the sidecar."""
    import datetime as dt
    import json as _json

    import job
    from img_spark.sources.tables import read_pages_bucketed
    from img_spark.sources.warc import build_warc, build_wet

    urls = [f"https://m.test/{i}" for i in range(6)]
    ts = dt.datetime(2024, 1, 1)
    (tmp_path / "in.warc.gz").write_bytes(build_warc([
        (u, ts, f"<html>{u}</html>".encode(), 200) for u in urls
    ]))
    (tmp_path / "in.warc.wet.gz").write_bytes(build_wet([
        (u, ts, f"text of {u}") for u in urls[:4]  # 2 urls: no sidecar
    ]))
    out = str(tmp_path / "pages_bucketed")
    rc = job.main([
        "--pages", str(tmp_path / "in.warc.gz"),
        "--wet", str(tmp_path / "in.warc.wet.gz"),
        "--materialize-pages", out, "--pages-buckets", "8",
        "--checkpoint", str(tmp_path / "unused_ck"),
    ])
    assert rc == 0
    got = {r["url"]: r for r in read_pages_bucketed(spark, out).collect()}
    assert set(got) == set(urls)
    assert got[urls[0]]["text"] == f"text of {urls[0]}"
    assert got[urls[5]]["text"] == ""  # no sidecar row → empty, not null
    assert bytes(got[urls[2]]["html"]) == f"<html>{urls[2]}</html>".encode()
    import os

    assert any(
        d.startswith("url_bucket=") for d in os.listdir(out)
    )


def test_backoff_skips_failing_host_every_other_generation(
    spark, tmp_path_factory
):
    """backoff_failures=1: a host whose fetches keep failing is given
    budget 0 for the generation after each failure (pending rows held,
    not lost), so it dispatches on generations 1, 3, 5 instead of
    1, 2, 3 — a healthy host is unaffected. Self-clearing: no failures
    while skipped ⇒ the breaker resets by itself."""
    import datetime as dt

    from img_spark.operators.politeness import robots_df
    from img_spark.plans.crawl import CrawlConfig, Crawler, read_frontier
    from img_spark.sources.synthweb import PAGES_DDL

    pages = spark.createDataFrame(
        [(f"https://h1.test/p{i}", dt.datetime(2024, 1, 1),
          b"<html><title>t</title></html>", "t", "en") for i in (1, 2, 3)],
        PAGES_DDL,
    )  # hx.test pages deliberately absent: every hx fetch fails
    seeds = [f"https://{h}.test/p{i}" for h in ("h1", "hx")
             for i in (1, 2, 3)]
    robots = robots_df(spark, [("h1.test", "/", True, 0.0),
                               ("hx.test", "/", True, 0.0)])
    ckpt = tmp_path_factory.mktemp("ckpt_backoff")
    c = Crawler(
        spark, pages, [], robots,
        CrawlConfig(checkpoint_dir=str(ckpt), partitions=4,
                    host_budget=1, backoff_failures=1),
    )
    c.run(seeds=seeds)
    rows = read_frontier(spark, str(ckpt), c.generation).collect()
    gens = {
        h: sorted(r["generation"] for r in rows
                  if r["host"] == f"{h}.test" and r["status"] != "pending")
        for h in ("h1", "hx")
    }
    assert gens["h1"] == [1, 2, 3]          # healthy host unaffected
    assert gens["hx"] == [1, 3, 5]          # breaker pulses the bad host
    assert all(r["status"] == "fetch_failed" for r in rows
               if r["host"] == "hx.test")
    assert c.generation == 5


def test_write_warc_archives_roundtrip(spark, tmp_path):
    """The WARC sink is the write twin of the source: archives written
    from a pages frame read back byte-identical through
    read_warc_pages (member-per-record layout, atomic file commit)."""
    import datetime as dt
    import os

    from img_spark.operators.sink import write_warc_archives
    from img_spark.sources.warc import read_warc_pages

    rows = [
        (f"https://w.test/{i}", dt.datetime(2024, 2, 3, 4, 5, i % 60),
         f"<html>{'z' * (i * 7 % 50)}{i}</html>".encode(), "", "")
        for i in range(40)
    ] + [("https://w.test/null", dt.datetime(2024, 1, 1), None, "", "")]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string",
    ).repartition(4)
    out = str(tmp_path / "archives")
    n = write_warc_archives(df, out)
    assert n == 40  # null-body row skipped
    files = [f for f in os.listdir(out) if f.endswith(".warc.gz")]
    assert 1 <= len(files) <= 4  # one per non-empty partition
    got = {
        r["url"]: (bytes(r["html"]), r["warc_ts"])
        for r in read_warc_pages(spark, out + "/*.warc.gz").collect()
    }
    assert set(got) == {u for u, _, h, _x, _y in rows if h is not None}
    for u, ts, h, _x, _y in rows:
        if h is not None:
            assert got[u] == (h, ts)


def test_warc_streaming_ingest_exactly_once_per_file(spark, tmp_path):
    """stream_warc_pages: an availableNow pass over a landing dir emits
    every archive's rows; dropping a NEW archive and re-running with
    the same checkpoint emits ONLY the new file's rows (the streaming
    file source's exactly-once-per-file log)."""
    import datetime as dt

    from img_spark.sources.warc import build_warc, stream_warc_pages

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "stream_ckpt")

    def drop(name, urls):
        (landing / name).write_bytes(build_warc([
            (u, dt.datetime(2024, 1, 1), f"<html>{u}</html>".encode(), 200)
            for u in urls
        ]))

    drop("a.warc.gz", ["https://s.test/1", "https://s.test/2"])
    drop("b.warc.gz", ["https://s.test/3"])
    got = []

    def run_once():
        q = (
            stream_warc_pages(spark, str(landing))
            .writeStream.trigger(availableNow=True)
            .foreachBatch(lambda df, _id: got.extend(
                (r["url"], bytes(r["html"])) for r in df.collect()
            ))
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()
    assert sorted(u for u, _ in got) == [
        "https://s.test/1", "https://s.test/2", "https://s.test/3"
    ]
    assert dict(got)["https://s.test/2"] == b"<html>https://s.test/2</html>"
    got.clear()
    drop("c.warc.gz", ["https://s.test/4"])
    run_once()
    assert [u for u, _ in got] == ["https://s.test/4"]


def test_wet_text_sidecar_join(spark, tmp_path):
    """WET conversion records fill the pages text column through the
    documented join — and the filled text matches the fixture's
    byte-exact expected text."""
    import datetime as dt

    from img_spark.sources.synthweb import fixture_web
    from img_spark.sources.warc import (
        build_warc,
        build_wet,
        read_warc_pages,
        read_wet_text,
    )

    rows, _, _, _ = fixture_web()
    warc_path = tmp_path / "c.warc.gz"
    warc_path.write_bytes(build_warc(
        [(u, ts, h, 200) for u, ts, h, _t, _l in rows]
    ))
    wet_path = tmp_path / "c.warc.wet.gz"
    wet_path.write_bytes(build_wet(
        [(u, ts, t) for u, ts, _h, t, _l in rows]
    ))
    pages = read_warc_pages(spark, str(warc_path))
    text = read_wet_text(spark, str(wet_path))
    full = pages.drop("text").join(text, "url", "left").na.fill({"text": ""})
    got = {r["url"]: r["text"] for r in full.collect()}
    for u, _ts, _h, t, _l in rows:
        assert got[u] == t, u


def test_warc_reader_dedups_revisits(spark, tmp_path):
    """Real archives carry the same URL repeatedly; the reader keeps
    the NEWEST capture per url so the fetch equi-join's unique-url
    assumption holds (dedup_urls=False exposes the raw records).
    WARC/1.1 fractional-second dates parse instead of falling back to
    the 1970 epoch."""
    import datetime as dt

    from img_spark.sources.warc import build_warc, parse_warc, read_warc_pages

    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    blob = build_warc([
        ("https://a.test/p", t1, b"<html>old</html>", 200),
        ("https://a.test/p", t2, b"<html>new</html>", 200),
        ("https://b.test/q", t1, b"<html>only</html>", 200),
    ])
    path = tmp_path / "revisits.warc.gz"
    path.write_bytes(blob)
    got = {r["url"]: r for r in read_warc_pages(spark, str(path)).collect()}
    assert len(got) == 2
    assert bytes(got["https://a.test/p"]["html"]) == b"<html>new</html>"
    assert got["https://a.test/p"]["warc_ts"] == t2
    raw = read_warc_pages(spark, str(path), dedup_urls=False).count()
    assert raw == 3
    # WARC/1.1 fractional seconds
    frac = (
        b"WARC/1.1\r\nWARC-Type: metadata\r\n"
        b"WARC-Target-URI: https://c.test/\r\n"
        b"WARC-Date: 2017-03-06T04:03:53.192Z\r\n"
        b"Content-Length: 2\r\n\r\nok\r\n\r\n"
    )
    rec = next(parse_warc(frac))
    assert rec["date"] == dt.datetime(2017, 3, 6, 4, 3, 53, 192000)


def test_extracted_delta_write_runs_no_python_eval(
    spark, tmp_path_factory, monkeypatch
):
    """The extracted-delta frame a step writes (extraction output plus
    the downloads-sink columns, percent-encode included) plans no
    row-at-a-time or Arrow Python evaluation node: only the extraction
    kernel's own mapInPandas crosses into Python."""
    from img_spark.operators import sink

    plans = []
    real = sink.with_download_columns

    def capture(*a, **kw):
        out = real(*a, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(sink, "with_download_columns", capture)
    c = make_crawler(spark, tmp_path_factory.mktemp("ckpt_no_pyeval"))
    c.init(FIXTURE_SEEDS)
    c.step()
    assert len(plans) == 1
    assert "enc_url" in plans[0]
    assert "BatchEvalPython" not in plans[0]
    assert "ArrowEvalPython" not in plans[0]
