"""Live HTTP fetch path (operators/fetch.py + fetch_mode='http'):
hermetic loopback-server tests — pooled fetch correctness, robots
crawl_delay pacing, and the e2e invariant that a live crawl produces
byte-identical extracted rows to the pages-table crawl of the same
fixture web (SURVEY §2.1 S2 real-crawl variant; main.rs:83-111)."""

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlsplit

import pytest
from pyspark.sql import functions as F

from img_spark.operators.fetch import fetch_pages_http
from img_spark.plans.crawl import (
    CrawlConfig, Crawler, _Generation, read_frontier,
)
from img_spark.operators.politeness import robots_df
from img_spark.sources.site_config import rows_from_config
from img_spark.sources.synthweb import (
    FIXTURE_CONFIG,
    FIXTURE_ROBOTS,
    FIXTURE_SEEDS,
    PAGES_DDL,
    fixture_web,
)


@pytest.fixture(scope="module")
def site_server():
    """Loopback server for the fixture web: dispatches on the Host
    header + path (the fetcher connects here via connect_to but sends
    the URL's real host — the curl --resolve pattern), logs request
    (host, path, monotonic time) for the pacing test."""
    rows, _, _, _ = fixture_web()
    site = {}
    for url, _ts, html, _text, _lang in rows:
        s = urlsplit(url)
        site[(s.netloc, s.path)] = html
    # robots.txt bodies equivalent to FIXTURE_ROBOTS (site-d omitted on
    # purpose: a missing robots.txt must default to allow-all)
    site[("site-a.test", "/robots.txt")] = (
        b"User-agent: *\nDisallow: /private\nAllow: /\n"
    )
    site[("site-b.test", "/robots.txt")] = b"User-agent: *\nAllow: /\n"
    site[("site-c.test", "/robots.txt")] = (
        b"User-agent: *\nAllow: /\n"
        b"Sitemap: https://site-a.test/sitemap.xml  # discovery entry\n"
    )
    # oversized page for the connection-poisoning test ('/a-huge' sorts
    # before '/a1/1', so it is fetched first on its host)
    site[("site-a.test", "/a-huge")] = b"<html>" + b"x" * 65536 + b"</html>"
    # sitemap tree: index → plain urlset + gzipped urlset
    import gzip as _gz

    site[("site-a.test", "/sitemap.xml")] = (
        b'<?xml version="1.0"?><sitemapindex>'
        b"<sitemap><loc>https://site-a.test/sm1.xml</loc></sitemap>"
        b"<sitemap><loc> https://site-a.test/sm2.xml.gz </loc></sitemap>"
        b"</sitemapindex>"
    )
    site[("site-a.test", "/sm1.xml")] = (
        b"<urlset><url><loc>https://site-a.test/</loc></url>"
        b"<url><loc>https://site-a.test/a1/1?x=1&amp;y=2</loc></url>"
        b"</urlset>"
    )
    site[("site-a.test", "/sm2.xml.gz")] = _gz.compress(
        b"<urlset><url><loc>https://site-b.test/gallery</loc></url>"
        b"<url><loc>https://site-c.test/g/1</loc></url></urlset>"
    )
    # flaky endpoints: fail the FIRST hit (500 / abrupt close), then
    # serve normally — the per-request retry tests
    site[("site-a.test", "/flaky-500")] = b"<html>flaky ok</html>"
    site[("site-a.test", "/flaky-drop")] = b"<html>drop ok</html>"
    site[("site-a.test", "/flaky-noretry")] = b"<html>nr</html>"
    flaky_hits = {"/flaky-500": 0, "/flaky-drop": 0, "/flaky-noretry": 0}
    log = []
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            host = self.headers.get("Host", "")
            with lock:
                log.append((host, self.path, time.monotonic()))
                if self.path in flaky_hits:
                    flaky_hits[self.path] += 1
                    if flaky_hits[self.path] == 1:
                        if self.path == "/flaky-500":
                            self.send_response(500)
                            self.send_header("Content-Length", "0")
                            self.end_headers()
                        else:  # transport-level failure: no response
                            self.close_connection = True
                            self.connection.close()
                        return
            if self.path == "/redir":
                self.send_response(302)
                self.send_header("Location", "/")
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body = site.get((host, self.path))
            if body is None:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", log
    srv.shutdown()


def test_fetch_pooled_bodies_and_misses(spark, site_server):
    """Bodies come back byte-identical to what the server serves (the
    invalid-UTF-8 page included); 404s and bogus hosts yield NO row
    (they become fetch_failed via the loop's anti-join); redirects are
    followed."""
    connect, _log = site_server
    rows, _, _, _ = fixture_web()
    want = {url: html for url, _ts, html, _t, _l in rows}
    batch = spark.createDataFrame(
        [(u, urlsplit(u).netloc) for u in want]
        + [("https://site-a.test/404-nope", "site-a.test"),
           ("https://site-a.test/redir", "site-a.test")],
        "url string, host string",
    )
    got = {
        r["url"]: bytes(r["html"])
        for r in fetch_pages_http(batch, connect_to=connect).collect()
    }
    assert {u: got[u] for u in want} == want
    assert "https://site-a.test/404-nope" not in got
    # the redirect resolved to the site root's body
    assert got["https://site-a.test/redir"] == want["https://site-a.test/"]


def test_fetch_honors_crawl_delay_per_host(spark, site_server):
    """Three same-host URLs with crawl_delay=0.3 must be spaced ≥~0.3s
    apart at the server (per-host serial pacing inside the task)."""
    connect, log = site_server
    log.clear()
    batch = spark.createDataFrame(
        [(f"https://site-a.test/a1/{p}", "site-a.test", 0.3)
         for p in (1, 2, 3)],
        "url string, host string, crawl_delay double",
    )
    out = fetch_pages_http(batch, connect_to=connect).collect()
    assert len(out) == 3
    times = sorted(t for h, _p, t in log if h == "site-a.test")
    assert len(times) == 3
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert all(g >= 0.25 for g in gaps), gaps


def test_hosts_fetch_concurrently_within_one_task(spark, site_server):
    """Different hosts in ONE partition must fetch concurrently while
    each host stays serial with its crawl_delay: two hosts x 3 URLs at
    0.3s delay take ~0.6s wall (max over hosts), not ~1.2s (sum)."""
    import time

    connect, log = site_server
    log.clear()
    batch = spark.createDataFrame(
        [(f"https://site-a.test/a1/{p}", "site-a.test", 0.3)
         for p in (1, 2, 3)]
        + [(f"https://site-c.test/g/{p}", "site-c.test", 0.3)
           for p in (1, 2, 3)],
        "url string, host string, crawl_delay double",
    )
    t0 = time.monotonic()
    out = fetch_pages_http(
        batch, connect_to=connect, partitions=1
    ).collect()
    wall = time.monotonic() - t0
    assert len(out) == 6
    for h in ("site-a.test", "site-c.test"):
        times = sorted(t for hh, _p, t in log if hh == h)
        gaps = [b - a for a, b in zip(times, times[1:])]
        assert all(g >= 0.25 for g in gaps), (h, gaps)
    # serial across hosts would be >= 1.2s of sleeps alone; allow
    # generous scheduling overhead on the shared host
    assert wall < 1.6, wall


def test_sitemap_seed_discovery(spark, site_server):
    """sitemap_seeds follows the index, reads plain AND gzipped
    urlsets, unescapes entities, and returns the distinct page URLs;
    an unreachable sitemap contributes nothing."""
    from img_spark.operators.fetch import sitemap_seeds

    connect, _log = site_server
    got = {
        r["url"]
        for r in sitemap_seeds(
            spark,
            ["https://site-a.test/sitemap.xml",
             "https://nosuch.test/sitemap.xml"],
            connect_to=connect,
        ).collect()
    }
    assert got == {
        "https://site-a.test/",
        "https://site-a.test/a1/1?x=1&y=2",
        "https://site-b.test/gallery",
        "https://site-c.test/g/1",
    }


def test_robots_sitemap_discovery_feeds_sitemap_seeds(spark, site_server):
    """robots.txt ``Sitemap:`` lines (the protocol's own discovery
    mechanism) surface as sitemap entry points — composed with
    sitemap_seeds, a frontier bootstraps from nothing but a host list;
    hosts without robots.txt (or without Sitemap lines) contribute
    nothing, and comments/spacing are tolerated."""
    from img_spark.operators.fetch import robots_sitemap_urls, sitemap_seeds
    from img_spark.operators.politeness import parse_robots_sitemaps

    assert parse_robots_sitemaps(
        "User-agent: *\n# c\nSITEMAP:  https://h/x.xml \nSitemap:\nAllow: /\n"
    ) == ["https://h/x.xml"]
    # '#' inside the URL is NOT a comment (only at line start / after
    # whitespace — round-5 ADVICE): a fragment survives, a trailing
    # comment is still stripped
    assert parse_robots_sitemaps(
        "Sitemap: https://h/x.xml#frag\nSitemap: https://h/y.xml # note\n"
    ) == ["https://h/x.xml#frag", "https://h/y.xml"]

    connect, _log = site_server
    entries = robots_sitemap_urls(
        spark,
        ["site-c.test", "site-b.test", "site-d.test", "unreachable.test"],
        connect_to=connect,
    )
    got = {r["url"] for r in entries.collect()}
    assert got == {"https://site-a.test/sitemap.xml"}
    seeds = {
        r["url"]
        for r in sitemap_seeds(
            spark, sorted(got), connect_to=connect
        ).collect()
    }
    assert "https://site-a.test/a1/1?x=1&y=2" in seeds
    assert "https://site-b.test/gallery" in seeds


def test_oversized_body_does_not_poison_next_same_host_fetch(
    spark, site_server
):
    """A response larger than max_bytes is rejected AND its connection
    retired — the unread tail must not make the next same-host URL
    fail (the fetch order puts the huge page first)."""
    connect, _log = site_server
    rows, _, _, _ = fixture_web()
    want = {u: h for u, _t, h, _x, _l in rows}
    batch = spark.createDataFrame(
        [("https://site-a.test/a-huge", "site-a.test"),
         ("https://site-a.test/a1/1", "site-a.test")],
        "url string, host string",
    )
    got = {
        r["url"]: bytes(r["html"])
        for r in fetch_pages_http(
            batch, connect_to=connect, max_bytes=1000, partitions=1
        ).collect()
    }
    assert "https://site-a.test/a-huge" not in got
    assert got["https://site-a.test/a1/1"] == want["https://site-a.test/a1/1"]


def test_transient_failures_retry_once_definitive_do_not(
    spark, site_server
):
    """A first-hit 500 and a first-hit connection drop both succeed on
    the in-request retry (fresh connection); a 404 is definitive and is
    NOT retried; already-succeeded URLs are not re-fetched (exactly one
    server hit each)."""
    connect, log = site_server
    log.clear()
    batch = spark.createDataFrame(
        [("https://site-a.test/flaky-500", "site-a.test"),
         ("https://site-a.test/flaky-drop", "site-a.test"),
         ("https://site-a.test/a1/1", "site-a.test"),
         ("https://site-a.test/404-nope", "site-a.test")],
        "url string, host string",
    )
    got = {
        r["url"]: bytes(r["html"])
        for r in fetch_pages_http(
            batch, connect_to=connect, partitions=1, backoff_s=0.05
        ).collect()
    }
    assert got["https://site-a.test/flaky-500"] == b"<html>flaky ok</html>"
    assert got["https://site-a.test/flaky-drop"] == b"<html>drop ok</html>"
    assert "https://site-a.test/404-nope" not in got
    hits = {}
    for _h, p, _t in log:
        hits[p] = hits.get(p, 0) + 1
    assert hits["/flaky-500"] == 2      # failed once, retried once
    assert hits["/flaky-drop"] == 2
    assert hits["/a1/1"] == 1           # success never re-fetched
    assert hits["/404-nope"] == 1       # definitive: no retry


def test_retries_zero_is_single_attempt_curl_parity(spark, site_server):
    """retries=0 restores the reference's single-attempt behavior: the
    first-hit failure becomes a miss (→ fetch_failed downstream)."""
    connect, log = site_server
    log.clear()
    batch = spark.createDataFrame(
        [("https://site-a.test/flaky-noretry", "site-a.test")],
        "url string, host string",
    )
    out = fetch_pages_http(
        batch, connect_to=connect, retries=0, partitions=1
    ).collect()
    assert out == []
    assert [p for _h, p, _t in log] == ["/flaky-noretry"]


def test_second_level_live_fetch_honors_robots_delay(
    spark, site_server, tmp_path
):
    """The two-level second pass sends bare URLs through the fetch
    seam; the Crawler must attach crawl_delay from the robots rules so
    per-host pacing holds on BOTH levels (r4 review finding)."""
    connect, log = site_server
    c = Crawler(
        spark,
        spark.createDataFrame([], PAGES_DDL),
        rows_from_config(FIXTURE_CONFIG),
        robots_df(spark, [("site-a.test", "/", True, 0.3)]),
        CrawlConfig(
            checkpoint_dir=str(tmp_path / "ck"), partitions=2,
            fetch_mode="http", http_connect_to=connect,
        ),
    )
    log.clear()
    batch = spark.createDataFrame(
        [(f"https://site-a.test/a1/{p}",) for p in (1, 2, 3)],
        "url string",
    )
    out = c._fetch_http(batch, _Generation(0)).collect()
    assert len(out) == 3
    times = sorted(t for h, p, t in log if p.startswith("/a1/"))
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert all(g >= 0.25 for g in gaps), gaps


def test_live_crawl_archives_fetched_pages_as_warc(
    spark, site_server, tmp_path
):
    """With archive_dir set, a live crawl writes every generation's
    fetched bodies as WARC — byte-identical to what the server served,
    so the crawl's own output can seed a pages-table crawl later."""
    from img_spark.operators.fetch import robots_http
    from img_spark.sources.warc import read_warc_pages

    connect, _log = site_server
    rows, _, _, _ = fixture_web()
    want = {u: h for u, _t, h, _x, _l in rows}
    arch = str(tmp_path / "archives")
    c = Crawler(
        spark,
        spark.createDataFrame([], PAGES_DDL),
        rows_from_config(FIXTURE_CONFIG),
        robots_df(spark, FIXTURE_ROBOTS),
        CrawlConfig(
            checkpoint_dir=str(tmp_path / "ck"), partitions=4,
            fetch_mode="http", http_connect_to=connect,
            archive_dir=arch,
        ),
    )
    c.run(seeds=FIXTURE_SEEDS)
    got = {
        r["url"]: bytes(r["html"])
        for r in read_warc_pages(
            spark, arch + "/g*/*.warc.gz"
        ).collect()
    }
    fetched = {
        r["url"]
        for r in read_frontier(spark, str(tmp_path / "ck"), c.generation)
        .filter(F.col("status") == "fetched").collect()
    }
    # every (first-level) fetch archived byte-identically; the
    # two-level photo-page fetches resolve inside the generation and
    # are not frontier rows, so they are not part of the archive
    assert set(got) == fetched
    for u in got:
        assert got[u] == want[u], u


def test_robots_http_rules_and_missing_default(spark, site_server):
    """Live robots.txt fetch+parse produces the ROBOTS_DDL rows; a host
    with no robots.txt (or unreachable) gets one allow-all rule."""
    from img_spark.operators.fetch import robots_http

    connect, _log = site_server
    got = {
        (r["host"], r["path_prefix"], r["allow"], r["crawl_delay"])
        for r in robots_http(
            spark, ["site-a.test", "site-d.test", "unreachable.test"],
            connect_to=connect,
        ).collect()
    }
    assert got == {
        ("site-a.test", "/private", False, 0.0),
        ("site-a.test", "/", True, 0.0),
        ("site-d.test", "/", True, 0.0),
        ("unreachable.test", "/", True, 0.0),
    }


def test_job_main_http_mode_no_pages_table(spark, site_server, tmp_path):
    """job.py --fetch-mode http needs NO --pages: the crawl fetches
    live (connect_to → loopback), robots.txt is fetched per seed host,
    and the disallowed fixture URL is blocked by those live rules."""
    import json as _json

    import job
    from img_spark.plans.crawl import read_frontier

    connect, _log = site_server
    cfg_json = str(tmp_path / "web.json")
    with open(cfg_json, "w") as f:
        _json.dump(FIXTURE_CONFIG, f)
    ckpt = str(tmp_path / "ckpt")
    base = [
        "--fetch-mode", "http", "--connect-to", connect,
        "--checkpoint", ckpt, "--config", cfg_json, "--partitions", "4",
    ]
    rc = job.main(base + ["--seeds", *FIXTURE_SEEDS,
                          "--max-generations", "2"])
    assert rc == 0
    # --resume with NO seeds: live robots must be rebuilt from the
    # checkpoint's robots store (round-5: lazily fetched rules are
    # checkpoint state — no re-fetch, no driver host collection), and
    # --curate builds the training corpus from the crawl's extracted
    # deltas on the way out
    corpus_out = str(tmp_path / "corpus")
    rc = job.main(base + ["--resume", "--curate", corpus_out,
                          "--curate-rates", "zh=1.0"])
    assert rc == 0
    gmax = max(
        int(p.name[len("manifest-g"):-len(".json")])
        for p in tmp_path.glob("ckpt/manifest-g*.json")
    )
    frontier = read_frontier(spark, ckpt, gmax)
    assert frontier.filter(F.col("status") == "fetched").count() == 12
    dis = {
        r["url"]
        for r in frontier.filter(F.col("status") == "disallowed").collect()
    }
    assert dis == {"https://site-a.test/private/x/1"}
    corpus = spark.read.parquet(corpus_out)
    assert corpus.count() == 12          # one doc per fetched page
    assert {"keep", "lang", "is_dup", "sampled"} <= set(corpus.columns)


def test_live_crawl_byte_identical_to_table_crawl(
    spark, site_server, tmp_path_factory
):
    """The crawl fixture run FULLY live (HTTP fetch + HTTP robots.txt)
    must produce the SAME frontier statuses and byte-identical
    extracted rows as the pages-table path with the static robots
    table — the two sides of the fetch seam are interchangeable
    (includes the two-level site-d second pass)."""
    from img_spark.operators.fetch import robots_http

    connect, _log = site_server
    rows, _, _, _ = fixture_web()
    pages = spark.createDataFrame(rows, PAGES_DDL).cache()
    empty_pages = spark.createDataFrame([], PAGES_DDL)
    robots = robots_df(spark, FIXTURE_ROBOTS)
    cfgrows = rows_from_config(FIXTURE_CONFIG)

    ck_t = tmp_path_factory.mktemp("ckpt_table")
    ct = Crawler(
        spark, pages, cfgrows, robots,
        CrawlConfig(checkpoint_dir=str(ck_t), partitions=8),
    )
    ct.run(seeds=FIXTURE_SEEDS)

    ck_h = tmp_path_factory.mktemp("ckpt_http")
    live_robots = robots_http(
        spark,
        [urlsplit(u).netloc for u in FIXTURE_SEEDS],
        connect_to=connect,
    )
    ch = Crawler(
        spark, empty_pages, cfgrows, live_robots,
        CrawlConfig(
            checkpoint_dir=str(ck_h), partitions=8,
            fetch_mode="http", http_connect_to=connect,
        ),
    )
    ch.run(seeds=FIXTURE_SEEDS)

    assert ch.generation == ct.generation
    ft = read_frontier(spark, str(ck_t), ct.generation)
    fh = read_frontier(spark, str(ck_h), ch.generation)
    key = lambda df: {
        (r["url"], r["status"], r["generation"]) for r in df.collect()
    }
    assert key(fh) == key(ft)

    for g in range(1, ct.generation + 1):
        cols = [
            "page_url", "status", "dir_title", "title", "extracted_text",
            "img_url", "origin", "filename",
        ]
        et = spark.read.parquet(f"{ck_t}/extracted/g{g}")
        eh = spark.read.parquet(f"{ck_h}/extracted/g{g}")
        sel = lambda df: {tuple(r) for r in df.select(*cols).collect()}
        assert sel(eh) == sel(et), f"generation {g}"


def test_parse_retry_after_forms():
    """RFC 9110 Retry-After: delta-seconds, HTTP-date, garbage."""
    import datetime as dt
    from email.utils import format_datetime

    from img_spark.operators.fetch import _parse_retry_after

    assert _parse_retry_after(None) is None
    assert _parse_retry_after("") is None
    assert _parse_retry_after("120") == 120.0
    assert _parse_retry_after(" 7 ") == 7.0
    assert _parse_retry_after("soon") is None
    # Unicode digit forms are isdigit()-true but float()-invalid — the
    # parser must return None, never raise (round-7 review: a hostile
    # header killed the task in the code meant to defend against it)
    assert _parse_retry_after("²") is None
    assert _parse_retry_after("①") is None
    future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(seconds=90)
    got = _parse_retry_after(format_datetime(future, usegmt=True))
    assert 85.0 <= got <= 90.5
    past = dt.datetime.now(dt.timezone.utc) - dt.timedelta(seconds=90)
    assert _parse_retry_after(format_datetime(past, usegmt=True)) == 0.0


@pytest.fixture()
def rate_limit_server():
    """Loopback server whose /limited endpoint 429s with Retry-After
    until its budget clears; /always429 never recovers."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    hits = {"/limited": 0, "/capped": 0, "/always429": 0}
    times = {k: [] for k in hits}
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            with lock:
                hits[self.path] = hits.get(self.path, 0) + 1
                times.setdefault(self.path, []).append(time.monotonic())
                n = hits[self.path]
            if self.path == "/limited" and n == 1:
                self.send_response(429)
                self.send_header("Retry-After", "1")
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            if self.path == "/capped" and n == 1:
                self.send_response(429)
                self.send_header("Retry-After", "3600")
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            if self.path == "/always429":
                self.send_response(429)
                self.send_header("Retry-After", "1")
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body = b"<html>recovered</html>"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", hits, times
    srv.shutdown()


def test_429_retry_honors_retry_after(rate_limit_server):
    """A 429 is transient: the retry waits the server's Retry-After
    (not just the 0.01 s backoff) and then succeeds."""
    from img_spark.operators.fetch import _fetch_one_status

    connect, hits, times = rate_limit_server
    status, body, *_ = _fetch_one_status(
        {}, "http://rl.test/limited", "t/1.0", 5.0, 1 << 20, connect,
        retries=1, backoff_s=0.01,
    )
    assert status == 200 and body == b"<html>recovered</html>"
    assert hits["/limited"] == 2
    gap = times["/limited"][1] - times["/limited"][0]
    assert gap >= 0.9, gap  # honored Retry-After: 1


def test_429_retry_after_is_capped(rate_limit_server):
    """A hostile Retry-After (1 hour) must not stall the task: the
    sleep is capped at retry_after_cap_s and the retry still runs."""
    from img_spark.operators.fetch import _fetch_one_status

    connect, hits, times = rate_limit_server
    t0 = time.monotonic()
    status, body, *_ = _fetch_one_status(
        {}, "http://rl.test/capped", "t/1.0", 5.0, 1 << 20, connect,
        retries=1, backoff_s=0.01, retry_after_cap_s=0.3,
    )
    assert status == 200 and body == b"<html>recovered</html>"
    assert hits["/capped"] == 2
    assert time.monotonic() - t0 < 5.0  # nowhere near 3600

def test_429_exhausted_is_definitive(rate_limit_server):
    """Retries exhausted on a persistent 429 → final status 429, no
    body (the crawl loop's anti-join lands it fetch_failed; repeated
    failures feed the per-host breaker)."""
    from img_spark.operators.fetch import _fetch_one_status

    connect, hits, _times = rate_limit_server
    status, body, *_ = _fetch_one_status(
        {}, "http://rl.test/always429", "t/1.0", 5.0, 1 << 20, connect,
        retries=1, backoff_s=0.01, retry_after_cap_s=0.2,
    )
    assert status == 429 and body is None
    assert hits["/always429"] == 2  # initial + one retry, then stop
