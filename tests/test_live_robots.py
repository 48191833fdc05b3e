"""Live-mode lazy robots.txt (round-4 verdict item 1): a host
discovered mid-crawl must have its robots.txt fetched before admission
— its Disallow honored, its Crawl-delay pacing the dispatch — and the
fetched rules must persist under the checkpoint (resume re-fetches
nothing), with TTL-based refresh for long crawls."""

import threading
import time

import pytest
from pyspark.sql import functions as F

from img_spark.operators.politeness import apply_robots_rules, robots_df
from img_spark.plans.crawl import CrawlConfig, Crawler, read_frontier
from img_spark.sources.site_config import rows_from_config
from img_spark.sources.synthweb import PAGES_DDL

CONFIG = rows_from_config([
    {"Site": "host-x.test", "Img": "div.photo img", "Album": "div.alb a"},
    {"Site": "host-y.test", "Img": "div.photo img"},
])

X_INDEX = (
    b"<html><head><title>X Index</title></head><body>"
    b'<div class="alb">'
    b'<a href="https://host-y.test/p/1" title="P1">one</a>'
    b'<a href="https://host-y.test/p/2" title="P2">two</a>'
    b'<a href="https://host-y.test/p/3" title="P3">three</a>'
    b'<a href="https://host-y.test/secret/1" title="S">secret</a>'
    b"</div></body></html>"
)


def _y_page(n: int) -> bytes:
    return (
        b"<html><head><title>Y %d</title></head><body>"
        b'<div class="photo"><img src="/img%d.jpg"></div>'
        b"</body></html>" % (n, n)
    )


@pytest.fixture()
def xy_server():
    """Two-host loopback web: host-x links cross-host into host-y,
    whose robots.txt (Disallow + Crawl-delay) only exists server-side —
    the crawler can only learn it by fetching live. The ``site`` dict
    is yielded mutable so tests can flip robots bodies mid-test."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    site = {
        ("host-x.test", "/robots.txt"): b"User-agent: *\nAllow: /\n",
        ("host-x.test", "/"): X_INDEX,
        ("host-y.test", "/robots.txt"): (
            b"User-agent: *\nDisallow: /secret\nAllow: /\nCrawl-delay: 0.4\n"
        ),
        ("host-y.test", "/p/1"): _y_page(1),
        ("host-y.test", "/p/2"): _y_page(2),
        ("host-y.test", "/p/3"): _y_page(3),
        ("host-y.test", "/secret/1"): b"<html>never fetched</html>",
    }
    log = []
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            host = self.headers.get("Host", "")
            with lock:
                log.append((host, self.path, time.monotonic()))
            body = site.get((host, self.path))
            if body == b"__DROP__":  # transport failure: no response
                self.close_connection = True
                self.connection.close()
                return
            if body is not None and body.startswith(b"__REDIRECT__:"):
                self.send_response(302)
                self.send_header(
                    "Location", body.split(b":", 1)[1].decode()
                )
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
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
    yield f"http://127.0.0.1:{srv.server_port}", site, log
    srv.shutdown()


def _crawler(spark, ckpt, connect, **cfg_kw):
    kw = dict(
        checkpoint_dir=ckpt, partitions=4, host_budget=5,
        fetch_mode="http", http_connect_to=connect, live_robots=True,
    )
    kw.update(cfg_kw)
    return Crawler(
        spark,
        spark.createDataFrame([], PAGES_DDL),
        CONFIG,
        robots_df(spark, []),  # no static rules: everything is live
        CrawlConfig(**kw),
    )


def _robots_hits(log, host):
    return [t for h, p, t in log if h == host and p == "/robots.txt"]


def test_mid_crawl_host_gets_robots_disallow_and_pacing(
    spark, xy_server, tmp_path
):
    """host-y is only discoverable via host-x's album links at
    generation 1; its live-fetched rules must (a) mark /secret/1
    disallowed at enqueue, (b) pace the generation-2 dispatch at
    Crawl-delay 0.4, and (c) be fetched exactly once per host."""
    connect, _site, log = xy_server
    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, connect)
    c.run(seeds=["https://host-x.test/"])

    assert len(_robots_hits(log, "host-x.test")) == 1
    assert len(_robots_hits(log, "host-y.test")) == 1

    frontier = read_frontier(spark, ckpt, c.generation)
    by_status = {
        s: {r["url"] for r in rows.collect()}
        for s, rows in (
            (s, frontier.filter(F.col("status") == s))
            for s in ("fetched", "disallowed")
        )
    }
    assert by_status["disallowed"] == {"https://host-y.test/secret/1"}
    assert by_status["fetched"] == {
        "https://host-x.test/",
        "https://host-y.test/p/1",
        "https://host-y.test/p/2",
        "https://host-y.test/p/3",
    }
    # the pending rows host-y produced carried the live crawl_delay
    # into dispatch: server-side spacing of the /p/* fetches ≥ ~0.4s
    times = sorted(t for h, p, t in log if p.startswith("/p/"))
    assert len(times) == 3
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert all(g >= 0.3 for g in gaps), gaps


def test_rules_persist_in_checkpoint_and_resume_refetches_nothing(
    spark, xy_server, tmp_path
):
    """The lazily fetched rules are checkpoint state: a NEW Crawler on
    the same checkpoint rebuilds the broadcast table from the robots
    store — zero robots.txt re-fetches, Disallow still enforced."""
    connect, _site, log = xy_server
    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, connect)
    c.run(seeds=["https://host-x.test/"])
    n_robots = len([1 for _h, p, _t in log if p == "/robots.txt"])

    c2 = _crawler(spark, ckpt, connect)  # fresh process, same checkpoint
    probe = spark.createDataFrame(
        [("https://host-y.test/secret/9", "host-y.test"),
         ("https://host-y.test/p/9", "host-y.test")],
        "url string, host string",
    )
    out = {
        r["url"]: (r["allowed"], r["crawl_delay"])
        for r in apply_robots_rules(probe, c2._robots_rules).collect()
    }
    assert out["https://host-y.test/secret/9"] == (False, 0.4)
    assert out["https://host-y.test/p/9"] == (True, 0.4)
    assert len([1 for _h, p, _t in log if p == "/robots.txt"]) == n_robots


def test_ttl_expiry_refetches_and_newest_rules_win(
    spark, xy_server, tmp_path
):
    """robots_ttl_s=0 makes every stored rule stale: a second ensure
    re-fetches, and a server-side rule flip (allow-all → disallow-all)
    is picked up — newest delta wins in the rebuilt broadcast table.
    With the default TTL the same call is a no-op (freshness index)."""
    connect, site, log = xy_server
    c = _crawler(
        spark, str(tmp_path / "ck"), connect, robots_ttl_s=0.0
    )
    hosts = spark.createDataFrame([("host-y.test",)], "host string")
    c._ensure_robots(hosts)
    assert len(_robots_hits(log, "host-y.test")) == 1

    site[("host-y.test", "/robots.txt")] = b"User-agent: *\nDisallow: /\n"
    c._ensure_robots(hosts)
    assert len(_robots_hits(log, "host-y.test")) == 2
    probe = spark.createDataFrame(
        [("https://host-y.test/p/1", "host-y.test")], "url string, host string"
    )
    row = apply_robots_rules(probe, c._robots_rules).collect()[0]
    assert row["allowed"] is False

    # same store, fresh-rules regime: no third fetch
    c.cfg.robots_ttl_s = 86400.0
    c._reload_robots()
    c._ensure_robots(hosts)
    assert len(_robots_hits(log, "host-y.test")) == 2


def test_ttl_refresh_outage_keeps_cached_rules(spark, xy_server, tmp_path):
    """RFC 9309 §2.3.1 at TTL refresh: a host whose robots.txt is
    UNREACHABLE (transport failure) keeps its previously stored rules
    — a transient outage never downgrades a known Disallow to
    allow-all — while a definitive 404 (robots.txt removed) means
    'no restrictions' and DOES replace the stored rules; a never-seen
    host without robots.txt gets the allow-all default."""
    connect, site, _log = xy_server
    c = _crawler(spark, str(tmp_path / "ck"), connect, robots_ttl_s=0.0)
    hosts_y = spark.createDataFrame([("host-y.test",)], "host string")
    c._ensure_robots(hosts_y)           # real rules stored

    def probe_y():
        probe = spark.createDataFrame(
            [("https://host-y.test/secret/1", "host-y.test"),
             ("https://host-y.test/p/1", "host-y.test")],
            "url string, host string",
        )
        return {
            r["url"]: (r["allowed"], r["crawl_delay"])
            for r in apply_robots_rules(probe, c._robots_rules).collect()
        }

    site[("host-y.test", "/robots.txt")] = b"__DROP__"  # outage
    c._ensure_robots(hosts_y)           # unreachable → cached kept
    out = probe_y()
    assert out["https://host-y.test/secret/1"] == (False, 0.4)
    assert out["https://host-y.test/p/1"] == (True, 0.4)

    del site[("host-y.test", "/robots.txt")]            # 404: removed
    c._ensure_robots(hosts_y)           # definitive → allow-all wins
    out = probe_y()
    assert out["https://host-y.test/secret/1"] == (True, 0.0)

    c._ensure_robots(
        spark.createDataFrame([("host-z.test",)], "host string")
    )
    z = spark.createDataFrame(
        [("https://host-z.test/a", "host-z.test")], "url string, host string"
    )
    row = apply_robots_rules(z, c._robots_rules).collect()[0]
    assert (row["allowed"], row["crawl_delay"]) == (True, 0.0)


def test_robots_store_compaction_folds_deltas_newest_wins(
    spark, xy_server, tmp_path
):
    """The robots DeltaStore's compaction merges the per-fetch delta
    dirs into one (a 10^4-generation live crawl must not accumulate
    O(generations) dirs): newest rules per host survive with their original
    fetched_at, superseded deltas are pruned, and the freshness index
    still prevents re-fetches afterwards."""
    connect, site, log = xy_server
    c = _crawler(spark, str(tmp_path / "ck"), connect, robots_ttl_s=0.0)
    hosts_y = spark.createDataFrame([("host-y.test",)], "host string")
    hosts_x = spark.createDataFrame([("host-x.test",)], "host string")
    c._ensure_robots(hosts_y)                                    # d0
    site[("host-y.test", "/robots.txt")] = b"User-agent: *\nDisallow: /\n"
    c._ensure_robots(hosts_y)                                    # d1
    c._ensure_robots(hosts_x)                                    # d2
    assert len(c._robots_store.dirs()) == 3

    c.cfg.robots_ttl_s = 86400.0
    c._robots_store.compact()
    c._reload_robots()
    assert len(c._robots_store.dirs()) == 1

    probe = spark.createDataFrame(
        [("https://host-y.test/p/1", "host-y.test"),
         ("https://host-x.test/", "host-x.test")],
        "url string, host string",
    )
    out = {
        r["url"]: r["allowed"]
        for r in apply_robots_rules(probe, c._robots_rules).collect()
    }
    assert out["https://host-y.test/p/1"] is False   # newest delta won
    assert out["https://host-x.test/"] is True
    n = len([1 for _h, p, _t in log if p == "/robots.txt"])
    c._ensure_robots(hosts_y)
    c._ensure_robots(hosts_x)
    assert len([1 for _h, p, _t in log if p == "/robots.txt"]) == n


def test_live_wildcard_disallow_blocks_discovered_url(
    spark, xy_server, tmp_path
):
    """RFC 9309 wildcard rules END TO END (round-5 verdict item 1): a
    live-fetched ``Disallow: /*.pdf$`` on a host discovered mid-crawl
    actually blocks its .pdf URL (anchored — the .pdfx decoy stays
    allowed), and the mid-pattern wildcard ``/files/*/raw`` blocks the
    nested path. Before the wildcard matcher these rules were kept as
    literal prefixes that matched nothing."""
    connect, site, log = xy_server
    site[("host-x.test", "/")] = (
        b"<html><head><title>X Index</title></head><body>"
        b'<div class="alb">'
        b'<a href="https://host-y.test/doc/a.pdf" title="D">doc</a>'
        b'<a href="https://host-y.test/doc/a.pdfx" title="E">decoy</a>'
        b'<a href="https://host-y.test/files/v1/raw/x" title="R">raw</a>'
        b'<a href="https://host-y.test/p/1" title="P1">one</a>'
        b"</div></body></html>"
    )
    site[("host-y.test", "/robots.txt")] = (
        b"User-agent: *\nDisallow: /*.pdf$\nDisallow: /files/*/raw\n"
    )
    site[("host-y.test", "/doc/a.pdfx")] = b"<html><body>decoy</body></html>"
    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, connect)
    c.run(seeds=["https://host-x.test/"])

    frontier = read_frontier(spark, ckpt, c.generation)
    status = {r["url"]: r["status"] for r in frontier.collect()}
    assert status["https://host-y.test/doc/a.pdf"] == "disallowed"
    assert status["https://host-y.test/files/v1/raw/x"] == "disallowed"
    assert status["https://host-y.test/doc/a.pdfx"] == "fetched"
    assert status["https://host-y.test/p/1"] == "fetched"
    fetched_paths = {p for h, p, _t in log if h == "host-y.test"}
    assert "/doc/a.pdf" not in fetched_paths
    assert "/files/v1/raw/x" not in fetched_paths


def _redirect_site(site):
    """host-y's /p/2 302s cross-host to host-z, whose robots.txt
    disallows the target path — only discoverable live."""
    site[("host-y.test", "/p/2")] = b"__REDIRECT__:https://host-z.test/land/1"
    site[("host-z.test", "/robots.txt")] = b"User-agent: *\nDisallow: /land\n"
    site[("host-z.test", "/land/1")] = b"<html><body>landed</body></html>"


def test_strict_redirect_policy_reenqueues_through_robots(
    spark, xy_server, tmp_path
):
    """redirect_policy='strict' (round-5 verdict item 2): a cross-host
    3xx target is NOT fetched inline — the redirecting URL records
    status='redirected', the target becomes a kind='redirect' candidate, and
    the target host's live-fetched Disallow kills it at admission. The
    disallowed page is never requested from host-z."""
    connect, site, log = xy_server
    _redirect_site(site)
    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, connect, redirect_policy="strict")
    c.run(seeds=["https://host-x.test/"])

    frontier = read_frontier(spark, ckpt, c.generation)
    status = {r["url"]: (r["status"], r["kind"]) for r in frontier.collect()}
    # the redirecting URL is 'redirected', NOT fetch_failed — it must
    # never feed the backoff circuit breaker (a canonicalizing host
    # would otherwise get its dispatch budget zeroed)
    assert status["https://host-y.test/p/2"][0] == "redirected"
    assert status["https://host-z.test/land/1"] == ("disallowed", "redirect")
    z_paths = {p for h, p, _t in log if h == "host-z.test"}
    assert z_paths == {"/robots.txt"}  # rules consulted, page never hit
    # the rest of the crawl is unaffected
    assert status["https://host-y.test/p/1"][0] == "fetched"
    assert status["https://host-y.test/p/3"][0] == "fetched"


def test_strict_redirect_allowed_target_is_crawled_next_generation(
    spark, xy_server, tmp_path
):
    """Strict mode with an ALLOWED cross-host target: the target is
    admitted as pending and fetched in a later generation — through
    the normal dispatch path, with host-z's pacing — instead of
    inline. Default 'follow' fetches it inline on the same request
    (curl parity, existing byte-parity tests)."""
    connect, site, log = xy_server
    _redirect_site(site)
    site[("host-z.test", "/robots.txt")] = b"User-agent: *\nAllow: /\n"
    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, connect, redirect_policy="strict")
    c.run(seeds=["https://host-x.test/"])
    frontier = read_frontier(spark, ckpt, c.generation)
    status = {r["url"]: r["status"] for r in frontier.collect()}
    assert status["https://host-z.test/land/1"] == "fetched"
    assert ("host-z.test", "/land/1") in {(h, p) for h, p, _t in log}


def test_plain_http_host_robots_fetched_over_http(spark, xy_server, tmp_path):
    """A host whose frontier URLs are plain http must get its robots
    over http://host/robots.txt (round-5 ADVICE: the https-only probe
    classified such hosts 'unreachable' → allow-all). No connect_to
    here — the candidate URL targets the loopback host:port directly,
    so only the scheme derived from the URL can make the fetch work."""
    connect, site, log = xy_server
    hostport = connect.split("://", 1)[1]
    site[(hostport, "/robots.txt")] = b"User-agent: *\nDisallow: /secret\n"
    c = _crawler(spark, str(tmp_path / "ck"), None)
    cand = spark.createDataFrame(
        [(f"http://{hostport}/secret/1", hostport)], "url string, host string"
    )
    c._ensure_robots(cand)
    row = apply_robots_rules(cand, c._robots_rules).collect()[0]
    assert row["allowed"] is False
    assert len(_robots_hits(log, hostport)) == 1


def test_robots_fetch_honors_http_retries_zero(spark, xy_server, tmp_path):
    """--http-retries 0 is single-attempt for robots.txt fetches too
    (round-5 ADVICE: _ensure_robots used to always retry once)."""
    connect, site, log = xy_server
    site[("host-y.test", "/robots.txt")] = b"__DROP__"
    c = _crawler(spark, str(tmp_path / "ck"), connect, http_retries=0)
    c._ensure_robots(
        spark.createDataFrame([("host-y.test",)], "host string")
    )
    assert len(_robots_hits(log, "host-y.test")) == 1
    c2 = _crawler(spark, str(tmp_path / "ck2"), connect, http_retries=1)
    c2._ensure_robots(
        spark.createDataFrame([("host-y.test",)], "host string")
    )
    assert len(_robots_hits(log, "host-y.test")) == 3  # 1 + (1 retry + 1)


def test_robots_store_autocompacts_past_threshold(
    spark, xy_server, tmp_path
):
    """The store folds ITSELF once the delta-dir count passes the
    threshold — independent of frontier compaction (round-5 verdict
    item 7: compact_every=0 crawls accumulated O(generations) dirs)."""
    connect, _site, _log = xy_server
    c = _crawler(spark, str(tmp_path / "ck"), connect, robots_ttl_s=0.0)
    c._robots_store.compact_dirs = 2
    for host in ("host-x.test", "host-y.test", "host-z.test"):
        c._ensure_robots(
            spark.createDataFrame([(host,)], "host string")
        )
    assert len(c._robots_store.dirs()) == 1
    # rules survive the fold
    probe = spark.createDataFrame(
        [("https://host-y.test/secret/1", "host-y.test")],
        "url string, host string",
    )
    row = apply_robots_rules(probe, c._robots_rules).collect()[0]
    assert row["allowed"] is False


def test_static_rules_are_authoritative_over_live(
    spark, xy_server, tmp_path
):
    """A host present in the static robots table is never fetched live
    and its static rules win even after other hosts' deltas land."""
    connect, _site, log = xy_server
    c = Crawler(
        spark,
        spark.createDataFrame([], PAGES_DDL),
        CONFIG,
        robots_df(spark, [("host-y.test", "/", True, 9.9)]),
        CrawlConfig(
            checkpoint_dir=str(tmp_path / "ck"), partitions=4,
            fetch_mode="http", http_connect_to=connect, live_robots=True,
        ),
    )
    c._ensure_robots(
        spark.createDataFrame(
            [("host-y.test",), ("host-x.test",)], "host string"
        )
    )
    assert _robots_hits(log, "host-y.test") == []  # static: not fetched
    assert len(_robots_hits(log, "host-x.test")) == 1
    probe = spark.createDataFrame(
        [("https://host-y.test/secret/1", "host-y.test")],
        "url string, host string",
    )
    row = apply_robots_rules(probe, c._robots_rules).collect()[0]
    assert (row["allowed"], row["crawl_delay"]) == (True, 9.9)
