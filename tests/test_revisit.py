"""Revisit scheduling + conditional refetch (round-6 verdict item 1):
with ``revisit_after_s`` set, the frontier becomes a CONTINUOUS
crawler — terminal fetched URLs older than the TTL re-enqueue as
kind='revisit', their stored validators ride out as If-None-Match /
If-Modified-Since, and a 304 transfers zero body bytes, keeps the
previously extracted rows, and lands status 'unmodified'. Also covers
the round-6 ADVICE fixes that live in the same seam: RFC 3986 netloc
comparison for strict redirects and the https→http robots-probe
fallback for mixed-scheme hosts."""

import json
import threading
import time

import pytest
from pyspark.sql import functions as F

from img_spark.operators.politeness import robots_df
from img_spark.plans.crawl import CrawlConfig, Crawler
from img_spark.sources.site_config import rows_from_config
from img_spark.sources.synthweb import PAGES_DDL

CONFIG = rows_from_config([
    {"Site": "host-r.test", "Img": "div.photo img", "Album": "div.alb a"},
])

INDEX = (
    b"<html><head><title>R Index</title></head><body>"
    b'<div class="alb">'
    b'<a href="https://host-r.test/p/1" title="P1">one</a>'
    b'<a href="https://host-r.test/p/2" title="P2">two</a>'
    b"</div></body></html>"
)


def _photo(img: str) -> bytes:
    return (
        "<html><head><title>R photo</title></head><body>"
        f'<div class="photo"><img src="/{img}"></div>'
        "</body></html>"
    ).encode()


@pytest.fixture()
def cond_server():
    """Loopback server with HTTP validators: each entry carries
    (body, etag, last_modified); a request whose If-None-Match matches
    the current etag (or If-Modified-Since equals the current
    Last-Modified) gets a 304 with ZERO body bytes. The log records
    the conditional headers seen and the body bytes actually sent, so
    tests can prove nothing crossed the wire."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    site = {
        ("host-r.test", "/robots.txt"): {
            "body": b"User-agent: *\nAllow: /\n", "etag": '"rb1"',
            "lm": "Mon, 01 Jan 2024 00:00:00 GMT",
        },
        ("host-r.test", "/"): {
            "body": INDEX, "etag": '"idx1"',
            "lm": "Mon, 01 Jan 2024 00:00:01 GMT",
        },
        ("host-r.test", "/p/1"): {
            "body": _photo("img1.jpg"), "etag": '"p1-v1"',
            "lm": "Mon, 01 Jan 2024 00:00:02 GMT",
        },
        ("host-r.test", "/p/2"): {
            "body": _photo("img2a.jpg"), "etag": '"p2-v1"',
            "lm": "Mon, 01 Jan 2024 00:00:03 GMT",
        },
    }
    log = []
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            # real servers match Host case-insensitively and treat an
            # explicit default port as none (RFC 3986) — the
            # netloc-normalization test redirects to HOST-R.TEST:80
            host = self.headers.get("Host", "").lower()
            if host.endswith(":80"):
                host = host[:-3]
            inm = self.headers.get("If-None-Match")
            ims = self.headers.get("If-Modified-Since")
            entry = site.get((host, self.path))
            rec = {"host": host, "path": self.path, "inm": inm,
                   "ims": ims, "t": time.monotonic()}
            if entry is None:
                rec.update(status=404, sent=0)
                with lock:
                    log.append(rec)
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            if isinstance(entry, dict) and entry.get("redirect"):
                rec.update(status=302, sent=0)
                with lock:
                    log.append(rec)
                self.send_response(302)
                self.send_header("Location", entry["redirect"])
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            fresh = (inm and inm == entry["etag"]) or (
                not inm and ims and ims == entry["lm"]
            )
            if fresh:
                rec.update(status=304, sent=0)
                with lock:
                    log.append(rec)
                self.send_response(304)
                self.send_header("ETag", entry["etag"])
                self.end_headers()
                return
            body = entry["body"]
            rec.update(status=200, sent=len(body))
            with lock:
                log.append(rec)
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("ETag", entry["etag"])
            self.send_header("Last-Modified", entry["lm"])
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
        checkpoint_dir=ckpt, partitions=4, host_budget=8,
        fetch_mode="http", http_connect_to=connect, live_robots=True,
        # the drain WRITES validators (0.5 s base intervals) but its
        # sweep cadence is effectively infinite, so nothing revisits
        # mid-crawl; resumed test crawlers pass revisit_every=1
        revisit_after_s=0.5, revisit_every=1_000_000,
    )
    kw.update(cfg_kw)
    return Crawler(
        spark,
        spark.createDataFrame([], PAGES_DDL),
        CONFIG,
        robots_df(spark, []),
        CrawlConfig(**kw),
    )


def _statuses(spark, ckpt, g):
    """(url → status) of one generation's terminal delta dirs."""
    from img_spark import fsio
    from img_spark.plans.crawl import _DDL_NO_STATUS

    out = {}
    base = fsio.join(ckpt, "frontier", f"g{g}")
    for entry in fsio.listdir(base):
        if not entry.startswith("status=") or entry == "status=pending":
            continue
        st = entry[len("status="):]
        for r in spark.read.schema(_DDL_NO_STATUS).parquet(
            fsio.join(base, entry)
        ).collect():
            out[r["url"]] = (st, r["kind"])
    return out


def test_revisit_304_zero_bytes_and_changed_page_reextracts(
    spark, cond_server, tmp_path
):
    """The verdict's done-criterion e2e: second visit of an unchanged
    page transfers ZERO body bytes (conditional GET → 304) and the
    extracted sink gains nothing for it; a changed page re-extracts;
    every revisit restamps its validator clock."""
    connect, site, log = cond_server
    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, connect)
    c.run(seeds=["https://host-r.test/"])
    drained_g = c.generation
    first_bytes = {
        (r["host"], r["path"]): r["sent"] for r in log if r["status"] == 200
    }
    assert first_bytes[("host-r.test", "/p/1")] > 0  # drain fetched bodies

    # mutate p/2 (new body + new etag), then revisit with a short TTL
    site[("host-r.test", "/p/2")] = {
        "body": _photo("img2b.jpg"), "etag": '"p2-v2"',
        "lm": "Mon, 01 Jan 2024 00:01:00 GMT",
    }
    log.clear()
    time.sleep(0.6)
    c2 = _crawler(
        spark, ckpt, connect, revisit_every=1,
        revisit_min_s=0.1, revisit_max_s=8.0,
    )
    c2.resume()
    t_before = time.time()
    stats = c2.step()
    g = c2.generation
    assert g == drained_g + 1

    # wire truth: unchanged pages got 304s carrying our validators,
    # with zero body bytes; the changed page re-transferred
    second = {(r["host"], r["path"]): r for r in log
              if r["path"].startswith("/p/") or r["path"] == "/"}
    for path in ("/", "/p/1"):
        r = second[("host-r.test", path)]
        assert r["status"] == 304 and r["sent"] == 0, r
        assert r["inm"] or r["ims"], r
    assert second[("host-r.test", "/p/2")]["status"] == 200

    # frontier truth: 304 → 'unmodified', changed → 'fetched', all
    # via kind='revisit'
    st = _statuses(spark, ckpt, g)
    assert st["https://host-r.test/"] == ("unmodified", "revisit")
    assert st["https://host-r.test/p/1"] == ("unmodified", "revisit")
    # fetched terminal rows null their kind (done_pre — same as any
    # first-visit fetch); the status is what matters
    assert st["https://host-r.test/p/2"][0] == "fetched"
    assert stats.get("unmodified", 0) >= 2

    # sink truth: the revisit generation extracted ONLY the changed
    # page, with its new image
    ext = spark.read.parquet(f"{ckpt}/extracted/g{g}")
    rows = ext.filter(F.col("img_url").isNotNull()).select(
        "page_url", "img_url"
    ).collect()
    assert {r["page_url"] for r in rows} == {"https://host-r.test/p/2"}
    assert {r["img_url"] for r in rows} == {"https://host-r.test/img2b.jpg"}

    # clock truth: every revisited URL restamped (no perpetual
    # re-sweep) and the changed page's NEW validators stored
    from img_spark.plans.crawl import VALIDATORS_DDL

    vals = {
        r["url"]: r
        for r in c2._validators.live().collect()
    }
    for u in ("https://host-r.test/", "https://host-r.test/p/1",
              "https://host-r.test/p/2"):
        assert vals[u]["fetched_at"] >= t_before, u
    assert vals["https://host-r.test/p/2"]["etag"] == '"p2-v2"'
    assert vals["https://host-r.test/p/1"]["etag"] == '"p1-v1"'
    # ADAPTIVE intervals (AIMD): the drain stamped 0.5 s base
    # intervals; a 304 doubles (→ 1.0, toward the 8 s cap) and changed
    # content halves (→ 0.25, toward the 0.1 s floor) — static pages
    # drift to the cap, hot pages to the floor
    assert vals["https://host-r.test/p/1"]["interval_s"] == 1.0
    assert vals["https://host-r.test/"]["interval_s"] == 1.0
    assert vals["https://host-r.test/p/2"]["interval_s"] == 0.25


def test_revisit_rechecks_robots_and_restamps_blocked(
    spark, cond_server, tmp_path
):
    """Robots rules that changed between visits are re-honored at
    revisit admission: newly disallowed URLs land a terminal
    'disallowed' row (kind='revisit'), are NEVER fetched, and restamp
    their validator clock so they don't re-sweep every generation."""
    connect, site, log = cond_server
    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, connect)
    c.run(seeds=["https://host-r.test/"])

    site[("host-r.test", "/robots.txt")] = {
        "body": b"User-agent: *\nDisallow: /p\nAllow: /\n",
        "etag": '"rb2"', "lm": "Mon, 01 Jan 2024 00:02:00 GMT",
    }
    log.clear()
    time.sleep(0.6)
    c2 = _crawler(
        spark, ckpt, connect, revisit_every=1, robots_ttl_s=0.1
    )
    c2.resume()
    t_before = time.time()
    c2.step()
    g = c2.generation

    st = _statuses(spark, ckpt, g)
    assert st["https://host-r.test/p/1"] == ("disallowed", "revisit")
    assert st["https://host-r.test/p/2"] == ("disallowed", "revisit")
    assert st["https://host-r.test/"][0] in ("unmodified", "fetched")
    # the disallowed URLs were never requested (only robots + index)
    hit_paths = {r["path"] for r in log}
    assert not any(p.startswith("/p/") for p in hit_paths), hit_paths
    # blocked revisits restamped — the sweep will not retry them until
    # another TTL elapses
    vals = {
        r["url"]: r["fetched_at"]
        for r in c2._validators.live().collect()
    }
    assert vals["https://host-r.test/p/1"] >= t_before
    assert vals["https://host-r.test/p/2"] >= t_before


def test_fetch_conditional_roundtrip(spark, cond_server):
    """fetch_pages_http(conditional=True) unit: rows without stored
    validators fetch 200 and surface the response's etag/lm; rows
    whose etag matches get unchanged=true with a NULL body."""
    from img_spark.operators.fetch import fetch_pages_http

    connect, _site, _log = cond_server
    batch = spark.createDataFrame(
        [("https://host-r.test/p/1", "host-r.test", None, None),
         ("https://host-r.test/p/2", "host-r.test", '"p2-v1"', None)],
        "url string, host string, etag string, last_modified string",
    )
    out = {
        r["url"]: r
        for r in fetch_pages_http(
            batch, connect_to=connect, conditional=True
        ).collect()
    }
    r1 = out["https://host-r.test/p/1"]
    assert not r1["unchanged"] and bytes(r1["html"]) == _photo("img1.jpg")
    assert r1["etag"] == '"p1-v1"' and r1["last_modified"]
    r2 = out["https://host-r.test/p/2"]
    assert r2["unchanged"] and r2["html"] is None
    assert r2["etag"] == '"p2-v1"'


def test_strict_redirect_netloc_comparison_is_rfc3986(spark, cond_server):
    """Round-6 ADVICE: a redirect to HTTP://HOST-R.TEST:80/x from
    host-r.test is SAME-host (case-insensitive, default port
    stripped) and follows inline even under strict policy."""
    from img_spark.operators.fetch import _netloc_norm, fetch_pages_http

    assert _netloc_norm("EXAMPLE.COM:443", "https") == "example.com"
    assert _netloc_norm("Example.com:80", "http") == "example.com"
    assert _netloc_norm("example.com:8080", "http") == "example.com:8080"

    connect, site, _log = cond_server
    site[("host-r.test", "/canon")] = {
        "redirect": "http://HOST-R.TEST:80/p/1"
    }
    site[("host-r.test", "/away")] = {
        "redirect": "https://other-host.test/p/1"
    }
    batch = spark.createDataFrame(
        [("http://host-r.test/canon", "host-r.test"),
         ("http://host-r.test/away", "host-r.test")],
        "url string, host string",
    )
    out = {
        r["url"]: r
        for r in fetch_pages_http(
            batch, connect_to=connect, cross_host_redirects="strict"
        ).collect()
    }
    # same-host variant spelling: followed inline, body comes back
    r = out["http://host-r.test/canon"]
    assert r["redirect"] is None and bytes(r["html"]) == _photo("img1.jpg")
    # genuinely cross-host: parked for admission
    r = out["http://host-r.test/away"]
    assert r["html"] is None
    assert r["redirect"] == "https://other-host.test/p/1"


def test_robots_probe_falls_back_to_http_for_mixed_scheme_host(
    spark, cond_server
):
    """Round-6 ADVICE: a host whose frontier carries BOTH schemes
    resolves its robots probe to https; when that endpoint is broken
    (here: TLS against a plain-http socket), the probe retries over
    http instead of classifying the host unreachable (allow-all). A
    host with ONLY https URLs stays unreachable — no http URL ever
    vouched for that scheme."""
    from img_spark.operators.fetch import robots_bodies_http

    connect, _site, _log = cond_server
    # url:// connect_to keeps each URL's own scheme: the https probe
    # really attempts TLS against the loopback's plain socket
    connect_url = connect.replace("http://", "url://")
    hosts = spark.createDataFrame(
        [("host-r.test", "https"), ("host-r.test", "http"),
         ("only-tls.test", "https")],
        "host string, scheme string",
    )
    got = {
        r["host"]: r
        for r in robots_bodies_http(
            spark, hosts, connect_to=connect_url, retries=0,
            timeout_s=5.0,
        ).collect()
    }
    assert got["host-r.test"]["outcome"] == "ok"
    assert b"Allow" in bytes(got["host-r.test"]["body"])
    assert got["only-tls.test"]["outcome"] == "unreachable"


def test_second_level_strict_redirect_drop_is_counted(
    spark, cond_server, tmp_path
):
    """Strict mode drops second-level cross-host redirect targets by
    design (leaf fetches) — the manifest must record the drop
    (round-6 verdict item 5: observable, not silent)."""
    connect, site, _log = cond_server
    site[("host-t.test", "/robots.txt")] = {
        "body": b"User-agent: *\nAllow: /\n", "etag": '"t"',
        "lm": "Mon, 01 Jan 2024 00:00:00 GMT",
    }
    site[("host-t.test", "/idx")] = {
        "body": (
            b"<html><head><title>T Index</title></head><body>"
            b'<a class="thumb" href="/photo1.html">a</a>'
            b'<a class="thumb" href="/photo2.html">b</a>'
            b"</body></html>"
        ),
        "etag": '"ti"', "lm": "Mon, 01 Jan 2024 00:00:00 GMT",
    }
    site[("host-t.test", "/photo1.html")] = {
        "body": b"<html><head><title>T Photo 1</title></head><body>"
                b'<img class="big" src="/big1.jpg"></body></html>',
        "etag": '"t1"', "lm": "Mon, 01 Jan 2024 00:00:00 GMT",
    }
    site[("host-t.test", "/photo2.html")] = {
        "redirect": "https://elsewhere.test/ph"
    }
    c = Crawler(
        spark,
        spark.createDataFrame([], PAGES_DDL),
        rows_from_config(
            [{"Site": "host-t.test", "Img": "a.thumb[href] | img.big"}]
        ),
        robots_df(spark, []),
        CrawlConfig(
            checkpoint_dir=str(tmp_path / "ck"), partitions=4,
            fetch_mode="http", http_connect_to=connect,
            live_robots=True, redirect_policy="strict",
        ),
    )
    c.run(seeds=["https://host-t.test/idx"])
    dropped = 0
    for g in range(1, c.generation + 1):
        m = json.loads(
            open(f"{tmp_path}/ck/manifest-g{g}.json", "rb").read()
        )
        dropped += m.get("second_level_redirects_dropped", 0)
    assert dropped == 1
    # the good photo page still resolved through the second level
    ext = spark.read.parquet(f"{tmp_path}/ck/extracted/g*")
    imgs = {r["img_url"] for r in ext.select("img_url").collect()}
    assert "https://host-t.test/big1.jpg" in imgs


def test_revisit_requires_http_mode(spark, tmp_path):
    with pytest.raises(ValueError, match="revisit_after_s"):
        Crawler(
            spark,
            spark.createDataFrame([], PAGES_DDL),
            CONFIG,
            robots_df(spark, []),
            CrawlConfig(
                checkpoint_dir=str(tmp_path / "ck"),
                revisit_after_s=60.0,
            ),
        )


def test_validators_visibility_gated_on_manifest(spark, tmp_path):
    """Crash-retry safety (round-7 review): a validators delta written
    by a step whose manifest never committed must be INVISIBLE to the
    retry (else its first-visit pages come back 304 and are never
    extracted) and resume() deletes it; compaction outputs are exempt
    from both the gate and the resume prune."""
    from img_spark import fsio

    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, "http://127.0.0.1:9")  # connect unused
    c.init([])  # commits manifest g0 (validators_max = -1)

    rows = spark.createDataFrame(
        [("https://h.test/1", "h.test", 0, "00000000", '"e1"', None,
          1.0, 60.0)],
        "url string, host string, depth int, path string, etag string,"
        " last_modified string, fetched_at double, interval_s double",
    )
    i0 = c._validators.append(rows)
    # written but not manifest-committed: invisible
    assert c._validators.dirs() == []
    assert c._validators.read() is None
    # committed: visible (and recorded by the next manifest)
    c._validators.committed = i0
    assert [i for i, _ in c._validators.dirs()] == [i0]
    c._commit_manifest(0, {"frontier_status": {}})

    # an orphan from a crashed step: above the committed max
    i1 = c._validators.append(rows)
    assert [i for i, _ in c._validators.dirs()] == [i0]
    # a compaction output above the max IS visible (marker)
    comp = f"{ckpt}/validators/d7"
    fsio.makedirs(comp)
    fsio.write_bytes_atomic(f"{comp}/_COMPACTED", b"")
    fsio.write_bytes_atomic(f"{comp}/_SUCCESS", b"")
    assert [i for i, _ in c._validators.dirs()] == [i0, 7]

    # resume: restores the committed frontier, DELETES the orphan,
    # keeps the compaction output
    c2 = _crawler(spark, ckpt, "http://127.0.0.1:9")
    c2.resume()
    assert c2._validators.committed == i0
    assert not fsio.isdir(f"{ckpt}/validators/d{i1}")
    assert fsio.isdir(comp)
    assert [i for i, _ in c2._validators.dirs()] == [i0, 7]


def test_resume_pre_validators_manifest_deletes_orphan_deltas(
    spark, tmp_path
):
    """Round-7 review: a manifest WITHOUT ``validators_max`` (written
    by pre-validators code, or by a run with revisit_after_s=0) means
    no delta was ever committed — a delta dir found on resume is the
    orphan of a crashed first-conditional-generation attempt and must
    be deleted, or the retry attaches the crashed attempt's ETags to
    first-visit URLs (304 → content never extracted)."""
    from img_spark import fsio

    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, "http://127.0.0.1:9")
    c.init([])

    # strip validators_max from the committed manifest, simulating a
    # checkpoint created before the feature existed
    mp = f"{ckpt}/manifest-g0.json"
    m = json.loads(fsio.read_bytes(mp))
    m.pop("validators_max", None)
    fsio.write_bytes_atomic(mp, json.dumps(m).encode())

    # a crashed conditional step's leftover delta
    rows = spark.createDataFrame(
        [("https://h.test/1", "h.test", 0, "00000000", '"e1"', None,
          1.0, 60.0)],
        "url string, host string, depth int, path string, etag string,"
        " last_modified string, fetched_at double, interval_s double",
    )
    i0 = c._validators.append(rows)
    assert fsio.isdir(f"{ckpt}/validators/d{i0}")

    c2 = _crawler(spark, ckpt, "http://127.0.0.1:9")
    c2.resume()
    # the orphan is gone, the visibility floor engages at -1 (so the
    # NEXT manifest records validators_max and gating works from here)
    assert not fsio.isdir(f"{ckpt}/validators/d{i0}")
    assert c2._validators.committed == -1
    assert c2._validators.read() is None
    c2._commit_manifest(0, {"frontier_status": {}})
    m2 = json.loads(fsio.read_bytes(mp))
    assert m2["validators_max"] == -1


def test_failed_revisit_restamps_and_backs_off(spark, cond_server, tmp_path):
    """Round-7 review: a stored URL whose revisit FAILS (transport/4xx
    → no result row) must still advance its validator clock — without
    the restamp its old stamp stays due forever and the dead URL is
    refetched at the SWEEP cadence (every generation) instead of the
    revisit cadence, appending one terminal row per generation
    unboundedly. The failure also backs the interval off (same
    multiplicative increase as a 304) and keeps the stored
    etag/last_modified so a recovered server can still answer 304."""
    connect, site, log = cond_server
    ckpt = str(tmp_path / "ck")
    c = _crawler(spark, ckpt, connect)
    c.run(seeds=["https://host-r.test/"])

    # the page dies: served 404 from now on (definitive failure — no
    # result row, no retry)
    del site[("host-r.test", "/p/1")]
    log.clear()
    time.sleep(0.6)
    c2 = _crawler(
        spark, ckpt, connect, revisit_every=1,
        revisit_min_s=0.1, revisit_max_s=600.0,
    )
    c2.resume()
    t_before = time.time()
    c2.step()
    g = c2.generation

    # the dead URL was swept, dispatched, and failed
    assert any(
        r["path"] == "/p/1" and r["status"] == 404 for r in log
    )
    st = _statuses(spark, ckpt, g)
    assert st["https://host-r.test/p/1"] == ("fetch_failed", "revisit")

    # clock truth: the FAILED revisit restamped (fetched_at advanced)
    # with the interval backed off (0.5 s base doubled → 1.0) and the
    # stored validators preserved
    vals = {
        r["url"]: r
        for r in c2._validators.live().collect()
    }
    v = vals["https://host-r.test/p/1"]
    assert v["fetched_at"] >= t_before
    assert v["interval_s"] == 1.0
    assert v["etag"] == '"p1-v1"'
