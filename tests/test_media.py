"""Media download stage (CrawlConfig.media_dir): the reference's
download() step (main.rs:166-279) — each generation fetches its NEW
extracted download_urls, robots-checked and deduplicated across
generations through the manifest-gated media-seen store, and archives
the bytes as WARC under media_dir/g{g}/."""

import json
import threading
import time

import pytest
from pyspark.sql import functions as F

from img_spark import fsio
from img_spark.operators.politeness import robots_df
from img_spark.plans.crawl import CrawlConfig, Crawler
from img_spark.sources.site_config import rows_from_config
from img_spark.sources.synthweb import PAGES_DDL

CONFIG = rows_from_config([
    {"Site": "m.test", "Img": "div.photo img", "Album": "div.alb a"},
])

IMG1 = bytes(range(256)) * 16          # binary, not valid UTF-8
IMG2 = b"\x89PNG-fake-bytes" + b"\x02" * 512
IMG3 = b"GIF89a-fake" + b"\x03" * 128
IMG4 = b"\xffTRANSIENT" + b"\x04" * 64

# album-only index: reference parity recurses into albums only when
# the page itself has no images (main.rs:369-471 via parse_page's
# has_album ∧ imgs_len==0 gate)
INDEX = (
    b"<html><head><title>M Index</title></head><body>"
    b'<div class="alb">'
    b'<a href="https://m.test/p/1" title="P1">one</a>'
    b'<a href="https://m.test/p/2" title="P2">two</a>'
    b"</div></body></html>"
)


def _photo(*imgs: str) -> bytes:
    tags = "".join(f'<img src="/{i}">' for i in imgs)
    return (
        "<html><head><title>M photo</title></head><body>"
        f'<div class="photo">{tags}</div>'
        "</body></html>"
    ).encode()


@pytest.fixture()
def media_server():
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    site = {
        "/robots.txt": (b"User-agent: *\nDisallow: /secret\nAllow: /\n",
                        "text/plain"),
        "/": (INDEX, "text/html"),
        # BOTH photo pages embed the shared image (the dedup case);
        # p/2 also references a robots-blocked image and a 404 one
        "/p/1": (_photo("shared.jpg", "own1.png", "transient.png"),
                 "text/html"),
        "/p/2": (_photo("shared.jpg", "secret/hidden.jpg",
                        "missing.gif", "own2.gif"), "text/html"),
        "/shared.jpg": (IMG1, "image/jpeg"),
        "/own1.png": (IMG2, "image/png"),
        "/own2.gif": (IMG3, "image/gif"),
        "/transient.png": (IMG4, "image/png"),
        "/secret/hidden.jpg": (IMG1, "image/jpeg"),
        # /missing.gif: 404
    }
    hits: dict = {}
    fail5xx: set = set()  # paths currently served as 500s
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            with lock:
                hits[self.path] = hits.get(self.path, 0) + 1
            if self.path in fail5xx:
                self.send_response(500)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            entry = site.get(self.path)
            if entry is None:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body, ctype = entry
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", hits, fail5xx
    srv.shutdown()


def _crawler(spark, ckpt, media, connect, **kw):
    cfg = dict(
        checkpoint_dir=ckpt, partitions=4, host_budget=8,
        fetch_mode="http", http_connect_to=connect, live_robots=True,
        media_dir=media,
    )
    cfg.update(kw)
    return Crawler(
        spark,
        spark.createDataFrame([], PAGES_DDL),
        CONFIG,
        robots_df(spark, []),
        CrawlConfig(**cfg),
    )


def _archived(spark, media_dir):
    """url → bytes across every media generation dir."""
    from img_spark.sources.warc import read_warc_pages

    out = {}
    for fn in sorted(fsio.listdir(media_dir)):
        d = fsio.join(media_dir, fn)
        if not fsio.isdir(d):
            continue
        for r in read_warc_pages(
            spark, fsio.join(d, "*.warc.gz")
        ).collect():
            out[r["url"]] = bytes(r["html"])
    return out


def test_media_download_end_to_end(spark, media_server, tmp_path):
    """Byte-identical archives, one wire fetch per unique media URL
    even when many pages embed it, robots-blocked media never fetched,
    404s attempted once, counts in the manifest."""
    connect, hits, _fail = media_server
    ckpt = str(tmp_path / "ck")
    media = str(tmp_path / "media")
    c = _crawler(spark, ckpt, media, connect)
    c.run(seeds=["https://m.test/"])

    # bytes: every allowed, existing image archived exactly as served
    got = _archived(spark, media)
    assert got == {
        "https://m.test/shared.jpg": IMG1,
        "https://m.test/own1.png": IMG2,
        "https://m.test/own2.gif": IMG3,
        "https://m.test/transient.png": IMG4,
    }
    # wire: the shared image (embedded by BOTH photo pages) was
    # fetched ONCE; the blocked one never
    assert hits["/shared.jpg"] == 1
    assert hits.get("/secret/hidden.jpg", 0) == 0
    assert hits["/missing.gif"] == 1  # attempted once, 404

    # manifest: counts + the media-seen visibility frontier
    ms = {}
    for fn in fsio.listdir(ckpt):
        if fn.startswith("manifest-g"):
            m = json.loads(fsio.read_bytes(fsio.join(ckpt, fn)))
            for k in ("media_candidates", "media_attempted",
                      "media_fetched", "media_disallowed"):
                ms[k] = ms.get(k, 0) + m.get(k, 0)
            assert "media_seen_max" in m
    assert ms["media_fetched"] == 4
    assert ms["media_disallowed"] == 1
    assert ms["media_attempted"] == 5  # 4 fetched + 1 404

    # dead-image contract: a LATER generation re-discovering the 404
    # URL must not retry it (it is in the seen store)
    seen = {r["url"] for r in c._media_seen.read().collect()}
    assert "https://m.test/missing.gif" in seen
    assert "https://m.test/secret/hidden.jpg" not in seen  # blocked ≠ seen


def test_media_seen_survives_resume_and_dedups(
    spark, media_server, tmp_path
):
    """A resumed crawl (revisit sweep re-extracting the same pages)
    fetches no media again; an orphan media-seen delta from a crashed
    step is deleted on resume."""
    connect, hits, fail5xx = media_server
    ckpt = str(tmp_path / "ck")
    media = str(tmp_path / "media")
    fail5xx.add("/transient.png")  # CDN outage during the first crawl
    c = _crawler(spark, ckpt, media, connect,
                 revisit_after_s=0.5, revisit_every=1_000_000)
    c.run(seeds=["https://m.test/"])
    base_hits = dict(hits)

    # the outage victim is NOT blacklisted (transient ≠ definitive):
    # not in the seen store, counted as deferred in the manifest
    seen0 = {r["url"] for r in c._media_seen.read().collect()}
    assert "https://m.test/transient.png" not in seen0
    deferred = sum(
        json.loads(fsio.read_bytes(fsio.join(ckpt, fn))).get(
            "media_deferred", 0)
        for fn in fsio.listdir(ckpt) if fn.startswith("manifest-g")
    )
    assert deferred == 1
    fail5xx.clear()  # CDN recovers

    # orphan delta (crashed step): written, never manifest-committed
    i_orphan = c._media_seen.append(
        spark.createDataFrame([("https://m.test/ghost.jpg",)],
                              "url string")
    )
    time.sleep(0.6)
    c2 = _crawler(spark, ckpt, media, connect,
                  revisit_after_s=0.5, revisit_every=1)
    c2.resume()
    assert not fsio.isdir(f"{ckpt}/media_seen/d{i_orphan}")
    c2.step()  # revisit sweep re-extracts all pages → same media URLs
    for p in ("/shared.jpg", "/own1.png", "/own2.gif"):
        assert hits[p] == base_hits[p], p  # zero new media fetches
    # the 404 one does NOT retry either
    assert hits["/missing.gif"] == base_hits["/missing.gif"]
    # but the recovered CDN image DOES retry — and lands this time
    assert hits["/transient.png"] > base_hits["/transient.png"]
    assert (
        _archived(spark, media)["https://m.test/transient.png"] == IMG4
    )


def test_media_dir_requires_http_mode(spark, tmp_path):
    with pytest.raises(ValueError, match="media_dir"):
        Crawler(
            spark,
            spark.createDataFrame([], PAGES_DDL),
            CONFIG,
            robots_df(spark, []),
            CrawlConfig(checkpoint_dir=str(tmp_path / "ck"),
                        media_dir=str(tmp_path / "m")),
        )


def test_media_floor_survives_featureless_resume(
    spark, media_server, tmp_path
):
    """Round-7 review: resuming WITH media_dir after an intervening
    run WITHOUT it (whose manifests omit media_seen_max) must not
    wipe the committed media-seen history — the floor walks back to
    the newest manifest that recorded the key."""
    connect, _hits, _f = media_server
    ckpt = str(tmp_path / "ck")
    media = str(tmp_path / "media")
    c = _crawler(spark, ckpt, media, connect)
    c.run(seeds=["https://m.test/"])
    floor = c._media_seen.committed
    assert floor >= 0
    dirs_before = [p for _, p in c._media_seen.dirs()]
    assert dirs_before

    # simulate a later generation committed by a media-less resume:
    # its manifest has no media_seen_max
    g = c.generation
    m = json.loads(fsio.read_bytes(f"{ckpt}/manifest-g{g}.json"))
    m.pop("media_seen_max")
    m["generation"] = g + 1
    fsio.write_bytes_atomic(
        f"{ckpt}/manifest-g{g + 1}.json", json.dumps(m).encode()
    )
    # the frontier dir for g+1 must exist for resume bookkeeping
    import shutil

    shutil.copytree(f"{ckpt}/frontier/g{g}", f"{ckpt}/frontier/g{g + 1}")

    c2 = _crawler(spark, ckpt, media, connect)
    c2.resume()
    assert c2._media_seen.committed == floor        # walked back, not -1
    for p in dirs_before:
        assert fsio.isdir(p), p               # history intact


def test_media_documents_image_text_pairs(spark, media_server, tmp_path):
    """The multimodal-corpus view: one row per unique media URL with
    a caption (page title here — no two-level pairs in this fixture),
    newest-generation metadata, and — with media_dir — the archived
    bytes attached (NULL payload for blocked/404 media)."""
    from img_spark.plans.corpus import media_documents

    connect, _hits, _f = media_server
    ckpt = str(tmp_path / "ck")
    media = str(tmp_path / "media")
    c = _crawler(spark, ckpt, media, connect)
    c.run(seeds=["https://m.test/"])

    rows = {r["media_url"]: r for r in media_documents(
        spark, ckpt, media_dir=media
    ).collect()}
    assert set(rows) == {
        "https://m.test/shared.jpg", "https://m.test/own1.png",
        "https://m.test/transient.png", "https://m.test/own2.gif",
        "https://m.test/secret/hidden.jpg", "https://m.test/missing.gif",
    }
    # archived bytes ride along; blocked/404 media have NULL payload
    assert bytes(rows["https://m.test/shared.jpg"]["payload"]) == IMG1
    assert bytes(rows["https://m.test/own1.png"]["payload"]) == IMG2
    assert rows["https://m.test/secret/hidden.jpg"]["payload"] is None
    assert rows["https://m.test/missing.gif"]["payload"] is None
    assert rows["https://m.test/own2.gif"]["archived"]
    assert not rows["https://m.test/missing.gif"]["archived"]
    # captions come from the embedding page's title
    assert rows["https://m.test/own1.png"]["caption"] == "M photo"
    # filename metadata derived by the downloads sink rides along
    assert rows["https://m.test/own1.png"]["filename"] == "own1.png"
    # two-level '<url> | <title>' pairs take the per-image title —
    # checked at the kernel level: the caption expression picks the
    # right side of the pair
    no_media = media_documents(spark, ckpt)
    assert "payload" not in no_media.columns
    assert no_media.count() == 6


def test_media_documents_two_level_caption(spark, tmp_path):
    """A two-level '<url> | <title>' pair captions with the per-image
    title (main.rs:580-609 naming), not the page title; and the
    newest generation's metadata wins per media URL."""
    from img_spark.plans.corpus import media_documents

    ckpt = tmp_path / "ck"
    ckpt.mkdir()
    (ckpt / "manifest-g2.json").write_text('{"generation": 2}')
    cols = ("page_url string, host string, title string, img_url string,"
            " download_url string, dir string, filename string,"
            " generation int")
    spark.createDataFrame([
        ("https://t.test/p", "t.test", "Page Title",
         "https://t.test/full.jpg | Fancy Caption",
         "https://t.test/full.jpg", "d", "full.jpg", 1),
    ], cols).write.parquet(str(ckpt / "extracted" / "g1"))
    # generation 2 re-extracts the same media URL with a new caption
    spark.createDataFrame([
        ("https://t.test/p", "t.test", "Page Title",
         "https://t.test/full.jpg | Fresh Caption",
         "https://t.test/full.jpg", "d", "full.jpg", 2),
        ("https://t.test/q", "t.test", "Plain Page", None,
         None, None, None, 2),   # no media: filtered out
    ], cols).write.parquet(str(ckpt / "extracted" / "g2"))

    rows = {r["media_url"]: r
            for r in media_documents(spark, str(ckpt)).collect()}
    assert set(rows) == {"https://t.test/full.jpg"}
    r = rows["https://t.test/full.jpg"]
    assert r["caption"] == "Fresh Caption"   # newest gen + pair title
    assert r["generation"] == 2

    # split on the FIRST ' | ' (reference splitn(2)): a caption that
    # itself contains ' | ' survives whole
    spark.createDataFrame([
        ("https://t.test/p", "t.test", "Page Title",
         "https://t.test/s.jpg | Sunset | Beach",
         "https://t.test/s.jpg", "d", "s.jpg", 3),
    ], cols).write.parquet(str(ckpt / "extracted" / "g3"))
    (ckpt / "manifest-g3.json").write_text('{"generation": 3}')
    rows3 = {r["media_url"]: r["caption"]
             for r in media_documents(spark, str(ckpt)).collect()}
    assert rows3["https://t.test/s.jpg"] == "Sunset | Beach"

    # media_dir with NOTHING archived: NULL payloads, no crash
    empty_media = tmp_path / "media"
    empty_media.mkdir()
    out = media_documents(spark, str(ckpt), media_dir=str(empty_media))
    got = out.collect()
    assert all(r["payload"] is None and not r["archived"] for r in got)


def test_job_media_dir_and_media_corpus(spark, media_server, tmp_path):
    """job.py end to end: --media-dir archives the crawl's media and
    --media-corpus writes the image-text-pair parquet with the bytes
    attached."""
    import json as _json

    import job

    connect, _hits, _f = media_server
    cfg_json = str(tmp_path / "web.json")
    with open(cfg_json, "w") as f:
        _json.dump(
            [{"Site": "m.test", "Img": "div.photo img",
              "Album": "div.alb a"}], f,
        )
    ckpt = str(tmp_path / "ckpt")
    media = str(tmp_path / "media")
    pairs_out = str(tmp_path / "pairs")
    rc = job.main([
        "--fetch-mode", "http", "--connect-to", connect,
        "--checkpoint", ckpt, "--config", cfg_json, "--partitions", "4",
        "--seeds", "https://m.test/", "--max-generations", "4",
        "--media-dir", media, "--media-corpus", pairs_out,
    ])
    assert rc == 0
    pairs = {
        r["media_url"]: r for r in spark.read.parquet(pairs_out).collect()
    }
    assert bytes(pairs["https://m.test/shared.jpg"]["payload"]) == IMG1
    assert pairs["https://m.test/own1.png"]["caption"] == "M photo"
    assert pairs["https://m.test/missing.gif"]["payload"] is None
    assert len(pairs) == 6
