"""Crawl checkpoint → curated training corpus (plans/corpus.py): the
end-to-end bridge from the crawl's extracted deltas to the
training-data operators, with auditable keep flags."""

import pytest
from pyspark.sql import functions as F

from img_spark.plans.corpus import build_corpus, crawl_documents
from img_spark.plans.crawl import CrawlConfig, Crawler, read_frontier
from img_spark.operators.politeness import robots_df
from img_spark.sources.site_config import rows_from_config
from img_spark.sources.synthweb import (
    FIXTURE_CONFIG,
    FIXTURE_ROBOTS,
    FIXTURE_SEEDS,
    fixture_pages_df,
)


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("corpus_ckpt"))
    c = Crawler(
        spark,
        fixture_pages_df(spark).cache(),
        rows_from_config(FIXTURE_CONFIG),
        robots_df(spark, FIXTURE_ROBOTS),
        CrawlConfig(checkpoint_dir=ckpt, partitions=8),
    )
    c.run(seeds=FIXTURE_SEEDS)
    return ckpt, c.generation


def test_crawl_documents_one_row_per_fetched_page(spark, crawled):
    ckpt, gmax = crawled
    docs = crawl_documents(spark, ckpt)
    fetched = {
        r["url"]
        for r in read_frontier(spark, ckpt, gmax)
        .filter(F.col("status") == "fetched").collect()
    }
    got = docs.collect()
    assert {r["doc_id"] for r in got} == fetched
    assert len(got) == len(fetched)  # exactly one row per page
    # text is the byte-parity extracted text the crawl already wrote
    pages = {
        r["url"]: r["text"] for r in fixture_pages_df(spark).collect()
    }
    for r in got:
        assert r["text"] == pages[r["doc_id"]], r["doc_id"]


def test_build_corpus_flags_compose_and_partition_by_lang(
    spark, crawled, tmp_path
):
    ckpt, _ = crawled
    out = str(tmp_path / "corpus")
    summary = build_corpus(spark, ckpt, out)
    df = spark.read.parquet(out)
    rows = df.collect()
    assert summary["documents"] == len(rows) > 0
    assert summary["kept"] == sum(1 for r in rows if r["keep"])
    for r in rows:
        assert r["keep"] == (
            r["quality_keep"] and not r["is_dup"]
            and not r["contaminated"] and r["sampled"]
        )
        assert not r["contaminated"]  # no benchmark passed
        assert r["sampled"]           # default rate 1.0
    # lang is a partition column with at least one real bucket
    assert "lang" in df.columns
    assert {r["lang"] for r in rows} >= {"en"}


def test_build_corpus_near_dup_clustering(spark, tmp_path):
    """near_dup_threshold runs MinHash-LSH → Jaccard verify →
    connected components over the corpus: the non-representative
    member of a planted near-identical pair is flagged and dropped,
    the representative (min doc_id) and unrelated docs survive."""
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        ("https://a.test/1", "a.test", "T1", base + " ending one", "ok", 1),
        ("https://a.test/2", "a.test", "T2", base + " ending two", "ok", 1),
        ("https://b.test/1", "b.test", "T3",
         " ".join(f"other{i}" for i in range(60)), "ok", 1),
    ]
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(
        rows,
        "page_url string, host string, title string,"
        " extracted_text string, status string, generation int",
    ).write.parquet(f"{ckpt}/extracted/g1")
    out = str(tmp_path / "corpus")
    summary = build_corpus(spark, ckpt, out, near_dup_threshold=0.5)
    got = {
        r["doc_id"]: (r["is_near_dup"], r["keep"])
        for r in spark.read.parquet(out).collect()
    }
    assert summary["near_dups"] == 1
    assert got["https://a.test/2"][0] is True      # non-rep flagged
    assert got["https://a.test/2"][1] is False     # and dropped
    assert got["https://a.test/1"][0] is False     # rep survives
    assert got["https://b.test/1"][0] is False


def _near_dup_documents(spark):
    """Six documents: two planted near-dup pairs and two unrelated."""
    base = " ".join(f"tok{i}" for i in range(60))
    other = " ".join(f"word{i}" for i in range(60))
    texts = [base + " one", base + " two", other + " three",
             other + " four", "a short unrelated text", "another one here"]
    return spark.createDataFrame(
        [(f"https://a.test/{i}", "a.test", None, t, 1)
         for i, t in enumerate(texts)],
        "doc_id string, host string, title string, text string,"
        " generation int",
    )


def test_build_corpus_shingles_each_document_once(
    spark, tmp_path, monkeypatch
):
    """One gram-hash pass per near-dup build: the signatures, the band
    table and both sides of the verify read one persisted gram-set
    frame."""
    from img_spark.operators import dedup

    calls = []
    real = dedup.gram_hashes

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "gram_hashes", counting)
    summary = build_corpus(
        spark, None, str(tmp_path / "corpus"),
        documents=_near_dup_documents(spark), near_dup_threshold=0.8,
    )
    assert len(calls) == 1
    assert summary["near_dups"] == 2


def test_build_corpus_releases_only_its_own_caches(spark, tmp_path):
    """A build persists the documents, gram sets and band table and
    releases exactly those on every exit — also when the write raises
    — while a documents frame the caller cached stays cached.
    connected_components' local checkpoints are not caches (the
    context cleaner drops them), so they are left out of the count."""
    from pyspark import StorageLevel

    jsc = spark.sparkContext._jsc

    def cached_rdds():
        return {i for i, r in jsc.getPersistentRDDs().items()
                if not r.rdd().isCheckpointed()}

    docs = _near_dup_documents(spark).cache()
    docs.count()
    before = cached_rdds()
    build_corpus(spark, None, str(tmp_path / "ok"), documents=docs,
                 near_dup_threshold=0.8)
    assert cached_rdds() == before
    assert docs.storageLevel != StorageLevel.NONE
    # a regular file where the output's parent directory should be
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    with pytest.raises(Exception):
        build_corpus(spark, None, str(blocker / "corpus"), documents=docs,
                     near_dup_threshold=0.8)
    assert cached_rdds() == before
    assert docs.storageLevel != StorageLevel.NONE
    docs.unpersist()


def test_build_corpus_incremental_equals_full_recuration(spark, tmp_path):
    """The incremental watermark mode (round-5 verdict item 5): curate
    at g=1, add a g=2 delta, curate incrementally — the result must be
    ROW-IDENTICAL to a full re-curation of both generations. The g2
    batch is built to hit every merge contract: an exact-dup with a
    SMALLER id (demotes the old rep — the only old exact flag that can
    flip), a near-dup joining an existing cluster, a near-dup with a
    smaller id than the old cluster rep (flips the old rep's
    is_near_dup), and a fresh unique doc."""
    from img_spark.plans.corpus import build_corpus_incremental

    base = " ".join(f"tok{i}" for i in range(60))
    ddl = (
        "page_url string, host string, title string,"
        " extracted_text string, status string, generation int"
    )
    g1 = [
        ("https://a.test/1", "a.test", "T1", base + " ending one", "ok", 1),
        ("https://a.test/2", "a.test", "T2", base + " ending two", "ok", 1),
        ("https://b.test/1", "b.test", "T3",
         " ".join(f"other{i}" for i in range(60)), "ok", 1),
        ("https://d.test/9", "d.test", "T4",
         " ".join(f"exact{i}" for i in range(40)), "ok", 1),
    ]
    g2 = [
        # exact text of d9 under a smaller id → d9 must flip to is_dup
        ("https://d.test/1", "d.test", "T5",
         " ".join(f"exact{i}" for i in range(40)), "ok", 2),
        # joins the {a1, a2} near-dup cluster
        ("https://a.test/3", "a.test", "T6", base + " ending three", "ok", 2),
        # smaller id than the old cluster rep a1 → a1 flips near-dup
        ("https://a.test/0", "a.test", "T7", base + " ending zero", "ok", 2),
        # fresh unique doc
        ("https://c.test/1", "c.test", "T8",
         " ".join(f"fresh{i}" for i in range(60)), "ok", 2),
    ]
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(g1, ddl).write.parquet(f"{ckpt}/extracted/g1")
    out = str(tmp_path / "corpus")
    build_corpus(spark, ckpt, out, near_dup_threshold=0.5)

    spark.createDataFrame(g2, ddl).write.parquet(f"{ckpt}/extracted/g2")
    summary = build_corpus_incremental(spark, ckpt, out)
    assert summary["new_documents"] == 4
    assert summary["documents"] == 8

    out_full = str(tmp_path / "corpus_full")
    build_corpus(spark, ckpt, out_full, near_dup_threshold=0.5)

    cols = sorted(spark.read.parquet(out_full).columns)
    incr = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).collect()
    )
    full = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out_full).collect()
    )
    assert incr == full
    by_id = {
        r["doc_id"]: r for r in spark.read.parquet(out).collect()
    }
    assert by_id["https://d.test/9"]["is_dup"] is True          # demoted
    assert by_id["https://d.test/1"]["is_dup"] is False
    assert by_id["https://a.test/1"]["is_near_dup"] is True     # flipped
    assert by_id["https://a.test/0"]["is_near_dup"] is False    # new rep
    assert by_id["https://a.test/3"]["is_near_dup"] is True
    assert by_id["https://c.test/1"]["keep"] is True

    # watermark: a second incremental run with no new deltas is a no-op
    assert build_corpus_incremental(spark, ckpt, out) == {
        "new_documents": 0, "unchanged": True,
    }
    # sampling params are part of the equivalence contract: changing
    # them incrementally would silently diverge old rows from a full
    # re-curation — the state meta records them and mismatches refuse
    with pytest.raises(ValueError, match="sample_rates"):
        build_corpus_incremental(spark, ckpt, out, sample_rates={"en": 0.5})
    with pytest.raises(ValueError, match="default_rate"):
        build_corpus_incremental(spark, ckpt, out, default_rate=0.5)
    with pytest.raises(ValueError, match="near_dup_threshold"):
        build_corpus_incremental(spark, ckpt, out, near_dup_threshold=0.9)
    with pytest.raises(ValueError, match="benchmark"):
        build_corpus_incremental(
            spark, ckpt, out,
            benchmark=spark.createDataFrame(
                [("b0", "some eval text here")], "doc_id string, text string"
            ),
        )


def test_build_corpus_incremental_with_benchmark_and_rates(spark, tmp_path):
    """Incremental ≡ full with the OTHER per-doc gates active:
    benchmark decontamination (an overlapping NEW doc must flag) and
    stratified sampling rates (inherited from the state meta when the
    incremental caller passes none)."""
    from img_spark.plans.corpus import build_corpus_incremental

    ddl = (
        "page_url string, host string, title string,"
        " extracted_text string, status string, generation int"
    )
    eval_text = " ".join(f"ev{i}" for i in range(30))
    g1 = [
        ("https://a.test/1", "a.test", "T1",
         " ".join(f"one{i}" for i in range(40)), "ok", 1),
    ]
    g2 = [
        # contains the benchmark n-grams → must flag contaminated
        ("https://a.test/2", "a.test", "T2",
         "prefix words " + eval_text + " suffix words", "ok", 2),
        ("https://a.test/3", "a.test", "T3",
         " ".join(f"three{i}" for i in range(40)), "ok", 2),
    ]
    bench = spark.createDataFrame(
        [("b0", eval_text)], "doc_id string, text string"
    )
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(g1, ddl).write.parquet(f"{ckpt}/extracted/g1")
    out = str(tmp_path / "corpus")
    rates = {"en": 0.9}
    build_corpus(spark, ckpt, out, sample_rates=rates, benchmark=bench)

    spark.createDataFrame(g2, ddl).write.parquet(f"{ckpt}/extracted/g2")
    # rates inherited from meta; benchmark re-passed (presence enforced)
    build_corpus_incremental(spark, ckpt, out, benchmark=bench)

    out_full = str(tmp_path / "corpus_full")
    build_corpus(spark, ckpt, out_full, sample_rates=rates, benchmark=bench)
    cols = sorted(spark.read.parquet(out_full).columns)
    incr = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).collect()
    )
    full = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out_full).collect()
    )
    assert incr == full
    by_id = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert by_id["https://a.test/2"]["contaminated"] is True
    assert by_id["https://a.test/2"]["keep"] is False
    assert by_id["https://a.test/3"]["contaminated"] is False


def test_pages_documents_no_crawl_path(spark, tmp_path):
    """The no-crawl entry: a pages table (WARC/WET shape) feeds
    build_corpus directly through pages_documents and job.py
    --curate-from-pages — revisit duplicates collapse to one doc."""
    import job
    from img_spark.plans.corpus import pages_documents

    rows = [
        ("https://h.test/a", None, b"<x>", "alpha text " * 10, "en"),
        ("https://h.test/a", None, b"<x>", "zeta text " * 10, "en"),
        ("https://h.test/b", None, b"<x>", "beta text " * 10, "en"),
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    docs = {r["doc_id"]: r["text"] for r in pages_documents(pages).collect()}
    assert len(docs) == 2
    assert docs["https://h.test/a"].startswith("zeta")  # max-text policy

    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    out = str(tmp_path / "corpus")
    rc = job.main([
        "--pages", pages_path, "--checkpoint", str(tmp_path / "ck"),
        "--curate", out, "--curate-from-pages", "--partitions", "4",
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert {"keep", "lang", "is_dup"} <= set(got.columns)


def test_pages_documents_main_text(spark, tmp_path):
    """--curate-from-pages --curate-text main: main content is
    extracted from the pages table's raw HTML (chrome stripped),
    not taken from the pre-extracted text column."""
    import job
    from img_spark.plans.corpus import pages_documents

    nav = '<div><a href="/">Home</a><a href="/a">About Pages</a></div>'
    body = (f"<html><body>{nav}<article><p>warc main words here"
            "</p></article></body></html>").encode()
    rows = [("https://w.test/a", None, body, "Home About Pages warc main "
             "words here", "en")]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string",
    )
    docs = pages_documents(pages, text_source="main").collect()
    assert docs[0]["text"] == "warc main words here"
    with pytest.raises(ValueError, match="'full'"):
        pages_documents(pages, text_source="nope")

    pages_path = str(tmp_path / "pages_m")
    pages.write.parquet(pages_path)
    out = str(tmp_path / "corpus_m")
    rc = job.main([
        "--pages", pages_path, "--checkpoint", str(tmp_path / "ckm"),
        "--curate", out, "--curate-from-pages", "--curate-text", "main",
        "--partitions", "4",
    ])
    assert rc == 0
    got = spark.read.parquet(out).collect()
    assert [r["text"] for r in got] == ["warc main words here"]


def test_build_corpus_sampling_and_decontamination(
    spark, crawled, tmp_path
):
    """rate 0.0 for a language drops all its docs via the sampler;
    a benchmark that quotes a document's text marks it contaminated."""
    ckpt, _ = crawled
    probe = crawl_documents(spark, ckpt).limit(1).collect()[0]
    bench = spark.createDataFrame(
        [(0, probe["text"])], "doc_id long, text string"
    )
    out = str(tmp_path / "corpus2")
    summary = build_corpus(
        spark, ckpt, out, sample_rates={"en": 0.0}, benchmark=bench
    )
    df = spark.read.parquet(out)
    en = df.filter(F.col("lang") == "en")
    assert en.count() > 0
    assert en.filter(F.col("sampled")).count() == 0   # rate 0 → all out
    cont = {r["doc_id"] for r in df.filter(F.col("contaminated")).collect()}
    assert probe["doc_id"] in cont
    assert summary["contaminated"] >= 1
    assert summary["kept"] == df.filter(F.col("keep")).count()


def _mini_crawl_docs(spark, ckpt, gen, rows):
    ddl = (
        "page_url string, host string, title string,"
        " extracted_text string, status string, generation int"
    )
    spark.createDataFrame(rows, ddl).write.parquet(
        f"{ckpt}/extracted/g{gen}"
    )


def test_versioned_corpus_pointer_publish(spark, tmp_path):
    """Versioned publish (round-6 verdict item 3): build_corpus(
    versioned=True) lands data in corpus_v1 behind an atomic CURRENT
    pointer; an incremental rewrite builds corpus_v2 COMPLETELY before
    one pointer write flips readers over — a reader resolving the
    pointer mid-rewrite (or after a crash that never swapped) sees the
    old version fully intact, never a partial corpus."""
    from img_spark import fsio
    from img_spark.plans.corpus import (
        build_corpus,
        build_corpus_incremental,
        corpus_version,
        read_corpus,
        resolve_corpus,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    ckpt = str(tmp_path / "ck")
    _mini_crawl_docs(spark, ckpt, 1, [
        ("https://a.test/1", "a.test", "T1", base + " one", "ok", 1),
        ("https://b.test/1", "b.test", "T2",
         " ".join(f"other{i}" for i in range(60)), "ok", 1),
    ])
    out = str(tmp_path / "corpus")
    build_corpus(spark, ckpt, out, versioned=True)
    assert corpus_version(out) == "corpus_v1"
    assert resolve_corpus(out).endswith("/corpus_v1")
    v1_rows = sorted(r["doc_id"] for r in read_corpus(spark, out).collect())
    assert v1_rows == ["https://a.test/1", "https://b.test/1"]

    # simulate an IN-FLIGHT (or crashed-before-publish) rewrite: a
    # partial corpus_v2 exists but the pointer was never swapped —
    # readers must keep resolving to the intact v1
    fsio.makedirs(f"{out}/corpus_v2")
    fsio.write_bytes_atomic(f"{out}/corpus_v2/part-junk", b"partial")
    assert corpus_version(out) == "corpus_v1"
    assert sorted(
        r["doc_id"] for r in read_corpus(spark, out).collect()
    ) == v1_rows

    # the real incremental run clears the leftover, writes a complete
    # v2 (data + state), THEN swaps the pointer and prunes v1
    _mini_crawl_docs(spark, ckpt, 2, [
        ("https://c.test/1", "c.test", "T3",
         " ".join(f"fresh{i}" for i in range(60)), "ok", 2),
    ])
    summary = build_corpus_incremental(spark, ckpt, out)
    assert summary["new_documents"] == 1 and summary["documents"] == 3
    assert corpus_version(out) == "corpus_v2"
    # the version just superseded survives ONE publish cycle — a
    # reader that resolved the pointer moments before the swap may
    # still be mid-scan on it
    assert fsio.isdir(f"{out}/corpus_v1")
    assert sorted(
        r["doc_id"] for r in read_corpus(spark, out).collect()
    ) == v1_rows + ["https://c.test/1"]
    # the new version carries its own merge state (next incremental
    # resolves through the pointer)
    assert fsio.exists(f"{out}/corpus_v2/_state/meta.json")
    # a versioned root stays versioned on a FULL rebuild too; versions
    # older than the one just superseded prune (≤2 on disk)
    build_corpus(spark, ckpt, out)
    assert corpus_version(out) == "corpus_v3"
    assert fsio.isdir(f"{out}/corpus_v2")
    assert not fsio.isdir(f"{out}/corpus_v1")


def test_recover_interrupted_legacy_swap(spark, tmp_path):
    """round-6 ADVICE: every crash state of the legacy rename-aside
    swap is detected and repaired instead of surfacing as a silent
    full rebuild over an absent out_dir."""
    from img_spark import fsio
    from img_spark.plans.corpus import recover_corpus_swap

    def mk(path, tag):
        fsio.makedirs(path)
        fsio.write_bytes_atomic(f"{path}/marker", tag.encode())

    # 1) crash between move(tmp, out) and rmtree(aside): aside leftover
    out = str(tmp_path / "c1")
    mk(out, "new")
    mk(out + "__incr_old", "old")
    assert "incr_old" in recover_corpus_swap(out)
    assert fsio.read_bytes(f"{out}/marker") == b"new"
    assert not fsio.isdir(out + "__incr_old")

    # 2) crash before the swap started: incomplete tmp dropped
    out = str(tmp_path / "c2")
    mk(out, "cur")
    mk(out + "__incr_tmp", "half")
    assert "tmp" in recover_corpus_swap(out)
    assert fsio.read_bytes(f"{out}/marker") == b"cur"
    assert not fsio.isdir(out + "__incr_tmp")

    # 3) crash MID-swap (out absent, tmp complete): swap completes
    out = str(tmp_path / "c3")
    mk(out + "__incr_old", "old")
    mk(out + "__incr_tmp", "new")
    assert "completed" in recover_corpus_swap(out)
    assert fsio.read_bytes(f"{out}/marker") == b"new"
    assert not fsio.isdir(out + "__incr_old")
    assert not fsio.isdir(out + "__incr_tmp")

    # 4) only the aside survives: pre-rewrite corpus restored
    out = str(tmp_path / "c4")
    mk(out + "__incr_old", "old")
    assert "restored" in recover_corpus_swap(out)
    assert fsio.read_bytes(f"{out}/marker") == b"old"

    # 5) clean state: no-op
    out = str(tmp_path / "c5")
    mk(out, "cur")
    assert recover_corpus_swap(out) is None


def test_legacy_corpus_migrates_to_versioned_layout(spark, tmp_path):
    """--curate-versioned on an EXISTING legacy flat corpus must not be
    silently ignored (round-7 review): the incremental rewrite migrates
    it — corpus_v1 + pointer published, the superseded flat entries
    pruned so root readers never see a mixed layout."""
    from img_spark import fsio
    from img_spark.plans.corpus import (
        build_corpus_incremental,
        corpus_version,
        read_corpus,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    ckpt = str(tmp_path / "ck")
    _mini_crawl_docs(spark, ckpt, 1, [
        ("https://a.test/1", "a.test", "T1", base + " one", "ok", 1),
    ])
    out = str(tmp_path / "corpus")
    build_corpus(spark, ckpt, out)  # legacy flat layout
    assert corpus_version(out) is None
    assert fsio.exists(f"{out}/_state/meta.json")

    _mini_crawl_docs(spark, ckpt, 2, [
        ("https://b.test/1", "b.test", "T2",
         " ".join(f"other{i}" for i in range(60)), "ok", 2),
    ])
    summary = build_corpus_incremental(spark, ckpt, out, versioned=True)
    assert summary["new_documents"] == 1
    assert corpus_version(out) == "corpus_v1"
    got = sorted(r["doc_id"] for r in read_corpus(spark, out).collect())
    assert got == ["https://a.test/1", "https://b.test/1"]
    # the flat layout is gone: only versioned bookkeeping remains
    left = sorted(fsio.listdir(out))
    assert all(
        fn == "CURRENT" or fn.startswith("corpus_v") for fn in left
    ), left
    # and the migrated corpus keeps working incrementally
    _mini_crawl_docs(spark, ckpt, 3, [
        ("https://c.test/1", "c.test", "T3",
         " ".join(f"fresh{i}" for i in range(60)), "ok", 3),
    ])
    assert build_corpus_incremental(spark, ckpt, out)["new_documents"] == 1
    assert corpus_version(out) == "corpus_v2"


def test_incremental_replaces_revisited_doc_not_duplicates(spark, tmp_path):
    """Revisit × corpus (round-7 review): a page whose text changed
    between visits re-extracts into a later generation — the
    incremental fold must REPLACE its corpus row with the fresh text
    (one row per doc_id, never two), and the full-build reader must
    pick the newest generation's text deterministically."""
    from img_spark.plans.corpus import build_corpus_incremental

    ddl = (
        "page_url string, host string, title string,"
        " extracted_text string, status string, generation int"
    )
    old_text = " ".join(f"tok{i}" for i in range(60)) + " version one"
    new_text = " ".join(f"zzz{i}" for i in range(60)) + " version two"
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame([
        ("https://a.test/x", "a.test", "T1", old_text, "ok", 1),
        ("https://b.test/1", "b.test", "T2",
         " ".join(f"other{i}" for i in range(60)), "ok", 1),
    ], ddl).write.parquet(f"{ckpt}/extracted/g1")
    out = str(tmp_path / "corpus")
    build_corpus(spark, ckpt, out, near_dup_threshold=0.5)

    # generation 2: the revisited page X with CHANGED text + a new doc
    spark.createDataFrame([
        ("https://a.test/x", "a.test", "T1b", new_text, "ok", 2),
        ("https://c.test/1", "c.test", "T3",
         " ".join(f"fresh{i}" for i in range(60)), "ok", 2),
    ], ddl).write.parquet(f"{ckpt}/extracted/g2")
    summary = build_corpus_incremental(spark, ckpt, out)
    rows = spark.read.parquet(out).collect()
    by_id: dict = {}
    for r in rows:
        assert r["doc_id"] not in by_id, f"duplicate {r['doc_id']}"
        by_id[r["doc_id"]] = r
    assert summary["documents"] == len(rows) == 3
    x = by_id["https://a.test/x"]
    assert x["text"] == new_text and x["generation"] == 2
    assert x["keep"] is True and x["is_near_dup"] is False

    # full rebuild agrees row-for-row on this scenario (newest text
    # wins deterministically in crawl_documents)
    out_full = str(tmp_path / "full")
    build_corpus(spark, ckpt, out_full, near_dup_threshold=0.5)
    cols = sorted(spark.read.parquet(out_full).columns)
    incr = sorted(tuple(r[c] for c in cols) for r in rows)
    full = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out_full).collect()
    )
    assert incr == full
