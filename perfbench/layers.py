"""Per-layer measurements for the traced run.

Each function times calls into one engine module from outside and
returns named per-layer metrics. A traced run of any workload reports
every per-layer metric: the modules its own loop exercises are read
from that loop, the rest from small seeded probe inputs (see NOTES.md
for which is which).
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np

import inputs
from workloads import HOST_BUDGET, NEAR_DUP_MAX_BUCKET, NEAR_DUP_THRESHOLD

PROBE_GALLERY = dict(hosts=16, albums=10, pages_per_album=12, skew=2,
                     imgs_base=10, imgs_var=7, paragraphs=4)
PROBE_CRAWL = dict(hosts=8, albums=6, pages_per_album=3, skew=2)
PROBE_DOCS = dict(hosts=4, templated=30, prose=150, exact=10, near=10)
KERNEL_SAMPLE = 2000


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(tracer, name: str, fn, reps: int = 1) -> float:
    """Median of ``reps`` timed calls, each inside a span."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        with tracer.span(name):
            fn()
        ts.append(time.perf_counter() - t0)
    return _median(ts)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ crawl
def crawl_metrics(records: list, wl) -> dict:
    """crawl.* from per-generation records of the traced loop, and the
    duplicate ratio from a whole drained crawl (a window of generations
    would depend on how many first generations it holds)."""
    def med(key, sub):
        return _median([r.extra[key][sub] for r in records])

    fetched = wl.crawl_totals.get("fetched", 0)
    dups = wl.crawl_totals.get("duplicate", 0)
    return {
        "crawl.init_s": (_median(wl.init_s), "s"),
        "crawl.step_s": (_median([r.batch_s for r in records]), "s"),
        "crawl.plan_s": (med("times", "plan"), "s"),
        "crawl.extract_s": (med("times", "extract"), "s"),
        "crawl.state_s": (med("times", "state"), "s"),
        "crawl.writes_wall_s": (med("times", "writes_wall"), "s"),
        "crawl.post_s": (med("times", "post"), "s"),
        "crawl.py4j_calls_per_gen": (med("counters", "py4j_calls"), "count"),
        "crawl.spark_jobs_per_gen": (med("counters", "jobs"), "count"),
        "crawl.spark_stages_per_gen": (med("counters", "stages"), "count"),
        "crawl.spark_tasks_per_gen": (med("counters", "tasks"), "count"),
        "crawl.codegen_compiles_per_gen":
            (med("counters", "codegen_compiles"), "count"),
        "crawl.duplicate_per_fetched": (dups / max(fetched, 1), "ratio"),
    }


def probe_crawl(ctx) -> tuple:
    """A small whole crawl for workloads that do not crawl; returns
    (generation records, the workload)."""
    from workloads import CrawlTable

    wl = CrawlTable(ctx, PROBE_CRAWL, "probe_crawl")
    wl.build_inputs()
    wl.prepare()
    records = []
    while True:
        rec = wl.run_op()
        records.append(rec)
        if rec.errors:
            raise RuntimeError(f"probe crawl failed its check: {rec.errors}")
        if wl.crawler is None:
            break
    return records, wl


def seen_metrics(ctx, urls: list) -> dict:
    """CuckooFilter.probe_and_insert over the run's canonical-URL hashes
    (xxhash64 as the crawl computes them) on one thread."""
    from pyspark.sql import functions as F

    from img_spark.operators.seen import CuckooFilter

    rows = ctx.spark.createDataFrame([(u,) for u in urls], "url string").select(
        F.xxhash64("url").alias("h")).collect()
    hs = np.array([r["h"] for r in rows], dtype=np.int64).view(np.uint64)

    def probe():
        CuckooFilter(1 << 16).probe_and_insert(hs)

    t = _timed(ctx.tracer, "seen.probe_and_insert", probe, 3)
    return {"seen.probe_ns_per_url": (t / len(hs) * 1e9, "ns")}


def politeness_metrics(ctx, ckpt: str, generation: int) -> dict:
    """dispatch_top_k forced over a pending-frontier snapshot."""
    from img_spark.operators.politeness import dispatch_top_k
    from img_spark.plans.crawl import read_pending

    snap = read_pending(ctx.spark, ckpt, generation).persist()
    snap.count()
    t = _timed(ctx.tracer, "politeness.dispatch_top_k",
               lambda: _noop(dispatch_top_k(snap, HOST_BUDGET, 60.0)), 3)
    snap.unpersist()
    return {"politeness.dispatch_s": (t, "s")}


# ------------------------------------------------------------ extract
def kernel_metrics(ctx, web, config_rows) -> dict:
    """parse_page in this one process over a fixed page sample."""
    from img_spark.functions.extract import parse_page

    sel = config_rows[0]
    rows = random.Random(ctx.seed).sample(
        web.rows, min(KERNEL_SAMPLE, len(web.rows)))
    parse_page(rows[0][2], rows[0][0], sel[2], sel[3], sel[4])

    def parse_all():
        for r in rows:
            parse_page(r[2], r[0], sel[2], sel[3], sel[4])

    t = _timed(ctx.tracer, "extract.parse_page", parse_all)
    return {"extract.kernel_us_per_page": (t / len(rows) * 1e6, "us")}


def _drain(batches):
    for _ in batches:
        pass
    return iter(())


def transfer_metrics(ctx, parse_wl) -> dict:
    """The extraction pass's scan and attach feeding a mapInPandas that
    returns nothing: Arrow transfer plus Python-worker fixed cost,
    without the parse kernel."""
    from img_spark.operators.extract_udf import _IN_COLS

    drained = parse_wl.scan().select(*_IN_COLS).mapInPandas(_drain, "n long")
    t = _timed(ctx.tracer, "extract.transfer", drained.count, 2)
    return {"extract.transfer_s": (t, "s")}


def extract_pass_metrics(records: list) -> dict:
    pages = sum(r.units for r in records)
    return {
        "extract.py_cpu_s": (_median([r.extra["py_cpu"] for r in records]),
                             "s"),
        "extract.jvm_cpu_s": (_median([r.extra["jvm_cpu"] for r in records]),
                              "s"),
        "extract.imgs_per_page":
            (sum(r.extra["imgs"] for r in records) / max(pages, 1), "ratio"),
    }


def probe_parse(ctx, web=None) -> tuple:
    """A ParseTable over ``web`` (or the probe gallery) for workloads
    that do not run parse passes; returns (workload, pass records)."""
    from workloads import ParseTable

    wl = ParseTable(ctx, PROBE_GALLERY, "probe_parse")
    if web is None:
        wl.build_inputs()
    else:
        wl.web = web
        inputs.write_pages(web.rows, wl.path("pages"), files=4)
    wl.prepare()
    rec = wl.run_op()
    if rec.errors:
        raise RuntimeError(f"probe parse failed its check: {rec.errors}")
    return wl, [rec]


# ------------------------------------------------------------ corpus
def corpus_metrics(ctx, documents) -> dict:
    """textquality flags and each near-dup stage of build_corpus, forced
    one at a time over the same documents."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from img_spark.operators.dedup import (
        connected_components, minhash_bands, minhash_dedup,
        minhash_lsh_candidates,
    )
    from img_spark.operators.textquality import (
        curation_flags, lang_id, token_count,
    )

    docs = documents.persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
    flags = docs.withColumns({
        "lang": lang_id(F.col("text")),
        "n_tokens": token_count(F.col("text")),
    }).join(curation_flags(docs), "doc_id")
    tr = ctx.tracer
    out = {"textquality.flags_s":
           (_timed(tr, "textquality.flags", lambda: _noop(flags), 2), "s")}

    bands = minhash_bands(docs).persist(StorageLevel.MEMORY_AND_DISK)
    out["dedup.bands_s"] = (_timed(tr, "dedup.minhash_bands", bands.count),
                            "s")
    cand = minhash_lsh_candidates(docs, max_bucket=NEAR_DUP_MAX_BUCKET,
                                  banded=bands).persist()
    t0 = time.perf_counter()
    with tr.span("dedup.minhash_lsh_candidates"):
        n_cand = cand.count()
    out["dedup.candidates_s"] = (time.perf_counter() - t0, "s")
    pairs = minhash_dedup(docs, threshold=NEAR_DUP_THRESHOLD,
                          max_bucket=NEAR_DUP_MAX_BUCKET,
                          banded=bands).persist()
    with tr.span("dedup.minhash_dedup"):
        n_pairs = pairs.count()
    tr.count("dedup.candidate_pairs", n_cand)
    tr.count("dedup.verified_pairs", n_pairs)
    out["dedup.candidate_pairs"] = (n_cand, "count")
    out["dedup.verified_pairs"] = (n_pairs, "count")
    out["dedup.candidate_yield"] = (n_pairs / max(n_cand, 1), "ratio")
    out["dedup.max_bucket_members"] = (
        bands.groupBy("band", "bucket").count()
        .agg(F.max("count")).collect()[0][0], "count")
    t0 = time.perf_counter()
    with tr.span("dedup.connected_components"):
        comps = connected_components(pairs)
        comps.count()
    out["dedup.components_s"] = (time.perf_counter() - t0, "s")
    for df in (comps, pairs, cand, bands, docs):
        df.unpersist()
    return out


def probe_documents(ctx):
    from img_spark.plans.corpus import pages_documents

    docs = inputs.documents(ctx.seed, **PROBE_DOCS)
    path = os.path.join(ctx.work, "probe_docs")
    inputs.write_pages(docs.rows, path, files=2)
    return pages_documents(ctx.spark.read.parquet(path))


def all_layers(ctx, wl, records: list) -> dict:
    """Every per-layer metric for a traced run of workload ``wl``."""
    name = wl.name
    out: dict = {}
    if name == "crawl_table":
        crawl_recs, crawl_wl = records, wl
    else:
        with ctx.tracer.span("probe.crawl"):
            crawl_recs, crawl_wl = probe_crawl(ctx)
    out.update(crawl_metrics(crawl_recs, crawl_wl))
    ckpt = crawl_wl.ckpt if crawl_wl.crawler else crawl_wl.last_ckpt
    out.update(seen_metrics(ctx, [r[0] for r in crawl_wl.web.rows]))
    # the pending snapshot after generation 1: every album's second page
    out.update(politeness_metrics(ctx, ckpt, 1))

    with ctx.tracer.span("probe.parse"):
        parse_wl, parse_recs = probe_parse(
            ctx, crawl_wl.web if name == "crawl_table" else None)
    out.update(kernel_metrics(ctx, parse_wl.web, parse_wl.config_rows))
    out.update(transfer_metrics(ctx, parse_wl))
    out.update(extract_pass_metrics(parse_recs))

    docs = wl.documents if name == "curate_corpus" else probe_documents(ctx)
    out.update(corpus_metrics(ctx, docs))
    return out
