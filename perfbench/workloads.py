"""The benchmark workloads, each driven through the engine's public
entry points with one client (this process) in a closed loop, and the
extraction pass the traced run uses as a probe.

A workload builds its seeded inputs (``build_inputs``, repeatable),
prepares engine-side handles (``prepare``), runs an untimed warm-up
(``warmup``) and then yields operations (``run_op``) until the caller's
time budget is spent. Every operation's output is checked against the
generator's oracle before the next one starts; check time is never
inside a timed region. See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs

# Input sizes. "full" is what the benchmark measures; "tiny" only keeps
# the self-test quick and proves nothing about performance.
SIZES = {
    "crawl_table": {
        "full": dict(hosts=32, albums=24, pages_per_album=6, skew=8),
        "tiny": dict(hosts=4, albums=2, pages_per_album=3, skew=2),
    },
    "curate_corpus": {
        "full": dict(hosts=2, templated=240, prose=400, exact=30, near=30),
        "tiny": dict(hosts=2, templated=20, prose=60, exact=5, near=5),
    },
}
WARMUP_GENS = 3             # untimed generations before the timed ones
HOST_BUDGET = 1000          # above the skewed host's pending count
NEAR_DUP_THRESHOLD = 0.8
NEAR_DUP_MAX_BUCKET = 10_000  # build_corpus's default cap
PARSE_SAMPLE = 500


@dataclass
class OpResult:
    batch_s: float              # the unit's input-to-committed-result time
    units: int                  # pages fetched / parsed / docs curated
    errors: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, ctx, params: dict, subdir: str | None = None):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.params = params
        self.dir = os.path.join(ctx.work, subdir or self.name)

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    def recover(self) -> None:
        """Forget partial state after an operation raised."""

    def info(self) -> dict:
        """Input properties printed beside the result."""
        return {}


# ------------------------------------------------------------ crawl
def _read_urls(path: str, col: str = "url") -> set:
    if not os.path.isdir(path):
        return set()
    return set(pq.read_table(path, columns=[col]).column(0).to_pylist())


def crawl_check(web, expected: set, fetched: dict) -> list:
    """The paper's per-page invariant for one generation: the fetched
    set equals the expected one and each page's discovered image set
    equals the planted one."""
    errors = []
    got = set(fetched)
    if got != expected:
        errors.append(
            f"fetched {len(got)} pages, expected {len(expected)}: "
            f"missing {sorted(expected - got)[:3]} "
            f"unexpected {sorted(got - expected)[:3]}"
        )
    bad = [u for u in got & expected if fetched[u] != web.images.get(u)]
    if bad:
        errors.append(f"{len(bad)} pages with wrong image sets, e.g. {bad[0]}")
    return errors


class CrawlTable(Workload):
    """Warm multi-generation table-mode crawl: Crawler.init, then step()
    until the frontier drains, over and over."""

    name = "crawl_table"

    def build_inputs(self):
        self.web = inputs.gallery(self.seed, **self.params)
        inputs.write_pages(self.web.rows, self.path("pages"), files=4)

    def prepare(self):
        from img_spark.operators.politeness import robots_df
        from img_spark.sources.site_config import rows_from_config

        self.pages = self.spark.read.parquet(self.path("pages")).cache()
        self.pages.count()
        self.robots = robots_df(
            self.spark, [(h, "/", True, 0.0) for h in self.web.hosts]
        )
        self.config_rows = rows_from_config(self.web.config)
        self.crawler = None
        self.last_ckpt = None
        self.crawls = 0
        self.init_s: list = []          # crawl.init_s samples
        self.crawl_totals: dict = {}    # status totals of a drained crawl
        self.false_positives = 0

    def _new_crawler(self):
        from img_spark.plans.crawl import CrawlConfig, Crawler

        self.crawls += 1
        ckpt = self.path(f"ckpt{self.crawls}")
        return Crawler(
            self.spark, self.pages, self.config_rows, self.robots,
            CrawlConfig(checkpoint_dir=ckpt, partitions=self.ctx.cores,
                        host_budget=HOST_BUDGET),
        ), ckpt

    def warmup(self):
        # one untimed crawl to drain, then the first WARMUP_GENS
        # generations of the next crawl, untimed; the timed loop goes on
        # with that crawl. The first crawl in a session runs ~40% slower
        # (init 6.5 s vs 1.9 s): JIT, and Janino compiling each
        # generation's plan (12 classes a generation, keyed by the
        # generation literal, so a later crawl's generation g reuses
        # them). A part crawl would leave the timed loop compiling. The
        # extra generations take the JIT's tail, which would otherwise
        # run beside the timed loop, see NOTES.md
        crawler, ckpt = self._new_crawler()
        crawler.init(self.web.seeds)
        while True:
            stats = crawler.step()
            if not stats.get("pending", 0):
                break
        self.crawl_totals = stats
        shutil.rmtree(ckpt, ignore_errors=True)
        for _ in range(WARMUP_GENS):
            rec = self.run_op()
            if rec.errors:
                raise RuntimeError(f"warm-up generation failed its check: "
                                   f"{rec.errors}")

    def _start_crawl(self) -> None:
        t0 = time.perf_counter()
        with self.ctx.tracer.span("crawl.init"):
            self.crawler, self.ckpt = self._new_crawler()
            self.crawler.init(self.web.seeds)
        dt = time.perf_counter() - t0
        self.prev = {}
        self.fetched_all: set = set()
        self.expected = set(self.web.seeds)
        self.init_s.append(dt)

    def run_op(self) -> OpResult:
        # a crawl's init is outside the timed region: it is a per-crawl
        # cost that setup_s carries (the warm-up crawl's init), and
        # crawl.init_s reports it in the traced run
        if self.crawler is None:
            self._start_crawl()
        c = self.crawler
        with self.ctx.counters(f"g{c.generation + 1}") as cnt:
            t0 = time.perf_counter()
            with self.ctx.tracer.span("crawl.step"):
                stats = c.step()
            step_s = time.perf_counter() - t0
        g = c.generation
        delta = {k: v - self.prev.get(k, 0) for k, v in stats.items()
                 if k != "pending"}
        self.prev = {k: v for k, v in stats.items() if k != "pending"}
        res = OpResult(step_s, delta.get("fetched", 0),
                       extra={"times": dict(c.last_step_times),
                              "counters": cnt, "delta": delta})
        res.errors = self._check(g, delta)
        if stats.get("pending", 0) == 0:
            self.crawl_totals = stats
        if stats.get("pending", 0) == 0 or res.errors:
            self._finish_crawl()
        return res

    def _check(self, g: int, delta: dict) -> list:
        tbl = pq.read_table(os.path.join(self.ckpt, "extracted", f"g{g}"),
                            columns=["page_url", "img_url"])
        fetched: dict = {}
        for page, img in zip(tbl.column(0).to_pylist(),
                             tbl.column(1).to_pylist()):
            s = fetched.setdefault(page, set())
            if img is not None:
                s.add(img)
        errors = crawl_check(self.web, self.expected, fetched)
        if delta.get("fetched", 0) != len(fetched):
            errors.append(f"status delta fetched={delta.get('fetched')} "
                          f"but {len(fetched)} pages extracted")
        self.fetched_all |= set(fetched)
        state = os.path.join(self.ckpt, "frontier", f"g{g}")
        dup = _read_urls(os.path.join(state, "status=duplicate"))
        pending = _read_urls(os.path.join(state, "status=pending"))
        # a cuckoo false positive marks a never-seen URL duplicate: the
        # documented cost of the approximate seen set. Its subtree is
        # legitimately never crawled, so it leaves the expectation; the
        # count is bounded so a seen-set bug cannot hide behind it.
        fp = dup - self.fetched_all - pending
        if len(fp) > 2:
            errors.append(f"{len(fp)} never-fetched URLs marked duplicate")
        self.false_positives += len(fp)
        self.expected = {
            child for u in fetched for child in self.web.children[u]
        } - self.fetched_all - fp
        return errors

    def info(self):
        return {"pages": len(self.web.rows), "hosts": len(self.web.hosts),
                "seeds": len(self.web.seeds),
                "images": self.web.image_total,
                "seen_false_positives": self.false_positives}

    def _finish_crawl(self):
        # the finished crawl's checkpoint stays until the next one
        # finishes: the traced run snapshots its frontier
        if self.last_ckpt:
            shutil.rmtree(self.last_ckpt, ignore_errors=True)
        self.last_ckpt = self.ckpt
        self.crawler = None

    def recover(self):
        self.crawler = None


# ------------------------------------------------------------ parse
def parse_reference(rows, config_rows, urls) -> dict:
    """url -> (sorted imgs, sha256 of extracted text) straight from the
    parse kernel, for the sampled pages."""
    from img_spark.functions.extract import parse_page

    sel = config_rows[0]
    by_url = {r[0]: r for r in rows}
    out = {}
    for u in urls:
        r = parse_page(by_url[u][2], u, sel[2], sel[3], sel[4])
        out[u] = (sorted(r.imgs), hashlib.sha256(r.text.encode()).hexdigest())
    return out


def parse_check(web, reference: dict, pages: int, imgs: int,
                sample: dict) -> list:
    """One pass's output against the generator and the kernel: page and
    image totals, and each sampled page's images and text hash."""
    errors = []
    if pages != len(web.rows):
        errors.append(f"{pages} pages parsed, {len(web.rows)} written")
    if imgs != web.image_total:
        errors.append(f"{imgs} images extracted, {web.image_total} planted")
    if set(sample) != set(reference):
        errors.append(f"{len(sample)} sampled pages returned, "
                      f"{len(reference)} expected")
    bad = [u for u in reference if sample.get(u) != reference[u]]
    if bad:
        errors.append(f"{len(bad)} sampled pages differ from parse_page, "
                      f"e.g. {bad[0]}")
    planted = [u for u in reference
               if set(reference[u][0]) != web.images.get(u, frozenset())]
    if planted:
        errors.append(f"{len(planted)} sampled pages differ from the "
                      f"planted image set, e.g. {planted[0]}")
    return errors


class ParseTable(Workload):
    """One bulk extraction pass over a seeded pages table: scan →
    host_of → attach_site_config → extract_pages → aggregate. Not a
    benchmark workload (see NOTES.md); the traced run's extraction
    probe."""

    name = "parse_table"

    def build_inputs(self):
        self.web = inputs.gallery(self.seed, **self.params)
        inputs.write_pages(self.web.rows, self.path("pages"), files=8)

    def prepare(self):
        from img_spark.sources.site_config import rows_from_config

        self.config_rows = rows_from_config(self.web.config)
        urls = [r[0] for r in self.web.rows]
        n = min(PARSE_SAMPLE, len(urls))
        self.sample = random.Random(self.seed).sample(urls, n)
        self.reference = parse_reference(self.web.rows, self.config_rows,
                                         self.sample)

    def scan(self):
        """The pass's input: scan → host_of → attach_site_config."""
        from pyspark.sql import functions as F

        from img_spark.operators.urlexprs import host_of
        from img_spark.sources.site_config import attach_site_config

        df = self.spark.read.parquet(self.path("pages"))
        return attach_site_config(
            df.withColumn("host", host_of(F.col("url"))), self.config_rows)

    def _pass(self):
        from pyspark.sql import functions as F

        from img_spark.operators.extract_udf import extract_pages

        out = extract_pages(self.scan())
        sampled = F.col("url").isin(self.sample)
        return out.select(
            F.count("*").alias("pages"),
            F.sum(F.size("imgs")).alias("imgs"),
            F.collect_list(F.when(sampled, F.struct(
                "url", F.array_sort("imgs").alias("imgs"),
                F.sha2(F.col("extracted_text"), 256).alias("sha"),
            ))).alias("sample"),
        ).collect()[0]

    def run_op(self) -> OpResult:
        procs0 = self.ctx.proc_cpu()
        t0 = time.perf_counter()
        with self.ctx.tracer.span("extract.pass"):
            row = self._pass()
        dt = time.perf_counter() - t0
        procs1 = self.ctx.proc_cpu()
        sample = {r["url"]: (list(r["imgs"]), r["sha"]) for r in row["sample"]}
        res = OpResult(dt, int(row["pages"]), extra={
            "imgs": int(row["imgs"] or 0),
            "jvm_cpu": procs1["jvm_cpu"] - procs0["jvm_cpu"],
            "py_cpu": procs1["py_cpu"] - procs0["py_cpu"],
        })
        res.errors = parse_check(self.web, self.reference, res.units,
                                 res.extra["imgs"], sample)
        return res


# ------------------------------------------------------------ curate
def curate_check(docs, stats: dict, flags: dict) -> list:
    """flags: doc_id -> (is_dup, is_near_dup)."""
    errors = []
    n = len(docs.rows)
    if len(flags) != n or stats.get("documents") != n:
        errors.append(f"{len(flags)} rows / {stats.get('documents')} "
                      f"counted, {n} documents in")
    missed = [d for d in docs.exact_copies if not flags.get(d, (0, 0))[0]]
    if missed:
        errors.append(f"{len(missed)} planted exact copies not is_dup")
    missed = [d for d in docs.near_copies if not flags.get(d, (0, 0))[1]]
    if missed:
        errors.append(f"{len(missed)} planted near copies not is_near_dup")
    wrong = [d for d in docs.originals if any(flags.get(d, (1, 1)))]
    if wrong:
        errors.append(f"{len(wrong)} distinct originals flagged, "
                      f"e.g. {wrong[0]}")
    return errors


class CurateCorpus(Workload):
    """build_corpus(documents=pages_documents(...), near_dup_threshold=0.8)
    over seeded documents."""

    name = "curate_corpus"

    def build_inputs(self):
        self.docs = inputs.documents(self.seed, **self.params)
        inputs.write_pages(self.docs.rows, self.path("pages"), files=4)

    def prepare(self):
        from img_spark.plans.corpus import pages_documents

        self.documents = pages_documents(
            self.spark.read.parquet(self.path("pages")))
        self.builds = 0

    def info(self):
        return {"documents": len(self.docs.rows),
                "boilerplate_share": round(self.docs.boilerplate_share, 4),
                "exact_copies": len(self.docs.exact_copies),
                "near_copies": len(self.docs.near_copies)}

    def _build(self):
        from img_spark.plans.corpus import build_corpus

        self.builds += 1
        out = self.path(f"corpus{self.builds}")
        t0 = time.perf_counter()
        with self.ctx.tracer.span("corpus.build"):
            stats = build_corpus(
                self.spark, None, out, documents=self.documents,
                near_dup_threshold=NEAR_DUP_THRESHOLD,
                near_dup_max_bucket=NEAR_DUP_MAX_BUCKET,
            )
        return out, stats, time.perf_counter() - t0

    def warmup(self):
        # the JVM compiles for several builds: on 2 cores a session's
        # builds ran 23.3, 11.1, 9.6, 8.8, 8.5 s. One untimed build takes
        # the steepest part; more would not fit the time budget, see
        # NOTES.md
        out, _, _ = self._build()
        shutil.rmtree(out, ignore_errors=True)

    def run_op(self) -> OpResult:
        out, stats, dt = self._build()
        tbl = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "is_dup", "is_near_dup"])
        flags = dict(zip(tbl.column(0).to_pylist(),
                         zip(tbl.column(1).to_pylist(),
                             tbl.column(2).to_pylist())))
        shutil.rmtree(out, ignore_errors=True)
        res = OpResult(dt, len(self.docs.rows), extra={"stats": stats})
        res.errors = curate_check(self.docs, stats, flags)
        return res


WORKLOADS = {w.name: w for w in (CrawlTable, CurateCorpus)}
