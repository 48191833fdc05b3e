"""Micro-batch crawl driver: frontier advancement with per-generation
checkpoint lineage and resume (SURVEY.md §3.4, §7.7).

Why not Structured Streaming proper: the frontier is both the source and
the sink of the same loop (self-feedback), which readStream forbids. Each
generation is instead a deterministic batch over append-only state with
an atomic manifest commit — the same exactly-once/resume semantics,
without fighting the framework.

Frontier storage is LOG-STRUCTURED (the scale-critical design): each
generation writes ONE status-partitioned directory ``frontier/g{g}``
holding only that generation's live state — the rewritten pending set
(``status=pending``, shrinks as the crawl drains) plus the terminal
deltas of this generation (fetched / fetch_failed / duplicate /
disallowed / rejected subdirs, append-only history). Terminal rows are
never rewritten: per-generation I/O is O(pending + delta), not O(total
frontier) — at 10^10 URLs a full-history snapshot rewrite would be
O(F·G) total I/O and dominate the crawl. The loop reads ONLY the
``status=pending`` subdir of the previous generation (path-level
partition pruning); ``read_frontier`` reconstructs the full historical
view (tests / analytics only). Status counts ride the state write as
an Observation (zero extra jobs) and accumulate in the manifest.

Per generation g, ``Crawler.step`` runs six phases over one
``_Generation`` context (the generation's transient state; every frame
it persists is released on any exit):
 1. ``_dispatch``: pending rows → per-host top-K dispatch (politeness
    window over DFS ``path`` order — the one frontier-sized shuffle;
    same shape as a batch crawler's generate step);
 2. ``_fetch_extract``: "fetch" = broadcast(dispatch) equi-join against
    the pages table → the 100-TB pages scan is ONE pass with no shuffle
    of the big side (in a live deployment the join is replaced by a
    pooled-HTTP mapInPandas, ``_fetch_http``), site-config attach (a
    compiled coalesce/when projection, zero shuffle), extraction via
    Arrow mapInPandas (+ second-level join pass);
 3. ``_classify_misses``: dispatched URLs without a result become
    'fetch_failed' (mirroring main.rs:105-108), 'redirected' or
    'unmodified' terminal rows;
 4. ``_admit``: discovered next/album URLs → robots check (broadcast
    join against the compacted per-host rules array — zero candidate
    shuffles) → partitioned cuckoo-filter probe+insert (groupBy salt,
    one filter blob per salt, persisted per generation = per-partition
    lineage). ``init`` admits the seeds through the same method;
 5. ``_write``: the extracted delta and the frontier state are written
    as TWO CONCURRENT jobs over the cached extraction (the state plan
    of step 4 is built while the extract write already runs);
 6. ``_post``: seen-blob refresh and media download; ``step`` then
    releases the generation's caches and makes one atomic manifest
    commit (pending snapshot, terminal-status delta, seen blobs,
    cumulative status totals). Per-host metrics are aggregated on read
    from the deltas (``metrics_df``); resume from any manifest.

DFS ordering parity (SURVEY.md §7.5): every frontier row carries ``path``
= parent path + 8-hex-digit child sequence (albums in document order,
then the next-link). Lexicographic path order IS the reference's
depth-first visit order; with host_budget=1 the per-host dispatch
sequence replays the reference exactly (tests pin this).
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from img_spark import fsio
from img_spark.operators.extract_udf import extract_pages, resolve_second_level
from img_spark.operators.politeness import (
    ROBOTS_DDL,
    apply_robots_rules,
    dispatch_top_k,
    robots_compact,
)
from img_spark.operators.seen import CuckooFilter
from img_spark.operators.urlexprs import (
    batch_buckets,
    host_of,
    url_bucket,
    url_hash,
)
from img_spark.sources.site_config import attach_site_config

FRONTIER_DDL = (
    "url string, url_canon string, host string, depth int, path string,"
    " parent_url string, kind string, status string, generation int,"
    " crawl_delay double"
)
# physical schema inside a status=... partition dir (status is the
# partition column, not in the files)
_DDL_NO_STATUS = (
    "url string, url_canon string, host string, depth int, path string,"
    " parent_url string, kind string, generation int, crawl_delay double"
)

SEP = " | "

# live-robots store rows: the ROBOTS_DDL rules plus the epoch-seconds
# fetch time (TTL refresh) — one delta dir per lazy fetch under
# {checkpoint}/robots/
ROBOTS_STORE_DDL = ROBOTS_DDL + ", fetched_at double"

# every status the loop can assign (observation metric keys).
# 'redirected' exists only under redirect_policy='strict': the
# redirecting URL yielded no content but is NOT a failure — keeping it
# out of status=fetch_failed keeps the backoff circuit breaker blind to
# healthy redirect-heavy hosts (a www/https canonicalizing site would
# otherwise trip the breaker and get its budget zeroed).
# 'unmodified' exists only under revisit_after_s>0: a revisited URL
# whose conditional GET came back 304 — the previously extracted rows
# and archived body still stand, nothing was re-transferred; it is
# neither a fetch (no new content) nor a failure (the breaker must
# stay blind to fresh-content hosts).
STATUSES = (
    "pending", "fetched", "fetch_failed", "duplicate", "disallowed",
    "rejected", "redirected", "unmodified",
)

# per-URL fetch validators + revisit clock (revisit_after_s>0): one
# DeltaStore delta per generation under {checkpoint}/validators/,
# newest row per URL wins. depth/path ride along so a revisit
# re-enqueue can reconstruct the frontier row; ``vb`` is the store's
# url bucket (see DeltaStore).
VALIDATORS_DDL = (
    "url string, host string, depth int, path string, etag string,"
    " last_modified string, fetched_at double, interval_s double, vb int"
)
VALIDATORS_BUCKETS = 64

# media-seen store (CrawlConfig.media_dir): membership set of every
# media URL a generation has ATTEMPTED (fetched or definitively
# failed — failures must not retry on every later page that embeds
# them), bucketed like the validators store so per-generation
# dedup scans prune to the batch's url buckets.
MEDIA_SEEN_DDL = "url string, vb int"
MEDIA_SEEN_BUCKETS = 64


class DeltaStore:
    """A log-structured checkpoint store under ``base``: each append
    writes one ``d{N}`` delta dir, live once its ``_SUCCESS`` marker
    exists; ``read`` unions the visible deltas, ``reduce`` folds them
    to the live set and ``compact`` rewrites that set as one dir. The
    crawl's three stores are instances: live robots (every rule row of
    a host's newest fetch), fetch validators (newest row per URL) and
    media-seen (distinct URLs). ONE implementation of the
    visibility/crash contract — it is subtle enough that copies
    drift.

    Visibility, for a store with a ``manifest_key``: its deltas CHANGE
    what a retried generation does — a crashed attempt's validators
    would make first-visit pages come back 304 and never be extracted,
    its media-seen rows would skip media whose archive never
    committed. So a delta is visible only up to ``committed`` (the
    highest index a committed generation produced), every manifest
    records ``committed`` under ``manifest_key`` in the generation's
    atomic commit, and ``resume`` deletes the indexes above the
    recorded floor. A compaction output carries ``_COMPACTED`` (written
    before ``_SUCCESS``, so a committed fold is never unmarked), which
    exempts it from the gate and from the resume prune: it may
    legitimately postdate the last manifest. Hence compaction runs only
    AFTER a generation's manifest commit — before it, the fold would
    smuggle the uncommitted delta past the gate. A store without a
    ``manifest_key`` (live robots: re-fetched rules are idempotent)
    shows every committed delta and ``resume`` leaves it alone.

    ``buckets`` > 0: rows get ``vb`` = url_bucket(url, buckets) and are
    written one bucket per file, so ``read(batch=...)`` prunes row
    groups on parquet min/max stats to the batch's buckets. The modulus
    is a STORE constant, independent of cfg.partitions: stored rows
    keep their bucket across resumes, so a crawl resumed with another
    --partitions still prunes correctly."""

    # auto-compaction threshold in committed delta dirs (maybe_compact)
    compact_dirs = 64

    def __init__(self, spark, base, ddl, reduce, buckets=0,
                 manifest_key=None):
        self.spark, self.base, self.ddl = spark, base, ddl
        self.reduce = reduce
        self.buckets = buckets
        self.manifest_key = manifest_key
        self.committed = -1

    @staticmethod
    def _compacted(path: str) -> bool:
        return fsio.exists(fsio.join(path, "_COMPACTED"))

    def dirs(self, all_dirs: bool = False) -> list:
        """Committed delta dirs as sorted (index, path). A gated store
        hides indexes above ``committed`` that are not compaction
        outputs, unless ``all_dirs``."""
        gated = self.manifest_key is not None and not all_dirs
        out = []
        for fn in fsio.listdir(self.base):
            if not (
                fn.startswith("d") and fn[1:].isdigit()
                and fsio.exists(fsio.join(self.base, fn, "_SUCCESS"))
            ):
                continue  # a crash mid-write must not feed partial rows
            idx, path = int(fn[1:]), fsio.join(self.base, fn)
            if gated and idx > self.committed and not self._compacted(path):
                continue  # written but never manifest-committed
            out.append((idx, path))
        return sorted(out)

    def read(self, batch: DataFrame | None = None) -> DataFrame | None:
        """Raw rows of every visible delta (None when there are none);
        with ``batch``, only the slice in the batch's url buckets (one
        eager bucket collect)."""
        dirs = self.dirs()
        if not dirs:
            return None
        df = self.spark.read.schema(self.ddl).parquet(*[p for _, p in dirs])
        if batch is not None:
            df = df.filter(
                F.col("vb").isin(batch_buckets(batch, "url", self.buckets))
            )
        return df

    def live(self) -> DataFrame | None:
        """The reduced live set (None when the store is empty)."""
        df = self.read()
        return None if df is None else self.reduce(df)

    def append(self, rows: DataFrame) -> int:
        """Write one delta (rows without ``vb`` — added here); returns
        its index. A gated delta stays invisible until the caller
        advances ``committed`` to it."""
        if self.buckets:
            rows = rows.withColumn(
                "vb", url_bucket(F.col("url"), self.buckets).cast("int")
            )
        return self._write(rows)

    def _write(self, df: DataFrame, compacted: bool = False) -> int:
        # the index comes from ALL dirs: an invisible orphan's index is
        # never reused (overwrite would be safe, but distinct history is
        # simpler to reason about)
        dirs = self.dirs(all_dirs=True)
        idx = dirs[-1][0] + 1 if dirs else 0
        if self.buckets:
            df = df.repartition(self.buckets, "vb")
        out = fsio.join(self.base, f"d{idx}")
        # the write is the one materializing action: consumers read the
        # parquet, never the lineage
        df.write.mode("overwrite").parquet(out)
        if compacted:
            fsio.write_bytes_atomic(fsio.join(out, "_COMPACTED"), b"")
        fsio.write_bytes_atomic(fsio.join(out, "_SUCCESS"), b"")
        return idx

    def compact(self) -> bool:
        """Fold the visible deltas into ONE dir (the reduced live set,
        stamps preserved) and delete the folded dirs — a long crawl
        appends a delta per generation that every read must list and
        open. The merged dir commits before anything is deleted; a
        crash in between only leaves rows the reduction collapses
        again. Returns whether anything was folded."""
        dirs = self.dirs()
        if len(dirs) <= 1:
            return False
        idx = self._write(self.reduce(self.read()), compacted=True)
        for _, p in dirs:
            fsio.rmtree(p)
        self.committed = idx
        return True

    def maybe_compact(self) -> bool:
        """Compact once the store passes ``compact_dirs`` deltas: a
        growth bound independent of frontier compaction, so a
        compact_every=0 crawl does not accumulate O(generations)
        dirs."""
        return len(self.dirs()) > self.compact_dirs and self.compact()

    def resume(self, manifests) -> None:
        """Restore ``committed`` from the first of ``manifests`` (the
        resumed one, then older ones newest-first) that records
        ``manifest_key``, then delete the never-committed deltas above
        it. The walk-back matters: a crawl resumed for a while WITHOUT
        the feature writes manifests lacking the key, and wiping the
        older committed history would re-download or unconditionally
        refetch everything. When no manifest ever recorded the key the
        floor is -1: any delta found is a crashed first attempt's
        orphan."""
        key = self.manifest_key
        if key is None:
            return
        self.committed = next((m[key] for m in manifests if key in m), -1)
        for idx, p in self.dirs(all_dirs=True):
            if idx > self.committed and not self._compacted(p):
                fsio.rmtree(p)


def _newest(key: str, one_row: bool):
    """Store reduction: the rows of each ``key``'s newest
    ``fetched_at``; ``one_row`` keeps one of them (a retried generation
    appends duplicate rows with identical stamps)."""
    def reduce(df: DataFrame) -> DataFrame:
        newest = df.groupBy(key).agg(F.max("fetched_at").alias("fetched_at"))
        out = df.join(newest, [key, "fetched_at"], "left_semi")
        return out.dropDuplicates([key]) if one_row else out
    return reduce


def read_pending(spark: SparkSession, checkpoint_dir: str, generation: int) -> DataFrame:
    """The live pending set at a generation: just the ``status=pending``
    subdir of that generation's state directory (path-level pruning —
    the terminal history is never opened)."""
    p = fsio.join(
        checkpoint_dir, "frontier", f"g{generation}", "status=pending"
    )
    if not fsio.isdir(p):  # crawl drained: no pending partition
        return spark.createDataFrame([], FRONTIER_DDL)
    return (
        spark.read.schema(_DDL_NO_STATUS)
        .parquet(p)
        .withColumn("status", F.lit("pending"))
        .select(*_frontier_cols())
    )


def _compaction_floor(checkpoint_dir: str) -> int:
    """First generation whose terminal delta is NOT covered by the
    newest COMMITTED compaction (0 when never compacted). Only a dir
    whose _SUCCESS marker exists counts — a crash mid-compaction leaves
    a partial dir that must never become the authoritative floor (it
    would silently under-read terminal history and let the next
    prune destroy the still-intact per-generation deltas)."""
    p = fsio.join(checkpoint_dir, "compacted")
    gens = [
        int(fn[1:]) for fn in fsio.listdir(p)
        if fn.startswith("g") and fn[1:].isdigit()
        and fsio.exists(fsio.join(p, fn, "_SUCCESS"))
    ]
    return (max(gens) + 1) if gens else 0


def read_frontier(spark: SparkSession, checkpoint_dir: str, generation: int) -> DataFrame:
    """Reconstruct the FULL frontier view at a generation: the current
    pending snapshot, the newest compaction (merged terminal history, if
    any), and every later generation's terminal-status delta. For tests
    and offline analytics — the crawl loop itself never reads history."""
    return _union(
        [read_pending(spark, checkpoint_dir, generation)]
        + _terminal_history(spark, checkpoint_dir, generation)
    )


def _terminal_history(spark, checkpoint_dir: str, generation: int) -> list:
    """The terminal-status rows through ``generation``, one frame per
    dir: the newest committed compaction (unless it postdates
    ``generation``), then every later generation's terminal delta."""
    parts, start = [], 0
    floor = _compaction_floor(checkpoint_dir)
    if 0 < floor <= generation + 1:
        parts.append(
            spark.read.schema(FRONTIER_DDL).parquet(
                fsio.join(checkpoint_dir, "compacted", f"g{floor - 1}")
            ).select(*_frontier_cols())
        )
        start = floor
    for g in range(start, generation + 1):
        p = fsio.join(checkpoint_dir, "frontier", f"g{g}")
        if fsio.isdir(p):
            parts.append(
                spark.read.schema(FRONTIER_DDL)
                .parquet(p)
                .filter(F.col("status") != "pending")
                .select(*_frontier_cols())
            )
    return parts


def metrics_df(spark: SparkSession, checkpoint_dir: str, generation: int) -> DataFrame:
    """Per-host fetch/parse metrics for one generation (S8 lineage),
    aggregated ON READ: the extracted delta carries the per-page
    counters and the frontier delta's ``status=fetch_failed`` partition
    carries the misses — no third write job per generation. Same
    schema the loop used to materialize: (host, dispatched, imgs,
    albums_enqueued, next_found, empty_dup, embed, fetch_failed,
    generation)."""
    ext = spark.read.parquet(
        fsio.join(checkpoint_dir, "extracted", f"g{generation}")
    )
    per_page = ext.groupBy("host", "page_url").agg(
        F.count("img_url").alias("imgs"),          # one row per img
        F.first("empty_dup").alias("empty_dup"),   # page-constant columns
        F.first("embed").alias("embed"),
        F.first("n_albums").alias("n_albums"),
        F.first("has_next").alias("has_next"),
    )
    m = per_page.groupBy("host").agg(
        F.count("*").alias("dispatched"),
        F.sum("imgs").alias("imgs"),
        F.sum("n_albums").alias("albums_enqueued"),
        F.sum("has_next").alias("next_found"),
        F.sum("empty_dup").alias("empty_dup"),
        F.sum("embed").alias("embed"),
    )
    for st in ("fetch_failed", "redirected", "unmodified"):
        d = fsio.join(
            checkpoint_dir, "frontier", f"g{generation}", f"status={st}"
        )
        if fsio.isdir(d):
            extra = (
                spark.read.schema(_DDL_NO_STATUS).parquet(d)
                .groupBy("host").agg(F.count("*").alias(st))
            )
            m = m.join(extra, "host", "outer")
        else:
            m = m.withColumn(st, F.lit(None).cast("long"))
    # 'redirected' exists only under redirect_policy='strict' and
    # 'unmodified' only under revisit_after_s>0 — without them a
    # redirect-everything or all-304 host would be invisible here (no
    # extracted rows, no fetch_failed rows)
    return m.fillna(
        0, ["dispatched", "fetch_failed", "redirected", "unmodified"]
    ).withColumn("generation", F.lit(generation))


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    partitions: int = 32          # seen-set salt shards
    host_budget: int = 1
    batch_window_s: float = 60.0
    album_policy: str = "all"
    # also compute readability-lite main content (boilerplate-removed
    # text, functions/maintext.py) per page into the extracted delta's
    # main_text column — the corpus can then curate from main content
    # (plans/corpus.py text_source='main'). Off by default: the
    # image-crawl hot path doesn't pay the extra tree walk.
    main_text: bool = False
    seen_mode: str = "cuckoo"     # 'cuckoo' | 'exact'
    cuckoo_capacity: int = 1 << 16
    max_generations: int = 10_000
    priority: str = "dfs"         # 'dfs' (reference parity) | 'bfs' | 'score'
    # SQL expression over frontier rows for priority='score' (highest
    # dispatched first), e.g. "-depth" or "-depth - 0.01*length(path)"
    priority_score: str | None = None
    # >0 ⇒ GLOBAL per-generation dispatch cap across all hosts (the
    # fetch fleet's batch capacity), filled in priority order — with
    # priority='score' and a host_scores table this is the
    # rank-driven scheduler: the batch goes to the highest-priority
    # frontier rows first and low-rank hosts wait (carry-over keeps
    # them pending). Per-host budgets still bound each host within
    # the batch. 0 = uncapped (every host dispatches its budget).
    global_budget: int = 0
    dispatch_salts: int = 0       # >0 ⇒ skew-safe two-phase dispatch
    compact_every: int = 0        # >0 ⇒ compact(prune=True) every N gens
    # >0 ⇒ the pages table carries tables.PAGES_BUCKET_COL
    # (url_bucket(url, pages_buckets)) as a partition column and the
    # per-generation fetch scan is PRUNED to the dispatch batch's
    # buckets — without this every generation re-reads the full pages
    # table (the dominant cost at 100 TB)
    pages_buckets: int = 0
    # archive the DISCOVERED media bytes (the reference's download()
    # stage, main.rs:166-279 `download` / `save_to_file`): each
    # generation fetches its extracted delta's download_url set —
    # robots-checked against the known rules, crawl_delay paced,
    # deduplicated against a manifest-gated media-seen store so an
    # image referenced by every page (logos, sprites) downloads ONCE
    # per crawl — and archives the bytes as WARC under
    # media_dir/g{g}/ (the re-processable layout; the extracted
    # delta's dir/filename columns remain the file-layout metadata).
    # http fetch mode only: a pages-table crawl has no media wire.
    media_dir: str | None = None
    # 'table' (default): fetch = broadcast join against the pages table.
    # 'http': fetch = pooled-HTTP mapInPandas over the dispatch batch
    # (operators/fetch.py — the live-crawl variant, SURVEY §2.1 S2);
    # per-host keep-alive connections, robots crawl_delay honored
    # serially per host, failures become fetch_failed via the same
    # anti-join as table misses. Both levels of a two-level site fetch
    # through the same path.
    fetch_mode: str = "table"
    # scheme://host[:port] connection override for fetch_mode='http'
    # (curl --resolve pattern): requests keep the URL's Host header but
    # connect here — hermetic tests point it at a loopback server
    http_connect_to: str | None = None
    http_user_agent: str = "imgbot/1.0"
    http_timeout_s: float = 10.0
    # transient-failure retries per request in fetch_mode='http'
    # (transport errors / 5xx; fresh connection, bounded backoff that
    # adds to — never shortcuts — the per-host pacing). 0 = the
    # reference's single-attempt curl parity.
    http_retries: int = 1
    # >0 ⇒ per-host failure circuit breaker: a host with this many
    # fetch_failed rows in the previous generation's delta gets budget
    # 0 for one generation (pending rows held, not lost; self-clearing
    # — see Crawler._backoff_budgets)
    backoff_failures: int = 0
    # archive each generation's fetched bodies as WARC files under
    # {archive_dir}/g{g}/ (operators.sink.write_warc_archives) — a live
    # crawl that extracts and discards its fetches cannot be
    # re-processed; with this set, the crawl PRODUCES the same archives
    # the WARC source consumes. Works in BOTH fetch modes: live fetches
    # are stamped with the fetch time, table-mode re-crawls keep the
    # pages table's original warc_ts capture timestamps.
    archive_dir: str | None = None
    # fetch_mode='http': fetch robots.txt LAZILY (executor-side, pooled)
    # for every host with no stored rules — seed hosts at init, hosts
    # discovered mid-crawl at enqueue time (so their Disallow is
    # honored and their Crawl-delay paces the dispatch — without this,
    # a cross-host link found at generation ≥1 would be fetched
    # allow-all with zero delay), and dispatch hosts whose rules are
    # older than robots_ttl_s. Fetched rules persist as deltas under
    # {checkpoint}/robots/ — resumable state, so a resumed crawl never
    # re-fetches or collects hosts to the driver. Hosts present in the
    # static robots table passed to the Crawler are authoritative and
    # never fetched live.
    live_robots: bool = False
    # age beyond which stored live-robots rules are re-fetched for
    # hosts about to be dispatched (long crawls must notice rule
    # changes; RFC 9309 suggests caching up to 24h)
    robots_ttl_s: float = 86400.0
    # fetch_mode='http' cross-host 3xx handling: 'follow' (default) =
    # inline follow, curl -L reference parity; 'strict' = the target
    # is NOT fetched inline — the redirecting URL records status
    # 'redirected' (NOT fetch_failed: it must never feed the backoff
    # breaker) and the target re-enqueues as a kind='redirect' candidate
    # through robots admission + the seen-set (closes the "redirect
    # fetches a host whose rules were never consulted" politeness
    # hole; POLITENESS.md). Same-host hops follow inline either way.
    # Second-level (two-level-site) cross-host redirects in strict
    # mode are dropped, not enqueued: photo pages are leaf fetches,
    # their targets are not frontier material. The drop is observable:
    # each generation's manifest records it as
    # step_times-sibling 'second_level_redirects_dropped'.
    redirect_policy: str = "follow"
    # >0 (seconds; fetch_mode='http' only) turns the one-shot frontier
    # into a CONTINUOUS crawler: a URL fetched more than this long ago
    # is re-enqueued for revisit (kind='revisit', bypassing the
    # seen-set — it is seen by definition, admission re-checks robots)
    # and refetched CONDITIONALLY — the validators (ETag /
    # Last-Modified) captured at its previous fetch ride out as
    # If-None-Match / If-Modified-Since, and a 304 transfers zero body
    # bytes, keeps the previously extracted rows + archived body, and
    # lands terminal status 'unmodified' (restamping the revisit
    # clock). Failures keep their old stamp, so a dead URL retries at
    # the revisit cadence. 0 = one-shot crawl (reference parity: the
    # CLI's only refetch control is --no-clobber, main.rs:16).
    revisit_after_s: float = 0.0
    # revisit sweep cadence in generations: the sweep scans the
    # validators store (newest-per-URL over every fetched URL), so a
    # production crawl amortizes it across N generations instead of
    # paying an O(store) job per step
    revisit_every: int = 1
    # ADAPTIVE recrawl intervals (the incremental-crawling AIMD
    # policy): each URL carries its own revisit interval in the
    # validators store — a 304 DOUBLES it (capped at revisit_max_s),
    # changed content HALVES it (floored at revisit_min_s), a first
    # fetch starts at revisit_after_s. Hot pages converge to the
    # floor, static pages to the cap — recrawl bandwidth concentrates
    # where content actually changes. Defaults of 0 pin both bounds to
    # revisit_after_s, i.e. a fixed cadence.
    revisit_min_s: float = 0.0
    revisit_max_s: float = 0.0


class _Generation:
    """One generation's transient state: created at the top of
    ``Crawler.step`` (and ``init``), passed to the phases and fetch
    helpers, dropped when the step returns. Every frame a phase
    persists is registered with ``keep``; ``step`` calls ``release``
    in a ``finally``, so a generation that raises anywhere leaves no
    cached frame behind for its retry."""

    def __init__(self, g: int):
        self.g = g
        self.t0 = time.time()
        self.eager_s = 0.0  # eager Spark work inside the "plan" window
        self.times: dict = {}  # step_times, filled by the phases
        self.caches: list = []
        # strict mode: cross-host redirect targets of first-level
        # (re-enqueued) and of leaf fetches (dropped, counted)
        self.redirects: list = []
        self.leaf_redirects: list = []
        # revisit mode: 304 urls, validators-delta parts, the sweep's
        # newest-per-URL reduction, the dispatch batch with its stored
        # validators, and the sweep's 'disallowed' terminal rows
        self.unchanged: list = []
        self.validators: list = []
        self.val_newest = None
        self.stored = None
        self.terminal: list = []

    def keep(self, df: DataFrame) -> DataFrame:
        """Register an already persisted frame for ``release``."""
        self.caches.append(df)
        return df

    def eager(self, fn, *args):
        """``fn(*args)``, timed as eager Spark work inside the plan
        window (robots fetches, bucket-id collects) so step_times'
        plan/eager split measures what it names."""
        t = time.time()
        try:
            return fn(*args)
        finally:
            self.eager_s += time.time() - t

    def release(self) -> None:
        for df in self.caches:
            df.unpersist()
        self.caches = []


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        config_rows: list,
        robots: DataFrame,
        cfg: CrawlConfig,
        host_budgets: DataFrame | None = None,
        host_scores: DataFrame | None = None,
    ):
        # optional (host, budget) overrides — broadcast into dispatch
        self.host_budgets = host_budgets
        # optional (host, score) priority table — e.g. link-graph
        # PageRank from a previous crawl window
        # (operators/linkgraph.host_rank). Broadcast-joined onto
        # pending each step as a ``host_score`` column (missing hosts
        # score 0.0) so ``CrawlConfig.priority_score`` expressions can
        # rank by it: priority_score='host_score' crawls
        # highest-ranked hosts first; 'host_score - 0.5*depth' mixes
        # in depth decay. Host count is orders of magnitude below URL
        # count, so the broadcast holds at frontier scale.
        self.host_scores = host_scores
        self.spark = spark
        self.pages = pages
        self.config_rows = config_rows
        self.robots = robots
        self.cfg = cfg
        self.generation = -1
        self.seen_blobs: dict = {}  # salt -> blob path (latest version)
        self._probe_schema = None  # cached by _seen_filter (invariant)
        # cumulative terminal-status counts (committed state only — a
        # retried generation recomputes from here, never double-counts)
        self.status_totals: dict = {}
        self.has_two_level = any(
            isinstance(r[2], str) and SEP in r[2] and not r[2].startswith("json:")
            for r in config_rows
        )
        # compile the config lookup Column ONCE — rebuilt per generation
        # it costs O(config) py4j roundtrips every step
        from img_spark.sources.site_config import compile_config_column

        self._cfg_col = compile_config_column(config_rows)
        # rules table compacted to one array per host ONCE — the
        # per-generation candidate path then robots-checks with a
        # broadcast join + array expressions, zero shuffles (the
        # window-based apply_robots would shuffle the candidate batch
        # every generation). In live mode the lazily fetched rules in
        # the checkpoint's robots store are folded in and the table is
        # rebuilt whenever a new delta lands (_reload_robots).
        self._live_robots = bool(cfg.live_robots) and cfg.fetch_mode == "http"
        self._robots_rules = None
        self._robots_known = None
        # revisit + conditional refetch rides the live-fetch seam only:
        # the pages-table join has no wire to save bytes on
        self._conditional = cfg.revisit_after_s > 0
        if self._conditional and cfg.fetch_mode != "http":
            raise ValueError(
                "revisit_after_s requires fetch_mode='http' — a "
                "pages-table crawl has no conditional-GET seam"
            )
        if cfg.media_dir and cfg.fetch_mode != "http":
            raise ValueError(
                "media_dir requires fetch_mode='http' — a pages-table "
                "crawl has no wire to download media bytes from"
            )
        # the checkpoint's log-structured stores (DeltaStore), each
        # only when its feature is on; the gated ones ride every
        # manifest and resume
        self._robots_store = DeltaStore(
            spark, self._p("robots"), ROBOTS_STORE_DDL,
            _newest("host", one_row=False),
        ) if self._live_robots else None
        self._validators = DeltaStore(
            spark, self._p("validators"), VALIDATORS_DDL,
            _newest("url", one_row=True), buckets=VALIDATORS_BUCKETS,
            manifest_key="validators_max",
        ) if self._conditional else None
        self._media_seen = DeltaStore(
            spark, self._p("media_seen"), MEDIA_SEEN_DDL,
            lambda df: df.dropDuplicates(["url"]),
            buckets=MEDIA_SEEN_BUCKETS, manifest_key="media_seen_max",
        ) if cfg.media_dir else None
        self._gated_stores = [
            st for st in (self._validators, self._media_seen)
            if st is not None
        ]
        self._plan = self._compile_plan_fragments()
        self._reload_robots()

    def _compile_plan_fragments(self) -> dict:
        """Build-once Column trees for the per-generation plan (round-5
        verdict item 3): ~1.3 s of each 4 s step was py4j
        plan-construction rebuilding IDENTICAL expression trees every
        generation (~3,100 gateway round-trips measured at the bench
        fixture). Column objects are immutable and bound to the
        session, so a Crawler compiles them once; only the
        generation-dependent ``F.lit(g)`` literals are created per
        step."""
        from img_spark.operators.extract_udf import compile_second_level
        from img_spark.operators.politeness import compile_robots_match
        from img_spark.operators.sink import download_columns

        seq_path = F.concat(
            F.col("ppath"), F.lpad(F.lower(F.hex(F.col("seq"))), 8, "0")
        ).alias("path")
        return {
            "robots": compile_robots_match(),
            "second": compile_second_level(),
            "dl_cols": download_columns(),
            # extracted delta: [:5] + lit(g) + [5:]
            "ext1_pre": [
                F.col("url").alias("page_url"), F.col("host"),
                F.col("status"), F.col("dir_title"), F.col("title"),
            ],
            "ext1_post": [
                F.col("extracted_text"), F.col("main_text"),
                F.col("empty_dup"), F.col("embed"),
                F.size("albums").alias("n_albums"),
                F.when(F.col("next_url") != "", 1).otherwise(0)
                .alias("has_next"),
                F.explode_outer(F.arrays_zip("imgs", "origins")).alias("z"),
            ],
            "ext2": [
                "page_url", "host", "status", "dir_title", "title",
                "generation", "extracted_text", "main_text", "empty_dup",
                "embed", "n_albums", "has_next",
                F.col("z.imgs").alias("img_url"),
                F.col("z.origins").alias("origin"),
            ],
            "albums_cols": [
                F.col("url").alias("parent_url"),
                F.col("depth").alias("pdepth"),
                F.col("path").alias("ppath"),
                F.posexplode("albums").alias("seq", "child_url"),
            ],
            "albums_with": {
                "kind": F.lit("album"), "depth": F.col("pdepth") + 1,
            },
            "nxt_cols": [
                F.col("url").alias("parent_url"),
                F.col("depth").alias("pdepth"),
                F.col("path").alias("ppath"),
                F.size("albums").alias("seq"),
                F.col("next_url").alias("child_url"),
            ],
            "nxt_with": {"kind": F.lit("next"), "depth": F.col("pdepth")},
            # candidate rows: [...] + lit(g).alias("generation")
            "cand_pre": [
                F.col("child_url").alias("url"),
                F.col("child_url").alias("url_canon"),
                host_of(F.col("child_url")).alias("host"),
                "depth", seq_path, "parent_url", "kind",
            ],
            "bad_cols": {
                "status": F.lit("rejected"),
                "crawl_delay": F.lit(0.0),
                "allowed": F.lit(False),
            },
            "status_col": (
                F.when(F.col("status").isNotNull(), F.col("status"))
                .when(~F.col("allowed"), F.lit("disallowed"))
                .when(~F.col("is_new"), F.lit("duplicate"))
                .otherwise(F.lit("pending"))
            ),
            # terminal rows per status: pre + lit(g) + post
            "terminal": {
                "fetched": (
                    [
                        "url", F.col("url").alias("url_canon"), "host",
                        "depth", "path",
                        # parent_url is PRESERVED on fetched terminal
                        # rows: it is the crawl's discovered link graph
                        # (operators/linkgraph.link_edges reads it back
                        # out), and erasing it would leave edges only
                        # on duplicate/failed rows. kind stays null — a
                        # fetched row's enqueue kind is spent state.
                        "parent_url",
                        F.lit(None).cast("string").alias("kind"),
                        F.lit("fetched").alias("status"),
                    ],
                    [F.lit(0.0).alias("crawl_delay")],
                ),
                **{
                    st: (
                        [
                            "url", "url_canon", "host", "depth", "path",
                            "parent_url", "kind", F.lit(st).alias("status"),
                        ],
                        ["crawl_delay"],
                    )
                    for st in ("fetch_failed", "redirected", "unmodified")
                },
            },
            "seen_cols": {
                "h64": url_hash(F.col("url_canon")),
            },
            "probe_cond": F.col("allowed") & F.col("status").isNull(),
            "obs_cols": [
                F.count(F.when(F.col("status") == st, 1)).alias(st)
                for st in STATUSES
            ],
        }

    # ---------------------------------------------------------------- paths
    def _p(self, *parts) -> str:
        return fsio.join(self.cfg.checkpoint_dir, *parts)

    # --------------------------------------------------------------- robots
    def _reload_robots(self) -> None:
        """(Re)build the compacted broadcast rules table from the
        static rules plus — in live mode — the newest stored rules per
        host from the checkpoint's robots store (a host re-fetched
        after TTL expiry keeps only its newest rule set; hosts in the
        static table are authoritative and never overridden). Also
        maintains ``_robots_known`` (host, fetched_at) — the freshness
        index ``_ensure_robots`` anti-joins against. Both persisted;
        previous versions unpersisted (the store is re-read from
        parquet each reload, so lineage stays flat across thousands of
        generations)."""
        rules = self.robots
        known = None
        if self._live_robots:
            static_hosts = self.robots.select("host").distinct()
            known = static_hosts.withColumn(
                "fetched_at", F.lit(float("inf"))  # static: never expires
            )
            stored = self._robots_store.live()
            if stored is not None:
                live = stored.join(static_hosts, "host", "left_anti")
                rules = rules.unionByName(live.drop("fetched_at"))
                known = known.unionByName(
                    live.select("host", "fetched_at").distinct()
                )
        new_rules = robots_compact(rules).persist()
        new_known = known.persist() if known is not None else None
        old_rules, old_known = self._robots_rules, self._robots_known
        self._robots_rules, self._robots_known = new_rules, new_known
        for old in (old_rules, old_known):
            if old is not None:
                old.unpersist()

    def _ensure_robots(self, cand: DataFrame) -> None:
        """Live-mode lazy robots (the round-4 politeness hole): fetch
        robots.txt for every host in ``cand`` with no stored rules
        newer than ``robots_ttl_s`` — hosts discovered mid-crawl, TTL
        expiry, checkpoints resumed from before the rules existed —
        write them as one committed delta under {checkpoint}/robots/,
        and rebuild the broadcast table. The robots bodies are fetched
        AND parsed executor-side through the pooled HTTP path
        (operators/fetch.py); nothing host-shaped is ever collected to
        the driver (the round-4 unbounded resume-bootstrap is gone —
        need-detection is an anti-join against the broadcast freshness
        index, and the only driver touch is the is-empty check)."""
        if not self._live_robots:
            return
        now = time.time()
        fresh = self._robots_known.filter(
            F.col("fetched_at") > F.lit(now - self.cfg.robots_ttl_s)
        )
        # robots.txt scheme follows the frontier URLs' scheme per host
        # (a plain-http host must be asked over http — an https-only
        # probe would classify it 'unreachable' and admit allow-all);
        # hosts arriving without URLs fall back to robots_bodies_http's
        # https default
        sch = F.substring_index(F.col("url"), "://", 1)
        cols = ["host"] + (
            [F.when(sch.isin("http", "https"), sch).alias("scheme")]
            if "url" in cand.columns else []
        )
        need = (
            cand.select(*cols)
            .filter(F.col("host").isNotNull())
            .distinct()
            .join(F.broadcast(fresh.select("host")), "host", "left_anti")
        )
        from pyspark import StorageLevel

        from img_spark.operators.fetch import (
            robots_bodies_http,
            robots_rules_from_fetched,
        )

        got = robots_bodies_http(
            self.spark,
            need,
            user_agent=self.cfg.http_user_agent,
            connect_to=self.cfg.http_connect_to,
            timeout_s=self.cfg.http_timeout_s,
            # --http-retries 0 must mean single-attempt everywhere,
            # robots fetches included (round-5 ADVICE)
            retries=self.cfg.http_retries,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # ONE action materializes both the emptiness probe and the
        # fetch (a separate need.isEmpty() pre-check was a whole extra
        # Spark job per candidate batch — twice per live generation;
        # an all-fresh batch makes the mapInPandas fetch a no-op over
        # zero rows, so folding the probe into the count is free). The
        # persist also pins the fetch: the branches below read it
        # several times and the HTTP fetch must not re-run per consumer
        if got.count() == 0:
            got.unpersist()
            return

        def allow_all(hosts_only):
            return hosts_only.select(
                "host",
                F.lit("/").alias("path_prefix"),
                F.lit(True).alias("allow"),
                F.lit(0.0).alias("crawl_delay"),
            )

        # 2xx → parsed rules; 4xx is DEFINITIVE (RFC 9309 "unavailable
        # means no restrictions") → allow-all, even when it replaces
        # stored rules at TTL refresh (the site removed its robots.txt)
        rules = robots_rules_from_fetched(
            got.filter(F.col("outcome") == "ok"),
            agent=self.cfg.http_user_agent,
        ).unionByName(
            allow_all(got.filter(F.col("outcome") == "missing"))
        )
        unreachable = got.filter(
            F.col("outcome") == "unreachable"
        ).select("host")
        stored = self._robots_store.live()
        if stored is not None:
            # unreachable at TTL REFRESH keeps the previously stored
            # rules (re-stamped, so the refresh isn't retried every
            # generation) — RFC 9309's unreachable-after-previously-
            # accessible caching; a transient outage must never
            # downgrade a known Disallow to allow-all for a TTL window
            keep = stored.drop("fetched_at").join(
                F.broadcast(unreachable), "host", "left_semi"
            )
            rules = rules.unionByName(keep)
            unreachable = unreachable.join(
                stored.select("host").distinct(), "host", "left_anti"
            )
        # never-seen host with an unreachable robots.txt: allow-all
        # (no cached copy exists to be politer with)
        rules = rules.unionByName(allow_all(unreachable)).withColumn(
            "fetched_at", F.lit(now)
        )
        self._robots_store.append(rules)
        got.unpersist()
        self._robots_store.maybe_compact()
        self._reload_robots()

    # ----------------------------------------------------------- validators
    def _dispatch_validators(
        self, disp: DataFrame, gen: _Generation
    ) -> DataFrame:
        """Attach each dispatch URL's stored validators (etag,
        last_modified) for the conditional GET. Scale shape: the store
        scan is bucket-pruned to the dispatch batch's url buckets,
        semi-filtered against the broadcast dispatch (no shuffle of the
        store), and only then reduced newest-per-URL — the groupBy
        shuffles a dispatch-sized set, never the store. A sweep
        generation already reduced the whole store newest-per-URL
        (``gen.val_newest``) — reuse it instead of a second O(store)
        scan in the same step."""
        urls = F.broadcast(disp.select("url"))
        if gen.val_newest is not None:
            vals = gen.val_newest.join(urls, "url", "left_semi")
        else:
            hit = gen.eager(self._validators.read, disp)
            if hit is None:
                return disp
            vals = self._validators.reduce(
                hit.join(urls, "url", "left_semi")
            )
        vals = vals.select(
            "url", "etag", "last_modified", "interval_s",
            F.lit(True).alias("stored"),
        )
        return disp.join(F.broadcast(vals), "url", "left")

    # ------------------------------------------------------ media download
    def _fetch_media(self, extracted: DataFrame, gen: _Generation) -> dict:
        """The reference's download() stage (main.rs:166-279) as a
        per-generation batch: fetch every NEW download_url the
        generation extracted and archive the bytes as WARC under
        ``media_dir/g{g}/``.

        Politeness: media URLs are robots-checked against the KNOWN
        rules (static table + whatever the live store has) and paced
        by their crawl_delay; hosts never seen by robots (image CDNs)
        default allow-all with no extra robots fetch — the reference
        downloads media with no robots check at all (curl -Z,
        main.rs:257), so known-rules admission is strictly politer
        than parity. Dedup: the batch anti-joins the media-seen store
        (bucket-pruned scan — the store never shuffles whole); only
        DEFINITIVE outcomes enter the store — 2xx bodies, 4xx (except
        429), oversized — so a logo on every page downloads once and
        a dead image URL doesn't retry per embedding page, while a
        CDN outage (transport error, 5xx, 429) leaves its URLs
        retryable by a later generation instead of permanently
        missing from the archive. One fetch pass: the pooled-HTTP
        batch is persisted disk-backed and materialized before
        archiving, so task retries replay the cache, never the
        wire."""
        from pyspark import StorageLevel

        from img_spark.operators.fetch import fetch_pages_http
        from img_spark.operators.sink import write_warc_archives

        cand = (
            extracted.filter(F.col("download_url").isNotNull())
            .select(F.col("download_url").alias("url"))
            .distinct()
            .withColumn("host", host_of(F.col("url")))
            .filter(F.col("host").isNotNull())
        )
        checked = gen.keep(apply_robots_rules(
            cand, self._robots_rules, compiled=self._plan["robots"]
        ).persist())
        n_cand = checked.count()
        allowed = checked.filter(F.col("allowed"))
        # counted HERE, off the live cache — after unpersist this
        # would re-run the candidate scan + robots evaluation
        n_allowed = allowed.count()
        seen = self._media_seen.read(batch=allowed)
        new = allowed.select("url", "host", "crawl_delay")
        if seen is not None:
            # batch-sized anti-join against the bucket-pruned store
            # slice; no broadcast forced — AQE sizes it
            new = new.join(seen.select("url"), "url", "left_anti")
        # with_status: every attempted URL emits a row, so attempt
        # counts, archive rows, and the definitive-outcome set all
        # come from ONE materialized fetch — no recomputation of the
        # anti-join, no second wire pass
        got = gen.keep(fetch_pages_http(
            new,
            user_agent=self.cfg.http_user_agent,
            timeout_s=self.cfg.http_timeout_s,
            connect_to=self.cfg.http_connect_to,
            partitions=self.cfg.partitions,
            retries=self.cfg.http_retries,
            with_status=True,
        ).persist(StorageLevel.MEMORY_AND_DISK))
        n_attempted = got.count()  # materialize: ONE pass over the wire
        fetched = got.filter(F.col("html").isNotNull())
        n_fetched = fetched.count()
        out = self._p_media(gen.g)
        if fsio.isdir(out):
            # a crashed attempt's partial archive: overwrite whole
            fsio.rmtree(out)
        if n_fetched:
            write_warc_archives(
                fetched.withColumn("warc_ts", F.current_timestamp()),
                out,
                content_type="application/octet-stream",
            )
        definitive = got.filter(
            F.col("html").isNotNull()
            | (F.col("status") == -1)
            | (
                F.col("status").between(400, 499)
                & (F.col("status") != 429)
            )
        ).select("url")
        n_definitive = definitive.count()
        if n_definitive:
            self._media_seen.committed = self._media_seen.append(definitive)
        stats = {
            "media_candidates": n_cand,
            "media_attempted": n_attempted,
            "media_fetched": n_fetched,
        }
        deferred = n_attempted - n_definitive
        if deferred:
            # transient failures left retryable for later generations
            stats["media_deferred"] = deferred
        disallowed = n_cand - n_allowed
        if disallowed:
            stats["media_disallowed"] = disallowed
        return stats

    def _p_media(self, g: int) -> str:
        return fsio.join(self.cfg.media_dir, f"g{g}")

    def _inject_revisits(
        self, pending: DataFrame, gen: _Generation
    ) -> DataFrame:
        """Revisit sweep (revisit_after_s>0, every revisit_every
        generations): URLs whose newest validator stamp is older than
        the TTL and that are not already pending re-enter the frontier
        as kind='revisit' pending rows — robots re-checked at
        re-admission (rules may have changed since the original
        enqueue), seen-set deliberately BYPASSED (a revisit is seen by
        definition; its rediscovered outlinks still probe normally, so
        only NEW links crawl). Disallowed-at-revisit URLs land a fresh
        terminal 'disallowed' row and restamp their validator clock
        (reconsidered after another TTL — rules may change back)
        instead of re-entering the sweep every generation (those
        terminal rows go to ``gen.terminal``). Returns pending ∪
        revisits."""
        newest = self._validators.live()
        if newest is None:
            return pending
        now = time.time()
        # ONE newest-per-URL reduction serves the whole step: the due
        # filter here and the dispatch validator attach later
        # (_dispatch_validators)
        newest = gen.val_newest = gen.keep(newest.persist())
        # per-URL adaptive interval (AIMD, see CrawlConfig); rows from
        # a pre-adaptive store fall back to the global TTL
        eff = self._revisit_clamp("interval_s")[0]
        due = newest.filter(
            F.col("fetched_at") < F.lit(now) - eff
        ).join(pending.select("url"), "url", "left_anti")
        cand = due.select(
            "url",
            F.col("url").alias("url_canon"),
            "host", "depth", "path", "etag", "last_modified",
            "interval_s",
            F.lit(None).cast("string").alias("parent_url"),
            F.lit("revisit").alias("kind"),
            F.lit(gen.g).alias("generation"),
        )
        gen.eager(self._ensure_robots, cand)
        # three consumers (revisit pending rows, blocked terminal rows,
        # the restamp delta) would each re-run the store scan + newest
        # groupBy + pending anti-join — persist once
        checked = gen.keep(apply_robots_rules(
            cand, self._robots_rules, compiled=self._plan["robots"]
        ).persist())
        allowed = checked.filter(F.col("allowed"))
        blocked = checked.filter(~F.col("allowed"))
        revisits = allowed.withColumn(
            "status", F.lit("pending")
        ).select(*_frontier_cols())
        gen.terminal.append(blocked.withColumn(
            "status", F.lit("disallowed")
        ).select(*_frontier_cols()))
        # restamp the blocked URLs' clocks (etag/lm/interval preserved)
        gen.validators.append(
            blocked.select(
                "url", "host", "depth", "path", "etag", "last_modified",
                F.lit(now).alias("fetched_at"), "interval_s",
            )
        )
        return pending.unionByName(revisits)

    def _revisit_clamp(self, col: str):
        """The stored revisit interval ``col`` CLAMPED into the current
        config's bounds, so a reconfigured crawl takes effect
        immediately (a store stamped under a 1-hour cadence must not
        ignore a new 60 s cap for an hour); NULL falls back to
        revisit_after_s. Returns (clamped, base, min, max) Columns —
        with both bounds unset they pin to the base (fixed cadence)."""
        c = self.cfg
        base = F.lit(c.revisit_after_s)
        mn = F.lit(c.revisit_min_s or c.revisit_after_s)
        mx = F.lit(c.revisit_max_s or c.revisit_after_s)
        return (
            F.least(F.greatest(F.coalesce(F.col(col), base), mn), mx),
            base, mn, mx,
        )

    def _manifest_path(self, g: int) -> str:
        return self._p(f"manifest-g{g}.json")

    # ---------------------------------------------------------------- init
    def init(self, seeds: list) -> dict:
        """Generation 0 state: robots-checked seeds, seen-set seeded.
        Returns the committed generation-0 status counts (the same
        shape ``step`` returns — job.py prints it)."""
        sdf = self.spark.createDataFrame(
            [(u, i) for i, u in enumerate(seeds)], "url string, seq int"
        )
        cand = sdf.select(
            F.col("url"),
            F.col("url").alias("url_canon"),
            host_of(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            F.lpad(F.lower(F.hex(F.col("seq"))), 8, "0").alias("path"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit("seed").alias("kind"),
            F.lit(0).alias("generation"),
        )
        counts0 = self._write_state(self._admit(cand, _Generation(0)), 0)
        self._refresh_seen_blobs(0)
        stats = self._commit_generation(0, {"seeds": len(seeds)}, counts0)
        self.generation = 0
        return stats

    def _admit(self, cand: DataFrame, gen: _Generation) -> DataFrame:
        """Phase 4, admission — the one path from candidate to frontier
        row (seeds at ``init``, discovered and redirect URLs each
        step): a row without a host is 'rejected'; live mode first
        fetches robots.txt for hosts it has no fresh rules for (their
        Disallow decides status — a disallowed seed dies at generation
        0 — and their Crawl-delay rides the frontier row into the next
        dispatch: the round-4 hole admitted such hosts allow-all with
        zero delay); the rules mark 'disallowed', the seen set
        'duplicate', and the rest enter as 'pending'."""
        P = self._plan
        bad = cand.filter(F.col("host").isNull()).withColumns(P["bad_cols"])
        gen.eager(self._ensure_robots, cand)
        ok = apply_robots_rules(
            cand.filter(F.col("host").isNotNull()), self._robots_rules,
            compiled=P["robots"],
        )
        checked = self._seen_filter(
            ok.unionByName(bad, allowMissingColumns=True), gen.g
        )
        return checked.withColumn("status", P["status_col"]).select(
            *_frontier_cols()
        )

    # ---------------------------------------------------------------- fetch
    def _fetch_http(
        self, batch: DataFrame, gen: _Generation, leaf: bool = False,
    ) -> DataFrame:
        """Pooled-HTTP fetch seam (fetch_mode='http'): a (url[, host,
        crawl_delay]) batch → (url, html, host). Used for both the
        first-level dispatch fetch and the two-level second pass
        (``leaf=True``); a batch arriving without crawl_delay (the
        second pass sends bare URLs) gets it from the compacted robots
        rules so the per-host pacing holds on BOTH levels. Disallow
        rules are deliberately NOT applied here: the table path
        fetches whatever first-level URL exists in the pages table, and
        the two paths are pinned byte-identical — robots admission for
        frontier URLs happens at enqueue time instead.

        redirect_policy='strict': the fetch carries a ``redirect``
        column; cross-host 3xx targets are parked on ``gen.redirects``
        (a persisted split of the SAME fetch — one HTTP request per URL
        either way) for ``step`` to re-enqueue through admission, and
        the returned frame keeps the 3-column shape every downstream
        consumer expects. Leaf targets go to ``gen.leaf_redirects``
        instead: dropped, never enqueued (see CrawlConfig), counted
        per generation.

        revisit_after_s>0 (first level only): stored validators are
        attached per URL, 304 rows split onto ``gen.unchanged`` (→
        status 'unmodified'), and the fresh validators of every 200/304
        row are parked on ``gen.validators`` for the generation's
        validators delta."""
        from pyspark import StorageLevel

        from img_spark.operators.fetch import fetch_pages_http

        conditional = self._conditional and not leaf
        if "host" not in batch.columns:
            batch = batch.withColumn("host", host_of(F.col("url")))
        if self._live_robots:
            # dispatch pacing must track the CURRENT rules: a row's
            # stored crawl_delay was frozen at enqueue time, which is
            # wrong after a TTL refresh and absent for checkpoints
            # resumed from before the rules existed — re-derive it
            # (and fetch rules for any still-unknown host) every batch
            gen.eager(self._ensure_robots, batch)
            batch = batch.drop("crawl_delay")
        if "crawl_delay" not in batch.columns:
            batch = apply_robots_rules(
                batch, self._robots_rules, compiled=self._plan["robots"]
            ).drop("allowed")
        if conditional:
            # persist the attach: the fetch consumes it now, and the
            # validators-delta build joins back to it for each URL's
            # PREVIOUS interval (the AIMD update input) — without the
            # persist that join would re-run the store semi-scan
            batch = gen.keep(self._dispatch_validators(batch, gen).persist())
            if "stored" in batch.columns:
                gen.stored = batch
        out = fetch_pages_http(
            batch,
            user_agent=self.cfg.http_user_agent,
            timeout_s=self.cfg.http_timeout_s,
            connect_to=self.cfg.http_connect_to,
            partitions=self.cfg.partitions,
            retries=self.cfg.http_retries,
            cross_host_redirects=self.cfg.redirect_policy,
            conditional=conditional,
        )
        strict = self.cfg.redirect_policy == "strict"
        if not (strict or conditional):
            return out
        # persist the raw fetch ONCE: the page rows and the
        # redirect/unchanged/validator rows are multiple consumers, and
        # a live fetch must never re-run per consumer (same contract as
        # _fetch_extract's fetch cache)
        out = gen.keep(out.persist(StorageLevel.MEMORY_AND_DISK))
        if strict:
            (gen.leaf_redirects if leaf else gen.redirects).append(
                out.filter(F.col("redirect").isNotNull()).select(
                    F.col("url").alias("parent_url"),
                    F.col("redirect").alias("url"),
                )
            )
        if conditional:
            gen.unchanged.append(out.filter(F.col("unchanged")).select("url"))
            # fresh stamps for everything the wire confirmed: 200
            # bodies carry the response's validators, 304s restamp
            # the (possibly refreshed) ones we sent
            gen.validators.append(
                out.filter(
                    F.col("html").isNotNull() | F.col("unchanged")
                ).select("url", "host", "etag", "last_modified", "unchanged")
            )
        return out.filter(F.col("html").isNotNull()).select(
            "url", "html", "host"
        )

    # ------------------------------------------------------------- backoff
    def _backoff_budgets(self) -> DataFrame | None:
        """Per-host failure circuit breaker (``backoff_failures`` > 0):
        hosts with that many fetch_failed rows in the PREVIOUS
        generation's delta get budget 0 for this generation (their
        pending rows are held, not lost). Self-clearing pulse: a host
        skipped in generation g produces no g-failures, so it resumes
        in g+1 — a failing host degrades to half dispatch pressure
        with zero extra state (the signal is the one status=
        fetch_failed subdir the loop just wrote, a delta-sized read).
        Merged with the static ``host_budgets`` overrides through the
        same broadcast; the politer (minimum) budget wins. A
        compaction directly after a generation folds that delta away
        and the breaker skips one pulse — benign (one extra dispatch
        attempt), noted so the gap isn't mistaken for a bug."""
        n = self.cfg.backoff_failures
        if not n or self.generation < 1:
            return self.host_budgets
        p = self._p(
            "frontier", f"g{self.generation}", "status=fetch_failed"
        )
        if not fsio.isdir(p):
            return self.host_budgets
        bad = (
            self.spark.read.schema(_DDL_NO_STATUS).parquet(p)
            .groupBy("host").count()
            .filter(F.col("count") >= n)
            .select("host", F.lit(0).alias("budget"))
        )
        if self.host_budgets is None:
            return bad
        return self.host_budgets.select("host", "budget").unionByName(bad)

    # ---------------------------------------------------------------- step
    def step(self) -> dict:
        """Advance the crawl one generation: the phases of the module
        docstring over one ``_Generation``, then the atomic manifest
        commit. Every frame a phase persisted is released on any exit,
        an exception included — a retried generation must not inherit
        the failed attempt's caches for the life of the session."""
        gen = _Generation(self.generation + 1)
        try:
            dispatch, held = self._dispatch(gen)
            results = self._fetch_extract(dispatch, gen)
            terminal, red_all = self._classify_misses(results, dispatch, gen)
            extracted, counts = self._write(
                gen, results, dispatch, held, terminal, red_all
            )
            t_post0 = time.time()
            extra = self._post(extracted, gen)
        finally:
            gen.release()
        gen.times["post"] = time.time() - t_post0
        # per-phase wall times ride in the manifest (S8 lineage + the
        # feedback loop for tuning per-generation overhead)
        self.last_step_times = {k: round(v, 3) for k, v in gen.times.items()}
        stats = self._commit_generation(
            gen.g, {"step_times": self.last_step_times, **extra}, counts
        )
        self.generation = gen.g
        for st in self._gated_stores:  # after the commit (see DeltaStore)
            st.maybe_compact()
        return stats

    def _dispatch(self, gen: _Generation):
        """Phase 1: the previous generation's pending rows (plus the
        revisits a sweep generation re-enqueues) → per-host top-K
        dispatch. Returns (dispatch, held): the rows fetched this
        generation and the rows that stay pending."""
        # only the status=pending subdir of the previous generation is
        # opened — the terminal-status history is never touched
        pending = read_pending(
            self.spark, self.cfg.checkpoint_dir, self.generation
        )
        if self._conditional and gen.g % max(self.cfg.revisit_every, 1) == 0:
            pending = self._inject_revisits(pending, gen)
        if self.host_scores is not None:
            # link-graph (or operator-supplied) priority: attach each
            # pending row's host score so priority_score expressions
            # can rank by it. Duplicate score rows collapse to the max
            # (the strongest endorsement wins); unknown hosts score
            # 0.0. One broadcast join — pending never shuffles for it.
            scores = self.host_scores.groupBy("host").agg(
                F.max("score").alias("host_score")
            )
            pending = pending.join(
                F.broadcast(scores), "host", "left"
            ).withColumn(
                "host_score",
                F.coalesce(F.col("host_score"), F.lit(0.0)),
            )
        host_budgets = self._backoff_budgets()
        if self.cfg.dispatch_salts:
            from img_spark.operators.politeness import dispatch_top_k_salted

            marked = dispatch_top_k_salted(
                pending, self.cfg.host_budget, self.cfg.batch_window_s,
                order=self.cfg.priority, salts=self.cfg.dispatch_salts,
                score=self.cfg.priority_score,
                host_budgets=host_budgets,
            )
        else:
            marked = dispatch_top_k(
                pending, self.cfg.host_budget, self.cfg.batch_window_s,
                order=self.cfg.priority,
                score=self.cfg.priority_score,
                host_budgets=host_budgets,
            )
        if self.cfg.global_budget:
            from img_spark.operators.politeness import dispatch_global_cap

            # fleet capacity: the generation fetches at most
            # global_budget URLs, highest priority first (see
            # CrawlConfig.global_budget); cut rows stay pending
            marked = dispatch_global_cap(
                marked, self.cfg.global_budget,
                order=self.cfg.priority, score=self.cfg.priority_score,
            )
        # the politeness-window output feeds five plans (fetch
        # broadcast, results join, miss anti-join, held rows in the
        # state write, optional bucket collect) — persist it once
        # instead of re-running the pending scan + window per consumer;
        # it is host_budget-bounded + held rows (pending-sized, the
        # same data the loop reads/writes anyway)
        marked = gen.keep(marked.persist())
        return (
            marked.filter(F.col("dispatch")).drop("dispatch"),
            marked.filter(~F.col("dispatch")).drop("dispatch"),
        )

    def _fetch_extract(
        self, dispatch: DataFrame, gen: _Generation
    ) -> DataFrame:
        """Phase 2: fetch the dispatch batch (archived as WARC when
        ``archive_dir`` is set), attach site config, extract (+ the
        second-level pass). Returns the per-page results joined back to
        their frontier rows, cached: the extract and state writes both
        consume them.

        Table mode fetches with an INNER join against the small
        dispatch batch broadcast — the pages table is scanned exactly
        once, with no shuffle of the big side (a left-outer join could
        NOT broadcast its outer side and would fall back to a full
        sort-merge shuffle of pages); ``_classify_misses`` recovers the
        misses with a batch-sized anti-join. fetch_mode='http' swaps
        the join for ``_fetch_http`` — identical (url, html, host)
        shape, so everything downstream is unchanged (main.rs:83-111
        is the reference behavior)."""
        from pyspark import StorageLevel

        if self.cfg.fetch_mode == "http":
            fetched = self._fetch_http(
                dispatch.select("url", "host", "crawl_delay"), gen
            )
            if not (self.cfg.redirect_policy == "strict" or self._conditional):
                # persist UNCONDITIONALLY (disk-backed): the extracted
                # and state sinks are two concurrent consumers, and a
                # task retry or cache eviction must never re-execute a
                # live fetch mid-generation — re-hitting hosts breaks
                # pacing and a replayed fetch can return different rows
                # on shuffle replay (ONE fetch per URL per generation,
                # archived or not). In strict/revisit mode _fetch_http
                # already persisted the RAW fetch; persisting this
                # projection again would hold every body twice.
                fetched = gen.keep(
                    fetched.persist(StorageLevel.MEMORY_AND_DISK)
                )
        else:
            pages = self.pages
            if self.cfg.pages_buckets:
                # bucket-pruned scan: dispatch is host_budget-bounded
                # (small enough to cache at any scale); its distinct
                # url-hash buckets become a partition filter so the
                # fetch only opens the files this batch's URLs can
                # live in
                from img_spark.sources.tables import PAGES_BUCKET_COL

                mods = gen.eager(
                    batch_buckets, dispatch, "url", self.cfg.pages_buckets
                )
                pages = pages.filter(F.col(PAGES_BUCKET_COL).isin(mods))
            # the scan reads warc_ts only when archiving needs it —
            # otherwise column pruning keeps the fetch join two-column
            cols = ["url", "html"] + (
                ["warc_ts"] if self.cfg.archive_dir else []
            )
            fetched = pages.select(*cols).join(
                F.broadcast(dispatch.select("url", "host")), "url", "inner"
            )
        if self.cfg.archive_dir:
            from img_spark.operators.sink import write_warc_archives

            if self.cfg.fetch_mode == "http":
                # live fetch: capture time IS the fetch time
                arch = fetched.withColumn("warc_ts", F.current_timestamp())
            else:
                # the archive write and the extraction are two
                # consumers — persist so pages is scanned once
                fetched = arch = gen.keep(fetched.persist())
            write_warc_archives(
                arch, fsio.join(self.cfg.archive_dir, f"g{gen.g}")
            )
            fetched = fetched.drop("warc_ts")
        results = extract_pages(
            attach_site_config(fetched, self._cfg_col),
            album_policy=self.cfg.album_policy,
            main_text=self.cfg.main_text,
        )
        if self.has_two_level:
            # cache the first-level extraction: the second-level pass
            # reads it twice (bucket derivation + the merge self-join) —
            # without the cache the Arrow extract UDF would run twice
            first_level = gen.keep(results.persist())
            results = resolve_second_level(
                first_level, self.pages, pages_buckets=self.cfg.pages_buckets,
                compiled=self._plan["second"],
                eager=gen.eager,
                fetch_fn=(
                    functools.partial(self._fetch_http, gen=gen, leaf=True)
                    if self.cfg.fetch_mode == "http" else None
                ),
            )
        return gen.keep(results.join(
            F.broadcast(dispatch.select(
                "url", "host", "depth", "path", "parent_url"
            )),
            "url", "left",
        ).cache())

    def _classify_misses(
        self, results: DataFrame, dispatch: DataFrame, gen: _Generation
    ):
        """Phase 3: a dispatched URL without a result row is
        'fetch_failed' (absent from the pages table, main.rs:105-108),
        unless it redirected cross-host in strict mode ('redirected' —
        not a failure, see STATUSES) or answered 304 ('unmodified':
        CONFIRMED fresh, never re-extracted, never fed to the backoff
        breaker). Returns the terminal (frame, status) pairs — the
        fetched pages first — and the strict-mode redirect targets
        (None otherwise)."""
        failed = dispatch.join(
            F.broadcast(results.select("url")), "url", "left_anti"
        )
        redirected = unmodified = None
        # strict mode: the per-fetch redirect batches fold ONCE — this
        # split and the candidate re-enqueue consume the same union
        red_all = _union(gen.redirects)
        if red_all is not None:
            red_parents = F.broadcast(
                red_all.select(F.col("parent_url").alias("url")).distinct()
            )
            redirected = failed.join(red_parents, "url", "left_semi")
            failed = failed.join(red_parents, "url", "left_anti")
        if gen.unchanged:
            u_urls = F.broadcast(_union(gen.unchanged).distinct())
            unmodified = failed.join(u_urls, "url", "left_semi")
            failed = failed.join(u_urls, "url", "left_anti")
        if gen.stored is not None:
            # failed-revisit restamp: a STORED URL whose refetch failed
            # (transport error, or cross-host redirect in strict mode)
            # writes no 200/304 validator row, so without a restamp its
            # old stamp makes it due at EVERY sweep — refetching a dead
            # URL at the sweep cadence instead of the revisit cadence
            # and appending a terminal row per generation unboundedly.
            # Back the clock off instead (same multiplicative increase
            # as a 304 — server trouble is a reason to slow down),
            # keeping etag/last_modified so a recovered server can
            # still answer 304. First-visit failures have no store row
            # (stored is NULL) and stay one-shot terminal as before.
            miss = failed.select("url")
            if redirected is not None:
                miss = miss.unionByName(redirected.select("url"))
            prev, _, _, mx = self._revisit_clamp("interval_s")
            gen.validators.append(
                gen.stored.filter(F.col("stored"))
                .join(F.broadcast(miss), "url", "left_semi")
                .join(
                    F.broadcast(dispatch.select("url", "depth", "path")),
                    "url", "inner",
                )
                .select(
                    "url", "host", "depth", "path", "etag",
                    "last_modified",
                    F.lit(time.time()).alias("fetched_at"),
                    F.least(prev * 2, mx).alias("interval_s"),
                )
            )
        terminal = [
            (results, "fetched"), (failed, "fetch_failed"),
            (redirected, "redirected"), (unmodified, "unmodified"),
        ]
        return terminal, red_all

    def _discovered(
        self, results: DataFrame, dispatch: DataFrame, red_all, g: int
    ) -> DataFrame:
        """Candidate rows found by this generation: albums (document
        order), then next links, then — strict redirect policy — the
        parked cross-host redirect targets as kind='redirect'. Every
        kind goes through the same admission (``_admit``)."""
        P = self._plan
        albums = results.select(*P["albums_cols"]).withColumns(
            P["albums_with"]
        )
        nxt = results.filter(F.col("next_url") != "").select(
            *P["nxt_cols"]
        ).withColumns(P["nxt_with"])
        cand = albums.unionByName(nxt).select(
            *P["cand_pre"], F.lit(g).alias("generation")
        )
        if red_all is None:
            return cand
        # depth/path come from the redirecting frontier row (fan-out is
        # 1 per parent, so the fixed 'fffffffe' child seq is unique and
        # sorts after every album/next child)
        return cand.unionByName(red_all.join(
            F.broadcast(dispatch.select(
                F.col("url").alias("parent_url"), "depth",
                F.col("path").alias("ppath"),
            )),
            "parent_url", "inner",
        ).select(
            F.col("url"),
            F.col("url").alias("url_canon"),
            host_of(F.col("url")).alias("host"),
            "depth",
            F.concat(F.col("ppath"), F.lit("fffffffe")).alias("path"),
            "parent_url",
            F.lit("redirect").alias("kind"),
            F.lit(g).alias("generation"),
        ))

    def _write(
        self, gen: _Generation, results: DataFrame, dispatch: DataFrame,
        held: DataFrame, terminal: list, red_all,
    ):
        """Phase 5: the extracted delta, the frontier state (held ∪
        terminal delta ∪ admitted candidates) and — revisit mode — the
        validators delta, written as concurrent jobs. Returns
        (extracted, state-write status counts).

        The extracted-delta write is submitted FIRST, before the
        candidate/state chains are even constructed (r8): the extract
        job's stages (broadcast build -> fetch join -> Arrow extract ->
        explode -> write) execute on the cluster WHILE the driver
        spends its ~0.5-1 s of py4j/Catalyst analysis building the
        frontier-state plan — overlapping the two instead of paying
        plan-then-execute serially. The state write follows, so the
        write wall is max(extract, state) instead of their sum, and the
        state job's probe shuffle overlaps the extract job's commit
        I/O. The shared ``results`` cache fills as the first job's
        tasks complete; under the default FIFO scheduler the extract
        job (submitted first) holds the cores for its extraction stage,
        so the state job's results-dependent tasks mostly read the
        cache — duplicate extraction is bounded by the scheduling tail,
        not the batch (measured: concurrent beats
        materialize-then-write by ~20% per generation).

        Every exit after the first submit — an exception while the
        state plan is still being built included — waits for the
        submitted writes and shuts the pool down: a retried generation
        must never race an orphaned overwrite of extracted/g{g}. A
        completed-but-uncommitted extracted dir is exactly the
        crash-mid-write case the manifest visibility contract covers."""
        from concurrent.futures import ThreadPoolExecutor

        from img_spark.operators.sink import with_download_columns

        g, P = gen.g, self._plan
        # per-page counters ride along (constant per page, repeated per
        # img row) — the per-host metrics table is a read-side
        # aggregate over this delta (metrics_df) instead of a third
        # write job; the downloads sink columns (S4) ride along too
        # (the downloads "table" is the non-null-filename projection).
        # Column lists precompiled; only the generation literal is
        # fresh per step.
        extracted = with_download_columns(
            results.select(
                *P["ext1_pre"], F.lit(g).alias("generation"), *P["ext1_post"]
            ).select(*P["ext2"]),
            P["dl_cols"],
        )
        ext_path = self._p("extracted", f"g{g}")
        pool = ThreadPoolExecutor(3)
        t_submit0 = time.time()
        fut_e = pool.submit(
            _timed, lambda: extracted.write.mode("overwrite").parquet(ext_path)
        )
        try:
            new_rows = self._admit(
                self._discovered(results, dispatch, red_all, g), gen
            )
            # ONE status-partitioned write per generation: rewritten
            # pending (held + newly admitted) + this generation's
            # terminal delta. History is NOT rewritten — it lives in
            # earlier generations' dirs.
            done = self._terminal_rows(terminal, gen)
            state = (
                held.select(*_frontier_cols())
                .unionByName(done.select(*_frontier_cols()))
                .unionByName(new_rows)
            )
            val_delta = self._validators_delta(dispatch, gen)
            # plan = pure driver-side construction (py4j + eager
            # Catalyst analysis); eager Spark work inside the window is
            # accounted separately (gen.eager) so the attribution in
            # BENCH/CRAWL_OVERHEAD.md measures what it names. The
            # extract write runs UNDER the tail of this window, so
            # `plan` and `writes_wall` overlap by (now - t_submit0);
            # `writes_wall` is measured from the FIRST submit to keep
            # it the true wall of the write phase.
            gen.times["plan"] = time.time() - gen.t0 - gen.eager_s
            gen.times["eager"] = gen.eager_s
            fut_s = pool.submit(_timed, self._write_state, state, g)
            fut_v = None
            if val_delta is not None:
                fut_v = pool.submit(_timed, self._validators.append, val_delta)
            gen.times["extract"] = fut_e.result()[1]
            counts, gen.times["state"] = fut_s.result()
            if fut_v is not None:
                # recorded by THIS generation's manifest (see DeltaStore)
                self._validators.committed, gen.times["validators"] = (
                    fut_v.result()
                )
        finally:
            pool.shutdown(wait=True)
        gen.times["writes_wall"] = time.time() - t_submit0
        return extracted, counts

    def _terminal_rows(self, terminal: list, gen: _Generation) -> DataFrame:
        """This generation's terminal delta: the (frame, status) pairs
        of ``_classify_misses`` through one builder, then the revisit
        sweep's ready-made 'disallowed' rows."""
        parts = []
        for df, status in terminal:
            if df is not None:
                pre, post = self._plan["terminal"][status]
                parts.append(
                    df.select(*pre, F.lit(gen.g).alias("generation"), *post)
                )
        return _union(parts + gen.terminal)

    def _validators_delta(self, dispatch: DataFrame, gen: _Generation):
        """Revisit mode: this generation's validators delta (None when
        nothing was stamped) — the response validators of every
        200/304 (depth/path from the dispatch row) plus the restamps
        of the sweep and of failed revisits, which arrive complete.

        AIMD interval update (CrawlConfig.revisit_min_s/max_s): a first
        fetch starts at the base TTL, a 304 doubles the previous
        interval (capped), changed content halves it (floored) — the
        previous interval clamped into the CURRENT bounds first, so
        reconfigured min/max take effect immediately."""
        if not gen.validators:
            return None
        now = time.time()
        prev = F.col("prev_interval")
        prev_c, base, mn, mx = self._revisit_clamp("prev_interval")
        interval = (
            F.when(prev.isNull(), base)
            .when(F.col("unchanged"), F.least(prev_c * 2, mx))
            .otherwise(F.greatest(prev_c / 2, mn))
        )
        prev_ints = F.broadcast(
            gen.stored.select(
                "url", F.col("interval_s").alias("prev_interval")
            ) if gen.stored is not None else dispatch.select(
                "url", F.lit(None).cast("double").alias("prev_interval")
            )
        )
        rows = F.broadcast(dispatch.select("url", "depth", "path"))
        return _union([
            v if "fetched_at" in v.columns else (
                v.join(rows, "url", "inner")
                .join(prev_ints, "url", "left")
                .select(
                    "url", "host", "depth", "path", "etag", "last_modified",
                    F.lit(now).alias("fetched_at"),
                    interval.alias("interval_s"),
                )
            )
            for v in gen.validators
        ])

    def _post(self, extracted: DataFrame, gen: _Generation) -> dict:
        """Phase 6, after the writes and while the generation's caches
        are still live: record the seen blobs the probe wrote, run the
        media download stage and count the dropped leaf redirects.
        Returns the manifest extras."""
        self._refresh_seen_blobs(gen.g)
        extra: dict = {}
        if self.cfg.media_dir:
            # consumes the still-cached extraction; after the
            # frontier/extracted sinks (their write bandwidth first)
            # and BEFORE the manifest commit so media_seen_max rides
            # the same atomic commit
            t_m = time.time()
            extra.update(self._fetch_media(extracted, gen))
            extra["media_wall_s"] = round(time.time() - t_m, 3)
        # strict mode drops second-level cross-host redirect targets by
        # design (leaf fetches, CrawlConfig) — counted off the live
        # fetch caches so the drop is observable in the manifest
        # rather than silent (round-6 verdict item 5)
        dropped = sum(df.count() for df in gen.leaf_redirects)
        if dropped:
            extra["second_level_redirects_dropped"] = dropped
        return extra

    def _commit_generation(self, g: int, extra: dict, counts: dict) -> dict:
        """Fold this generation's status counts (the state write's
        observation) into the cumulative totals, commit the manifest
        atomically, THEN publish the totals. A retried generation
        recomputes from the last committed totals."""
        counts = dict(counts)
        pending = counts.pop("pending", 0)
        totals = dict(self.status_totals)
        for status, n in counts.items():
            totals[status] = totals.get(status, 0) + n
        stats = dict(totals)
        if pending:
            stats["pending"] = pending
        self._commit_manifest(g, {"frontier_status": stats, **extra})
        self.status_totals = totals
        return stats

    # ---------------------------------------------------------------- run
    def run(self, seeds=None, max_generations=None) -> dict:
        if seeds is not None:
            self.init(seeds)
        limit = max_generations or self.cfg.max_generations
        stats: dict = {}
        for _ in range(limit):
            stats = self.step()
            if (
                self.cfg.compact_every
                and self.generation % self.cfg.compact_every == 0
            ):
                self.compact(prune=True)
            if stats.get("pending", 0) == 0:
                break
        return stats

    # ---------------------------------------------------------------- seen
    def _seen_filter(self, cand: DataFrame, g: int) -> DataFrame:
        """Adds ``is_new``. Only allowed, unstatused rows are probed
        (rejected/disallowed rows never enter the seen set — the
        reference never fetched them either). ``cand`` must carry
        ``status`` (nullable) and ``allowed`` columns."""
        # salt and h64 both derive from urlexprs.url_hash (the salt
        # must shard by the hash the blobs are probed with). The salt
        # is built per call: cfg.partitions may be adjusted after
        # construction (tests do) — but it rides in the SAME
        # withColumns dict as h64 (one DataFrame op, one analysis pass)
        cand = cand.withColumns({
            **self._plan["seen_cols"],
            "salt": url_bucket(F.col("url_canon"), self.cfg.partitions),
        })
        probe_cond = self._plan["probe_cond"]
        probe = cand.filter(probe_cond)
        skip = cand.filter(~probe_cond).withColumn("is_new", F.lit(False))

        if self.cfg.seen_mode == "exact":
            return self._seen_filter_exact(probe, skip)

        blob_in = dict(self.seen_blobs)
        out_dir = self._p("seen", f"g{g}")
        capacity = self.cfg.cuckoo_capacity
        # note: StructType.add mutates in place — never call it on a
        # DataFrame's live .schema object. The probe schema is
        # generation-invariant for a constructed Crawler (candidate
        # columns are fixed by config at __init__), and fetching
        # .schema costs a py4j round-trip serializing the full analyzed
        # schema — cache it per instance.
        schema = self._probe_schema
        if schema is None:
            schema = self._probe_schema = StructType(
                list(probe.schema.fields)
                + [StructField("is_new", BooleanType())]
            )

        def run_probe(key, pdf):
            salt = int(key[0])
            # retry-idempotent: load the PREVIOUS generation's blob, write
            # a fresh versioned blob for this generation
            f = CuckooFilter.load(blob_in.get(str(salt), ""), capacity)
            # DFS-first occurrence wins among intra-batch duplicates
            pdf = pdf.sort_values("path", kind="mergesort").reset_index(drop=True)
            pdf["is_new"] = f.probe_and_insert(pdf["h64"].to_numpy())
            f.save(fsio.join(out_dir, f"part-{salt}.bin"))
            return pdf

        probed = probe.groupBy("salt").applyInPandas(run_probe, schema=schema)
        # seen_blobs is refreshed AFTER the action that runs the probe
        # (see _refresh_seen_blobs) — no extra Spark job here
        return probed.unionByName(skip).drop("h64", "salt")

    def _refresh_seen_blobs(self, g: int) -> None:
        """Record the filter blobs the probe UDF wrote for generation g
        (the write happened inside the frontier-snapshot action)."""
        if self.cfg.seen_mode != "cuckoo":
            return
        out_dir = self._p("seen", f"g{g}")
        for fn in fsio.listdir(out_dir):
            if fn.startswith("part-") and fn.endswith(".bin"):
                salt = fn[len("part-"):-len(".bin")]
                self.seen_blobs[salt] = fsio.join(out_dir, fn)

    def _seen_filter_exact(self, probe: DataFrame, skip: DataFrame) -> DataFrame:
        """Exact anti-join backstop (test-scale oracle for the cuckoo
        path; membership equality between both modes is pinned by tests).
        Collects the per-batch new-URL list to the driver BEFORE
        appending to the seen table — a lazy re-read after append would
        flip is_new."""
        from pyspark.sql import Window

        seen_path = self._p("seen_exact")
        new = probe
        if fsio.isdir(seen_path):  # absent until the first append
            # read errors propagate: treating an unreadable seen table
            # as empty would re-crawl the whole frontier
            seen = self.spark.read.schema("seen_url string").parquet(
                seen_path
            ).distinct()
            new = probe.join(
                seen, probe["url_canon"] == seen["seen_url"], "left_anti"
            )
        new_list = [r["url_canon"] for r in new.select("url_canon").distinct().collect()]
        # hard cap: exact mode is the TEST-SCALE oracle backstop; a real
        # crawl must run seen_mode='cuckoo' (no driver-side collect)
        if len(new_list) > 1_000_000:
            raise RuntimeError(
                f"seen_mode='exact' collected {len(new_list)} URLs to the "
                "driver — this mode is a test-scale oracle; use "
                "seen_mode='cuckoo' for production crawls"
            )
        if new_list:
            self.spark.createDataFrame(
                [(u,) for u in new_list], "seen_url string"
            ).write.mode("append").parquet(seen_path)
        w = Window.partitionBy("url_canon").orderBy("path")
        out = probe.withColumn(
            "is_new",
            (F.col("url_canon").isin(new_list) if new_list else F.lit(False))
            & (F.row_number().over(w) == 1),
        )
        return out.unionByName(skip).drop("h64", "salt")

    # ---------------------------------------------------------------- io
    def _write_state(self, df: DataFrame, g: int) -> dict:
        """One status-partitioned write per generation: the rewritten
        pending set + this generation's terminal delta. 'overwrite'
        keeps a retried generation idempotent; history lives in earlier
        generations' dirs and is never rewritten.

        Returns the per-status row counts, collected with an
        ``Observation`` riding the write action itself — zero extra
        jobs and zero post-hoc footer reads (the old footer pass opened
        every written file from the driver: O(files) round-trips per
        generation, and worse on object stores).

        The pre-write ``coalesce`` merges the union's inherited
        partition fan-in (held ∪ done ∪ new_rows stack ~4× the shuffle
        width) down to ``cfg.partitions`` write tasks — a narrow
        dependency, no shuffle; at production scale cfg.partitions is
        sized to the cluster (the salt-shard count), so write
        parallelism is never capped below it."""
        from pyspark.sql import Observation

        obs = Observation(f"state-g{g}")
        df = df.coalesce(self.cfg.partitions).observe(
            obs, *self._plan["obs_cols"]
        )
        df.write.mode("overwrite").partitionBy("status").parquet(
            self._p("frontier", f"g{g}")
        )
        return {k: v for k, v in obs.get.items() if v}

    def _commit_manifest(self, g: int, extra: dict) -> None:
        m = {
            "generation": g,
            "frontier": self._p("frontier", f"g{g}"),
            "seen_blobs": dict(self.seen_blobs),
            "seen_mode": self.cfg.seen_mode,
            # curation reads this to refuse text_source='main' on a
            # checkpoint whose main_text column is all-empty (the
            # column itself is always in the delta schema)
            "main_text": bool(self.cfg.main_text),
            "ts": time.time(),
            **extra,
        }
        for st in self._gated_stores:
            # each gated store's visibility floor rides the same atomic
            # commit as the rest of the generation's state
            m[st.manifest_key] = st.committed
        # atomic commit on any pyarrow.fs scheme (rename locally, one
        # PUT on object stores)
        fsio.write_bytes_atomic(
            self._manifest_path(g), json.dumps(m).encode()
        )

    def resume(self, generation: int | None = None) -> int:
        """Load the latest (or a specific) committed manifest; returns
        its generation. Fails LOUDLY when the target generation's
        pending snapshot has been pruned by a later compaction — a
        silent empty frontier would make the resumed crawl "complete"
        instantly."""
        gens = []
        for fn in fsio.listdir(self.cfg.checkpoint_dir):
            if fn.startswith("manifest-g") and fn.endswith(".json"):
                gens.append(int(fn[len("manifest-g"):-len(".json")]))
        if not gens:
            raise FileNotFoundError("no manifest to resume from")
        g = max(gens) if generation is None else generation
        if g not in gens:
            raise FileNotFoundError(f"no manifest for generation {g}")
        m = json.loads(fsio.read_bytes(self._manifest_path(g)))
        if m.get("frontier_status", {}).get("pending", 0) and not fsio.isdir(
            self._p("frontier", f"g{g}", "status=pending")
        ):
            raise RuntimeError(
                f"generation {g} had pending URLs but its pending "
                "snapshot has been pruned by a later compaction — "
                "resume from the latest manifest instead"
            )
        missing = [
            p for p in m["seen_blobs"].values() if p and not fsio.exists(p)
        ]
        if missing:
            raise RuntimeError(
                f"generation {g}'s manifest references {len(missing)} "
                "seen-filter blobs pruned by a later compaction (e.g. "
                f"{missing[0]}) — resume from the latest manifest instead"
            )
        self.generation = g
        self.seen_blobs = m["seen_blobs"]
        self.status_totals = {
            k: v
            for k, v in m.get("frontier_status", {}).items()
            if k != "pending"
        }
        # restore each gated store's visibility floor and delete the
        # deltas a crashed (never-committed) step left behind; manifests
        # older than g are read lazily, once, for the floor walk-back
        older = sorted((x for x in gens if x < g), reverse=True)
        cache: dict = {}

        def manifests():
            yield m
            for og in older:
                if og not in cache:
                    try:
                        cache[og] = json.loads(
                            fsio.read_bytes(self._manifest_path(og))
                        )
                    except (OSError, ValueError):
                        cache[og] = {}
                yield cache[og]

        for st in self._gated_stores:
            st.resume(manifests())
        return g

    def frontier_df(self) -> DataFrame:
        """Full frontier view at the current generation (see
        ``read_frontier``)."""
        return read_frontier(self.spark, self.cfg.checkpoint_dir, self.generation)

    def compact(self, prune: bool = False) -> str:
        """Periodic compaction of the log-structured frontier: merge the
        terminal-status history (previous compaction + per-generation
        deltas) up to the current generation into ONE status-partitioned
        directory. ``read_frontier`` then opens the compaction + only
        the deltas written since — O(1 + gens-since-compaction) dirs
        instead of O(all gens). With ``prune=True`` the superseded
        per-generation dirs (stale pending snapshots + merged terminal
        deltas) are deleted only after the new compaction dir carries
        its _SUCCESS commit marker — a crash mid-write leaves a partial
        dir that ``_compaction_floor`` ignores and the next compaction
        overwrites; nothing is ever pruned on the strength of an
        uncommitted compaction."""
        g = self.generation
        if self._robots_store is not None and self._robots_store.compact():
            self._reload_robots()
        for st in self._gated_stores:
            st.compact()
        floor = _compaction_floor(self.cfg.checkpoint_dir)
        if floor > g:
            # already compacted through this generation — a second call
            # would read compacted/g{g} and overwrite that same path in
            # one job (AnalysisException at best, loss of the merged
            # terminal history at worst). Idempotent no-op instead.
            return self._p("compacted", f"g{floor - 1}")
        df = _union(
            _terminal_history(self.spark, self.cfg.checkpoint_dir, g)
        )
        if df is None:
            return ""
        out = self._p("compacted", f"g{g}")
        df.write.mode("overwrite").partitionBy("status").parquet(out)
        # explicit commit marker (also written by Spark's job committer;
        # written again here so the protocol doesn't depend on the
        # mapreduce marksuccessfuljobs setting)
        fsio.write_bytes_atomic(fsio.join(out, "_SUCCESS"), b"")
        if prune:
            # validate the commit before destroying anything it supersedes
            if not fsio.exists(fsio.join(out, "_SUCCESS")):
                raise RuntimeError(
                    f"compaction {out} missing its _SUCCESS marker — "
                    "refusing to prune"
                )
            for i in range(g):  # old gens: pending stale, terminal merged
                fsio.rmtree(self._p("frontier", f"g{i}"))
            cur = self._p("frontier", f"g{g}")
            for entry in fsio.listdir(cur):  # current gen: keep pending only
                if entry.startswith("status=") and entry != "status=pending":
                    fsio.rmtree(fsio.join(cur, entry))
            if floor > 0:
                fsio.rmtree(self._p("compacted", f"g{floor - 1}"))
            # seen-blob GC: each generation's probe writes fresh blob
            # versions under seen/g{i}; only the versions the CURRENT
            # manifest references are live state (a salt idle for many
            # generations keeps pointing at an old dir — those dirs
            # survive). Without this, blob dirs grow O(P·G): 10^4
            # generations × 4096 salts of dead filter versions.
            live = {
                blob.rsplit("/", 2)[-2]
                for blob in self.seen_blobs.values()
            }
            seen_base = self._p("seen")
            for entry in fsio.listdir(seen_base):
                if (
                    entry.startswith("g") and entry[1:].isdigit()
                    and int(entry[1:]) < g and entry not in live
                ):
                    fsio.rmtree(fsio.join(seen_base, entry))
        return out


def _union(frames: list):
    """unionByName fold over the non-None ``frames`` (None when none
    remain)."""
    frames = [f for f in frames if f is not None]
    if not frames:
        return None
    return functools.reduce(lambda a, b: a.unionByName(b), frames)


def _timed(fn, *args):
    """(fn(*args), wall seconds) — the shape of every write future."""
    t = time.time()
    out = fn(*args)
    return out, time.time() - t


def _frontier_cols():
    return [
        "url", "url_canon", "host", "depth", "path", "parent_url", "kind",
        "status", "generation", "crawl_delay",
    ]
