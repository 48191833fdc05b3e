"""Crawl checkpoint → curated training corpus (the end-to-end story:
the same engine that crawls the pages also prepares them for training).

``build_corpus`` reads the crawl's extracted deltas (the per-generation
parquet the loop already writes — no re-crawl, no re-parse), reduces
them to one document per fetched page, and runs the training-data
operators over them in the composition a 100-TB pipeline ships:
quality gates → language ID → exact dedup → (optional) benchmark
decontamination → deterministic stratified sampling, every flag kept
so drops are auditable, written lang-partitioned.

Scale shape: quality/lang/token counts are ONE projection pass (pure
JVM expressions); exact dedup is the fingerprint window (one shuffle
on the fingerprint — at corpus scale the natural key to co-partition
by); decontamination broadcasts the benchmark gram set; sampling is a
pure hash projection (zero shuffle); the write partitions by lang.
Nothing here collects to the driver except the final summary counts.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from img_spark import fsio


def _committed_generations(checkpoint_dir: str) -> list:
    """Extracted-delta generations bounded by the newest COMMITTED
    manifest: an in-flight or crashed generation may have written a
    partial extracted/g{n} dir before its manifest landed — reading it
    would corrupt the corpus silently. Checkpoints without manifests
    (hand-built test inputs) are taken as-is."""
    base = fsio.join(checkpoint_dir, "extracted")
    gens = sorted(
        int(fn[1:]) for fn in fsio.listdir(base)
        if fn.startswith("g") and fn[1:].isdigit()
    )
    committed = [
        int(fn[len("manifest-g"):-len(".json")])
        for fn in fsio.listdir(checkpoint_dir)
        if fn.startswith("manifest-g") and fn.endswith(".json")
    ]
    if committed:
        gmax = max(committed)
        gens = [g for g in gens if g <= gmax]
    return gens


def crawl_documents(
    spark: SparkSession, checkpoint_dir: str, min_generation: int = -1,
    text_source: str = "full",
) -> DataFrame:
    """One row per successfully fetched page across every generation
    of a crawl checkpoint: (doc_id=page_url, host, title, text,
    generation). Reads only the extracted deltas, pruning to the
    page-level columns so the img rows' fan-out collapses map-side.
    A one-shot crawl extracts each URL once (seen-set); a REVISIT
    crawl (revisit_after_s>0) re-extracts changed pages into later
    generations — the NEWEST generation's row wins deterministically
    (struct-max on generation), so the corpus carries the freshest
    text and ``generation`` is the stamp of that text.
    ``min_generation`` (incremental mode) opens only deltas with
    generation > min_generation — an empty slice returns an empty
    frame instead of raising.

    ``text_source``: 'full' curates the full visible text (WET-style),
    'main' the readability-lite main content — requires the crawl to
    have run with ``CrawlConfig(main_text=True)`` (fails loudly on a
    checkpoint whose deltas lack the column)."""
    if text_source not in ("full", "main"):
        raise ValueError(f"text_source must be 'full'|'main', got"
                         f" {text_source!r}")
    base = fsio.join(checkpoint_dir, "extracted")
    gens = [
        g for g in _committed_generations(checkpoint_dir)
        if g > min_generation
    ]
    if not gens:
        if min_generation >= 0:
            return spark.createDataFrame(
                [],
                "doc_id string, host string, title string, text string,"
                " generation int",
            )
        raise FileNotFoundError(f"no committed extracted deltas under {base}")
    df = spark.read.parquet(*[fsio.join(base, f"g{g}") for g in gens])
    tcol = "extracted_text" if text_source == "full" else "main_text"
    if tcol not in df.columns:
        raise ValueError(
            f"text_source={text_source!r} but the extracted deltas under "
            f"{base} carry no {tcol} column — re-run the crawl with "
            "CrawlConfig(main_text=True) to curate main content"
        )
    if text_source == "main":
        # the column exists in every post-upgrade delta; whether it was
        # POPULATED is the crawl config's call, recorded in EACH
        # generation's manifest — check every generation in the read
        # range, not just the newest: a checkpoint that ran gens 1-5
        # with main_text=False and was resumed with main_text=True
        # would otherwise pass the guard and silently curate empty
        # text for every page whose newest row is in gens 1-5
        import json as _json

        off = []
        for gen in gens:
            mp = fsio.join(checkpoint_dir, f"manifest-g{gen}.json")
            try:
                m = _json.loads(fsio.read_bytes(mp))
            except (FileNotFoundError, OSError):
                off.append(gen)  # unknown config → refuse, don't guess
                continue
            if not m.get("main_text", False):
                off.append(gen)
        if off:
            raise ValueError(
                "text_source='main' but generation(s) "
                f"{off[:8]}{' ...' if len(off) > 8 else ''} of this "
                "checkpoint ran with CrawlConfig(main_text=False) — "
                "their main_text column is empty and pages newest in "
                "those generations would curate blank text; re-crawl "
                "them with main_text=True"
            )
    # every parse status except the miss marker carries page text
    # (ok | no_title | empty | bad_host); empty/low-quality pages are
    # the quality gates' job, not this reader's
    return (
        df.filter(F.col("status") != "fetch_failed")
        .groupBy("page_url")
        # newest-generation row wins (revisit re-extraction); the
        # struct comparison is deterministic across partitionings
        # (generation first, then text/title/host as tiebreak — within
        # one generation a page's rows are img-fanout copies anyway)
        .agg(
            F.max(F.struct(
                "generation", F.col(tcol).alias("text"), "title", "host"
            )).alias("s")
        )
        .select(
            F.col("page_url").alias("doc_id"),
            F.col("s.host").alias("host"),
            F.col("s.title").alias("title"),
            F.col("s.text").alias("text"),
            F.col("s.generation").alias("generation"),
        )
    )


def media_documents(
    spark: SparkSession,
    checkpoint_dir: str,
    media_dir: str | None = None,
    min_generation: int = -1,
) -> DataFrame:
    """The image-text-pair view of a crawl: one row per unique
    downloadable media URL — (media_url, caption, page_url, host,
    dir, filename, generation[, payload, archived]) — the shape a
    multimodal training pipeline ingests. Caption precedence follows
    the reference's own naming: the per-image title of a two-level
    ``<url> | <title>`` pair when present (main.rs:580-609), else the
    embedding page's title. A media URL embedded by many pages keeps
    the NEWEST generation's metadata (deterministic struct max, same
    policy as ``crawl_documents``).

    ``media_dir`` (the crawl's ``CrawlConfig.media_dir`` output):
    also attach the archived bytes — ``payload`` (binary, NULL when
    the fetch never succeeded: robots-blocked, 404, deferred CDN
    outage) and ``archived`` boolean. The join reads the media WARC
    archives through ``read_warc_pages`` (newest capture per URL);
    at corpus scale that is one archive-sized shuffle on media_url —
    the join both sides are media-cardinality, never page-fanout."""
    from img_spark.sources.warc import read_warc_pages

    base = fsio.join(checkpoint_dir, "extracted")
    gens = [
        g for g in _committed_generations(checkpoint_dir)
        if g > min_generation
    ]
    if not gens:
        raise FileNotFoundError(f"no committed extracted deltas under {base}")
    df = spark.read.parquet(*[fsio.join(base, f"g{g}") for g in gens])
    # split on the FIRST ' | ' (reference splitn(2), main.rs:580-609 —
    # the same rule filename_expr/derive_filename use): a per-image
    # title may itself contain ' | ', and substring_index(-1) would
    # truncate 'Sunset | Beach' to 'Beach'
    caption = F.when(
        F.col("img_url").contains(" | "),
        F.col("img_url").substr(
            F.instr(F.col("img_url"), " | ") + F.lit(3), F.lit(1 << 30)
        ),
    ).otherwise(F.col("title"))
    rows = (
        df.filter(F.col("download_url").isNotNull())
        .groupBy(F.col("download_url").alias("media_url"))
        .agg(
            F.max(F.struct(
                "generation", caption.alias("caption"),
                "page_url", "host", "dir", "filename",
            )).alias("s")
        )
        .select(
            "media_url",
            F.col("s.caption").alias("caption"),
            F.col("s.page_url").alias("page_url"),
            F.col("s.host").alias("host"),
            F.col("s.dir").alias("dir"),
            F.col("s.filename").alias("filename"),
            F.col("s.generation").alias("generation"),
        )
    )
    if media_dir is None:
        return rows
    # a crawl can legitimately archive NOTHING (all media blocked /
    # 404 / deferred by an outage): _fetch_media only writes g{g} on
    # a non-empty fetch, and an unguarded glob read would fail the
    # whole job instead of returning NULL payloads
    has_archive = fsio.isdir(media_dir) and any(
        fn.endswith(".warc.gz")
        for d in fsio.listdir(media_dir)
        if fsio.isdir(fsio.join(media_dir, d))
        for fn in fsio.listdir(fsio.join(media_dir, d))
    )
    if not has_archive:
        return rows.withColumns({
            "payload": F.lit(None).cast("binary"),
            "archived": F.lit(False),
        })
    archived = read_warc_pages(
        spark, fsio.join(media_dir, "g*", "*.warc.gz")
    ).select(
        F.col("url").alias("media_url"), F.col("html").alias("payload")
    )
    return rows.join(archived, "media_url", "left").withColumn(
        "archived", F.col("payload").isNotNull()
    )


def pages_documents(
    pages: DataFrame, text_source: str = "full",
) -> DataFrame:
    """A (url, warc_ts, html, text, lang) pages table → corpus
    documents — the no-crawl entry: Common-Crawl WARC/WET input
    (``job.py --materialize-pages`` / ``read_warc_pages`` + WET text
    join) can feed ``build_corpus`` directly. Revisit duplicates
    collapse to the lexicographically-max text per url (the WET-join
    policy); html is pruned immediately so the binary column never
    travels past the scan.

    ``text_source='main'`` extracts readability-lite main content from
    the ``html`` column (operators/extract_udf.extract_main_text)
    instead of taking the pre-extracted ``text`` — WET text is
    everything-visible; curating from raw WARC HTML can strip the
    chrome. The dedup-to-one-row-per-url policy is the same."""
    from img_spark.operators.urlexprs import host_of

    if text_source == "main":
        from img_spark.operators.extract_udf import extract_main_text

        docs = extract_main_text(pages.select("url", "html")).select(
            "url", F.col("main_text").alias("text")
        )
    elif text_source == "full":
        docs = pages.select("url", "text")
    else:
        raise ValueError(f"text_source must be 'full'|'main', got"
                         f" {text_source!r}")
    return (
        docs
        .groupBy("url")
        .agg(F.max("text").alias("text"))
        .select(
            F.col("url").alias("doc_id"),
            host_of(F.col("url")).alias("host"),
            F.lit(None).cast("string").alias("title"),
            "text",
            F.lit(0).alias("generation"),
        )
    )


@contextlib.contextmanager
def _build_caches():
    """Yield ``cache(df)``: persist ``df`` for one corpus build unless
    the caller already cached it. Every frame it persisted is released
    on ANY exit, so a build that raises leaves nothing cached for the
    rest of the session, and a caller's cache is never released."""
    from pyspark import StorageLevel

    held: list = []

    def cache(df: DataFrame) -> DataFrame:
        if df.storageLevel == StorageLevel.NONE:
            held.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    try:
        yield cache
    finally:
        for df in held:
            df.unpersist()


def build_corpus(
    spark: SparkSession,
    checkpoint_dir: str | None,
    out_dir: str,
    sample_rates: dict | None = None,
    default_rate: float = 1.0,
    benchmark: DataFrame | None = None,
    near_dup_threshold: float | None = None,
    near_dup_max_bucket: int | None = 10_000,
    documents: DataFrame | None = None,
    write_state: bool = True,
    versioned: bool = False,
    text_source: str = "full",
) -> dict:
    """Materialize the curated corpus for a finished (or in-flight)
    crawl. Writes lang-partitioned parquet rows
    (doc_id, host, title, text, generation, n_tokens, n_chars,
    quality_keep, is_dup, is_near_dup, contaminated, sampled, keep)
    and returns summary counts. ``sample_rates`` maps language → keep
    rate for the deterministic stratified sampler (corpus mixing);
    ``benchmark`` is an optional (doc_id, text) eval set for n-gram
    decontamination; ``near_dup_threshold`` (e.g. 0.8) additionally
    runs MinHash-LSH → exact-Jaccard → connected components and drops
    every non-representative member of a near-dup cluster (min doc_id
    survives — the standard fuzzy-dedup policy; ``near_dup_max_bucket``
    caps hot LSH buckets so one boilerplate shingle can't go
    quadratic).

    ``write_state=True`` additionally materializes the incremental-
    curation state under ``{out_dir}/_state/`` (Spark readers ignore
    underscore-prefixed dirs): the fingerprint→rep table, the LSH band
    table and cluster assignments (near-dup mode), and a meta.json
    watermark — everything ``build_corpus_incremental`` needs to fold
    NEW crawl generations into the corpus without re-running the
    per-document compute over the old ones.

    ``versioned=True`` writes the VERSIONED layout (see
    ``CORPUS_POINTER``): data lands in ``{out_dir}/corpus_v{N}/`` and
    an atomic pointer swap publishes it — incremental rewrites then
    never leave a window where the corpus is absent or partial. An
    ``out_dir`` that already carries a pointer stays versioned
    regardless of the flag (a full rebuild publishes the next
    version). Default False = legacy flat layout (back-compat)."""
    from img_spark.operators.textquality import (
        curation_flags,
        lang_id,
        stratified_sample,
        token_count,
    )

    # an interrupted legacy swap must be repaired BEFORE a full build
    # blindly overwrites out_dir (round-6 ADVICE: the crash window used
    # to surface as a silent full rebuild over an empty dir)
    recover_corpus_swap(out_dir)
    cur = corpus_version(out_dir)
    legacy_leftover: list = []
    if versioned or cur is not None:
        n = int(cur[8:]) + 1 if cur else 1
        version_name = f"corpus_v{n}"
        if cur is None:
            # migrating a legacy flat corpus (or building fresh into a
            # versioned root): whatever flat data/state sits in out_dir
            # is superseded by this full rebuild — prune it after the
            # publish, or readers of the root would see a corrupt mix
            # of lang=*/ partitions and corpus_v*/ dirs forever
            legacy_leftover = _legacy_entries(out_dir)
        data_dir = fsio.join(out_dir, version_name)
        fsio.rmtree(data_dir)  # leftover of a crashed, unpublished run
    else:
        version_name, data_dir = None, out_dir
    # source: a crawl checkpoint's extracted deltas, or any documents
    # DataFrame (doc_id, host, title, text, generation) — e.g.
    # ``pages_documents`` over a WARC/WET-derived pages table
    if documents is not None:
        if text_source != "full":
            raise ValueError(
                "text_source applies to checkpoint curation only — a "
                "documents DataFrame already carries its final text"
            )
        docs = documents
    elif checkpoint_dir is not None:
        docs = crawl_documents(spark, checkpoint_dir,
                               text_source=text_source)
    else:
        raise ValueError("build_corpus needs checkpoint_dir or documents")
    with _build_caches() as cache:
        # docs feeds ~6 consumers (projection, quality, dedup, optional
        # decontamination, the gram sets) — without the persist each
        # would re-read every extracted delta and re-run the per-page
        # groupBy: ~6 full corpus scans instead of one
        docs = cache(docs)
        # quality + lang + tokens: one projection pass over the documents
        base = docs.withColumns({
            "lang": lang_id(F.col("text")),
            "n_tokens": token_count(F.col("text")),
            "n_chars": F.length("text"),
        })
        # the shared curation core (ONE implementation with the
        # driver-checked curate_corpus gate):
        # quality ∧ ¬dup ∧ ¬contaminated
        out = base.join(curation_flags(docs, benchmark), "doc_id")
        comps = None
        banded = None
        if near_dup_threshold is not None:
            from img_spark.operators.dedup import (
                connected_components,
                doc_gram_sets,
                minhash_bands,
                minhash_dedup,
            )

            # shingle once: the gram sets feed the signatures and both
            # sides of the verify; the band table feeds the LSH
            # candidates AND the incremental state write
            grams = cache(doc_gram_sets(docs))
            banded = cache(minhash_bands(docs, grams=grams))
            pairs = minhash_dedup(
                docs, threshold=near_dup_threshold,
                max_bucket=near_dup_max_bucket, banded=banded, grams=grams,
            )
            # comps reads a local checkpoint, not a cache: nothing to
            # release
            comps = connected_components(pairs)
            near = comps.filter(F.col("doc_id") != F.col("rep_id")).select(
                "doc_id", F.lit(True).alias("is_near_dup")
            )
            out = out.join(near, "doc_id", "left").na.fill(
                {"is_near_dup": False}
            )
        else:
            out = out.withColumn("is_near_dup", F.lit(False))
        sampled = stratified_sample(
            base.select("doc_id", "lang"),
            rates=sample_rates or {},
            default_rate=default_rate,
            strat_col="lang",
        ).select("doc_id", "sampled")
        out = out.join(sampled, "doc_id").withColumn(
            "keep",
            F.col("quality_keep") & ~F.col("is_dup") & ~F.col("is_near_dup")
            & ~F.col("contaminated") & F.col("sampled"),
        )

        from pyspark.sql import Observation

        obs = Observation("corpus")
        out = out.observe(
            obs,
            F.count("*").alias("documents"),
            F.count(F.when(F.col("keep"), 1)).alias("kept"),
            F.count(F.when(F.col("is_dup"), 1)).alias("dups"),
            F.count(F.when(F.col("is_near_dup"), 1)).alias("near_dups"),
            F.count(F.when(~F.col("quality_keep"), 1)).alias("quality_dropped"),
            F.count(F.when(F.col("contaminated"), 1)).alias("contaminated"),
            F.count(F.when(~F.col("sampled"), 1)).alias("sampled_out"),
        )
        out.write.mode("overwrite").partitionBy("lang").parquet(data_dir)
        if write_state:
            _write_corpus_state(
                spark, data_dir, docs, checkpoint_dir,
                near_dup_threshold, near_dup_max_bucket,
                banded=banded, comps=comps,
                sample_rates=sample_rates, default_rate=default_rate,
                had_benchmark=benchmark is not None,
                text_source=text_source,
            )
    if version_name is not None:
        # data + state are complete — one atomic pointer write
        # publishes the version, then older versions prune (the one
        # just superseded survives for in-flight readers)
        _publish_version(out_dir, version_name, keep=cur)
        for fn in legacy_leftover:
            fsio.rmpath(fsio.join(out_dir, fn))
    return {k: int(v) for k, v in obs.get.items()}


# ------------------------------------------------------------ incremental
def _state_dir(out_dir: str) -> str:
    # underscore prefix: Spark's file index treats _*/.* entries as
    # hidden, so the state never pollutes spark.read.parquet(out_dir)
    return fsio.join(out_dir, "_state")


# ------------------------------------------------- versioned publish
# Versioned corpus layout (round-6 verdict item 3): ``out_dir`` is a
# ROOT holding immutable ``corpus_v{N}/`` data dirs plus one tiny
# ``CURRENT`` pointer file naming the live version. A rewrite builds
# corpus_v{N+1} completely (data + _state), then swaps the pointer in
# ONE atomic write (a single PUT on object stores — same commit
# primitive as the crawl's generation manifests, plans/crawl.py
# _commit_manifest) and only then prunes the old version. Readers that
# resolve the pointer NEVER see a partial corpus: a crash anywhere
# before the pointer swap leaves CURRENT on the old, fully-intact
# version. The legacy flat layout (corpus parquet directly in
# out_dir) remains supported for back-compat; its rename-aside swap
# has a copy+delete window on object stores that this layout removes.
CORPUS_POINTER = "CURRENT"


def corpus_version(out_dir: str) -> str | None:
    """The live version name (e.g. 'corpus_v3') from the pointer file,
    or None when ``out_dir`` uses the legacy flat layout."""
    p = fsio.join(out_dir, CORPUS_POINTER)
    if not fsio.exists(p):
        return None
    name = fsio.read_bytes(p).decode().strip()
    if not name.startswith("corpus_v") or not name[8:].isdigit():
        raise ValueError(f"corrupt corpus pointer {p!r}: {name!r}")
    return name


def resolve_corpus(out_dir: str) -> str:
    """Path of the live corpus data: the pointed-at version dir, or
    ``out_dir`` itself in the legacy flat layout. Every reader (job
    summaries, downstream training jobs) should resolve through here
    so an in-flight rewrite is invisible."""
    name = corpus_version(out_dir)
    return fsio.join(out_dir, name) if name else out_dir


def read_corpus(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(resolve_corpus(out_dir))


def _legacy_entries(out_dir: str) -> list:
    """Entries of a LEGACY flat corpus living directly in ``out_dir``
    (everything that is not versioned-layout bookkeeping) — snapshot
    BEFORE a migration build so exactly these can be pruned after the
    pointer publish."""
    return [
        fn for fn in fsio.listdir(out_dir)
        if fn != CORPUS_POINTER and not fn.startswith("corpus_v")
    ]


def _publish_version(
    out_dir: str, name: str, keep: str | None = None
) -> None:
    """Atomically repoint CURRENT at ``name``; then (and only then)
    prune superseded version dirs — EXCEPT ``keep`` (the version just
    superseded): a reader that resolved the pointer moments before the
    swap may still be mid-scan on it, so the previous version survives
    one more publish cycle (disk cost: ≤2 versions on disk)."""
    fsio.write_bytes_atomic(
        fsio.join(out_dir, CORPUS_POINTER), name.encode()
    )
    for fn in fsio.listdir(out_dir):
        if (
            fn.startswith("corpus_v") and fn != name and fn != keep
            and fsio.isdir(fsio.join(out_dir, fn))
        ):
            fsio.rmtree(fsio.join(out_dir, fn))


def recover_corpus_swap(out_dir: str) -> str | None:
    """Detect and repair an interrupted LEGACY rename-aside swap
    (round-6 ADVICE: a crash between move(out, aside) and move(tmp,
    out) leaves out_dir ABSENT — the next --curate would find no
    _state/meta.json and silently run a FULL rebuild while the
    completed tmp and old dirs sit orphaned). Called at the top of
    both builders and by job.py before choosing full-vs-incremental.
    Returns a description of the action taken (None = nothing to do):

    - out_dir present, aside leftover → the swap COMPLETED, the prune
      didn't: delete the aside.
    - out_dir present, tmp leftover → the swap never started: the tmp
      may be incomplete, and the incremental run that produced it is
      idempotent from out_dir's state — delete the tmp.
    - out_dir ABSENT, tmp + aside present → crash mid-swap: the tmp
      was fully written before any move began — complete the swap
      (move tmp → out_dir, drop the aside).
    - out_dir absent, ONLY the aside present → the tmp vanished
      mid-swap (or was already moved elsewhere): restore the aside —
      the corpus is back at its pre-rewrite state.

    The two branches where out_dir is PRESENT delete the leftover;
    that classification relies on moves being atomic renames, which
    holds on local filesystems/HDFS but NOT on object stores (fsio
    .move is copy+delete per file there — a crash mid-move leaves
    BOTH sides partial, and 'out_dir present' does not mean 'out_dir
    complete'). On a non-local filesystem those branches REFUSE with
    guidance instead of deleting what may be the only complete copy;
    the out_dir-absent branches stay safe everywhere (the tmp/aside
    they promote was fully written before any move began). The
    versioned pointer layout avoids this entirely.

    On a VERSIONED root (pointer present) the version dirs are
    authoritative: any flat entry beside them is a leftover of a
    migration that crashed between the pointer publish and its prune
    — finished here.
    """
    from pyarrow import fs as pafs

    tmp = out_dir.rstrip("/") + "__incr_tmp"
    aside = out_dir.rstrip("/") + "__incr_old"
    local = isinstance(fsio.resolve(out_dir)[0], pafs.LocalFileSystem)
    if corpus_version(out_dir) is not None:
        # versioned root: a pointer makes the version dirs
        # authoritative, so any flat entry beside them is a leftover
        # of a migration that crashed between the pointer publish and
        # its prune — finish the prune (legacy readers of the root
        # must never see a mixed layout)
        leftovers = _legacy_entries(out_dir)
        for fn in leftovers:
            fsio.rmpath(fsio.join(out_dir, fn))
        if leftovers:
            return "pruned legacy entries beside the version pointer"
        return None
    has_out, has_tmp, has_aside = (
        fsio.isdir(out_dir), fsio.isdir(tmp), fsio.isdir(aside)
    )
    if has_out:
        if has_aside or has_tmp:
            if not local:
                raise RuntimeError(
                    f"corpus at {out_dir} has leftover "
                    f"{'__incr_old' if has_aside else '__incr_tmp'} "
                    "from an interrupted rewrite, and on this "
                    "filesystem moves are copy+delete — out_dir may "
                    "itself be partial, so neither side can be safely "
                    "deleted automatically. Inspect/merge by hand, or "
                    "migrate to the versioned pointer layout "
                    "(--curate-versioned) which has no such window"
                )
            if has_aside:
                fsio.rmtree(aside)
                return "pruned leftover __incr_old (swap had completed)"
            fsio.rmtree(tmp)
            return "dropped incomplete __incr_tmp (swap never started)"
        return None
    if has_aside and has_tmp:
        fsio.move(tmp, out_dir)
        fsio.rmtree(aside)
        return "completed interrupted swap (tmp → out_dir)"
    if has_aside:
        fsio.move(aside, out_dir)
        return "restored pre-rewrite corpus from __incr_old"
    return None


def _write_corpus_state(
    spark,
    out_dir: str,
    docs: DataFrame,
    checkpoint_dir: str | None,
    near_dup_threshold,
    near_dup_max_bucket,
    banded: DataFrame | None,
    comps: DataFrame | None,
    sample_rates: dict | None = None,
    default_rate: float = 1.0,
    had_benchmark: bool = False,
    text_source: str = "full",
) -> None:
    """Materialize the merge state a later incremental run needs:
    fingerprints (fp → group-min rep), the uncapped LSH band table and
    cluster assignments (near-dup mode), and the generation watermark.
    All linear in the corpus; the expensive part (the minhash pass
    behind ``banded``) is shared with the curation itself."""
    import json as _json

    from img_spark.operators.dedup import exact_dedup

    st = _state_dir(out_dir)
    exact_dedup(docs).select("fp", "rep_id").distinct().write.mode(
        "overwrite"
    ).parquet(fsio.join(st, "fingerprints"))
    if banded is not None:
        banded.write.mode("overwrite").parquet(fsio.join(st, "bands"))
    if comps is not None:
        comps.write.mode("overwrite").parquet(fsio.join(st, "comps"))
    gens = _committed_generations(checkpoint_dir) if checkpoint_dir else []
    fsio.write_bytes_atomic(
        fsio.join(st, "meta.json"),
        _json.dumps({
            "max_generation": max(gens) if gens else 0,
            "near_dup_threshold": near_dup_threshold,
            "near_dup_max_bucket": near_dup_max_bucket,
            "sample_rates": sample_rates or {},
            "default_rate": default_rate,
            "had_benchmark": had_benchmark,
            "text_source": text_source,
        }).encode(),
    )


def build_corpus_incremental(
    spark: SparkSession,
    checkpoint_dir: str,
    out_dir: str,
    sample_rates: dict | None = None,
    default_rate: float = 1.0,
    benchmark: DataFrame | None = None,
    near_dup_threshold: float | None = None,
    versioned: bool = False,
    text_source: str | None = None,
) -> dict:
    """Fold the crawl generations NEWER than the corpus's watermark
    into an existing ``build_corpus`` output — equivalent to a full
    re-curation, at incremental cost: the per-document compute
    (quality gates, language ID, token counts, fingerprints, minhash
    signatures — the dominant CPU at 100 TB) runs over the NEW
    documents only; old documents are only touched by the merge
    contracts below and the final rewrite.

    Merge contracts (each provably ≡ full re-curation):
    - **exact dedup**: group rep = global min doc_id. New docs join
      the stored fingerprint→rep table; a new doc with a smaller id
      demotes the old rep to is_dup=True (the only way an old flag
      can change — is_dup is monotone under adding docs).
    - **near-dup**: new docs' LSH bands join against the stored band
      table (old signatures are never recomputed); verified new edges
      union the stored cluster assignments (each old cluster is the
      transitive closure of its old edges, so CC over old-assignments
      ∪ new-edges = CC over all edges) and clusters re-collapse.
      is_near_dup is likewise monotone. With ``near_dup_max_bucket``
      set, equivalence holds while no bucket crosses the cap between
      runs (a bucket that grows past the cap drops future pairs in
      both modes, but a full re-run would also retro-drop its old
      pairs — incremental keeps them: strictly higher recall).
    - **quality / lang / tokens / decontamination / sampling** are
      per-document and deterministic — unchanged for old docs.
      ``sample_rates``/``default_rate``/``near_dup_threshold`` and
      benchmark PRESENCE are recorded in the state meta and enforced
      (mismatch raises); the benchmark's CONTENT cannot be verified —
      pass the same eval set the corpus was built with.
    - **revisit caveat** (revisit_after_s crawls): a changed page
      re-extracts into a newer generation, so it reappears in the new
      batch — its fresh row REPLACES the old corpus row (doc_id
      anti-join; never duplicated) and its stale cluster edge is
      dropped, but the old text's fingerprint/band entries linger in
      the merge state until a full rebuild: a future doc matching the
      REPLACED text can still be flagged its dup, and a changed
      cluster REP keeps anchoring its old cluster. Both are
      conservative (over-flagging, never under); the ≡-full guarantee
      is exact for append-only (one-shot) crawls.

    Publish: in the VERSIONED layout (``out_dir`` carries a CURRENT
    pointer — see ``build_corpus(versioned=True)``) the rewrite lands
    in ``corpus_v{N+1}/`` and ONE atomic pointer write publishes it —
    readers resolving the pointer never see a partial or absent
    corpus, and a crash anywhere before the swap leaves the old
    version live (old rows' flags can flip and parquet has no
    row-level update, so a rewrite is unavoidable; an Iceberg sink
    would make it a MERGE INTO touching only changed rows). The LEGACY
    flat layout keeps the tmp-dir + rename-aside swap: the unreadable
    window is one rename on local/HDFS, copy+delete per file on object
    stores; interrupted swaps are detected and repaired by
    ``recover_corpus_swap`` (called here and by job.py) instead of
    surfacing as a silent full rebuild. Returns the summary counts
    plus ``new_documents``."""
    import json as _json

    from img_spark.operators.dedup import (
        cap_buckets,
        connected_components,
        doc_gram_sets,
        fingerprint,
        minhash_bands,
        verify_candidates,
    )
    from img_spark.operators.textquality import (
        lang_id,
        quality_signals,
        stratified_sample,
        token_count,
    )

    recover_corpus_swap(out_dir)
    cur = corpus_version(out_dir)
    src_dir = fsio.join(out_dir, cur) if cur else out_dir
    st = _state_dir(src_dir)
    meta = _json.loads(fsio.read_bytes(fsio.join(st, "meta.json")))
    since = int(meta["max_generation"])
    thr = meta.get("near_dup_threshold")
    cap = meta.get("near_dup_max_bucket")
    # the near-dup threshold is state, not a per-run knob: a different
    # value here cannot be applied incrementally (old pairs were found
    # at the stored threshold) — refuse instead of silently ignoring
    if near_dup_threshold is not None and near_dup_threshold != thr:
        raise ValueError(
            f"incremental curation with near_dup_threshold="
            f"{near_dup_threshold} but the corpus was built with {thr} — "
            "re-run a full build_corpus to change it"
        )
    # benchmark decontamination must also match: old rows' contaminated
    # flags were computed against the original eval set (presence is
    # recorded; the caller is responsible for passing the SAME set).
    # A meta without the key (state written before the guard existed)
    # is UNKNOWN — skip the check rather than misreading it as False
    if "had_benchmark" in meta and bool(meta["had_benchmark"]) != (
        benchmark is not None
    ):
        raise ValueError(
            "incremental curation benchmark mismatch: the corpus was "
            + ("built WITH" if meta.get("had_benchmark") else "built WITHOUT")
            + " a decontamination benchmark — pass the same eval set "
            "(or none) as the original build_corpus run"
        )
    # sampling params must MATCH the original run or the old rows'
    # per-doc decisions silently diverge from what a full re-curation
    # with the new rates would produce; None = inherit the stored ones
    stored_rates = meta.get("sample_rates", {})
    stored_default = meta.get("default_rate", 1.0)
    if sample_rates is None:
        sample_rates = stored_rates
    elif dict(sample_rates) != dict(stored_rates):
        raise ValueError(
            f"incremental curation with sample_rates={sample_rates} but the"
            f" corpus was built with {stored_rates} — old rows' sampling"
            " would not match; re-run a full build_corpus to change rates"
        )
    if default_rate != stored_default:
        raise ValueError(
            f"incremental default_rate={default_rate} != stored"
            f" {stored_default} — re-run a full build_corpus to change it"
        )
    # text_source is state too: old rows' text, fingerprints, and
    # signatures were computed from the stored source; merging text
    # from the other source would silently mix full and main text.
    # Meta without the key = written before the knob existed = 'full'.
    stored_source = meta.get("text_source", "full")
    if text_source is not None and text_source != stored_source:
        raise ValueError(
            f"incremental curation with text_source={text_source!r} but "
            f"the corpus was built from {stored_source!r} — re-run a "
            "full build_corpus to switch text sources"
        )
    text_source = stored_source
    gens = _committed_generations(checkpoint_dir)
    gmax = max(gens) if gens else 0
    if gmax <= since:
        return {"new_documents": 0, "unchanged": True}

    with _build_caches() as cache:
        new_docs = cache(crawl_documents(
            spark, checkpoint_dir, min_generation=since,
            text_source=text_source,
        ))
        old = spark.read.parquet(src_dir)

        # ---- per-doc features for NEW docs only
        base_new = new_docs.withColumns({
            "lang": lang_id(F.col("text")),
            "n_tokens": token_count(F.col("text")),
            "n_chars": F.length("text"),
        })
        q_new = quality_signals(new_docs).select(
            "doc_id", F.col("keep").alias("quality_keep")
        )
        if benchmark is not None:
            from img_spark.operators.dedup import ngram_decontaminate

            cont_new = ngram_decontaminate(new_docs, benchmark).select(
                "doc_id", "contaminated"
            )
        else:
            cont_new = new_docs.select(
                "doc_id", F.lit(False).alias("contaminated")
            )
        samp_new = stratified_sample(
            base_new.select("doc_id", "lang"),
            rates=sample_rates or {},
            default_rate=default_rate,
            strat_col="lang",
        ).select("doc_id", "sampled")

        # ---- exact-dedup merge against the fingerprint state
        fstate = spark.read.parquet(fsio.join(st, "fingerprints")).select(
            "fp", F.col("rep_id").alias("old_rep")
        )
        nf = new_docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        nmin = nf.groupBy("fp").agg(F.min("doc_id").alias("new_min"))
        merged = cache(nmin.join(fstate, "fp", "left").withColumn(
            "rep", F.least(F.coalesce("old_rep", "new_min"), F.col("new_min"))
        ))
        dup_new = nf.join(merged.select("fp", "rep"), "fp").select(
            "doc_id", (F.col("doc_id") != F.col("rep")).alias("is_dup")
        )
        # the ONLY old rows exact dedup can flip: previous reps demoted by
        # a smaller new id
        dup_flips = merged.filter(
            F.col("old_rep").isNotNull() & (F.col("new_min") < F.col("old_rep"))
        ).select(F.col("old_rep").alias("doc_id"), F.lit(True).alias("__dup"))
        fstate_out = (
            fstate.join(nmin, "fp", "left")
            .select(
                "fp",
                F.least(
                    F.col("old_rep"), F.coalesce("new_min", "old_rep")
                ).alias("rep_id"),
            )
            .unionByName(
                nmin.join(fstate, "fp", "left_anti").select(
                    "fp", F.col("new_min").alias("rep_id")
                )
            )
        )

        # ---- near-dup merge against the band + cluster state
        comps_all = None
        bands_out = None
        if thr is not None:
            bstate = spark.read.parquet(fsio.join(st, "bands"))
            # the new docs are shingled once, for their bands and the verify
            gnew = cache(doc_gram_sets(new_docs))
            bnew = cache(minhash_bands(new_docs, grams=gnew))
            allb = bstate.unionByName(bnew)
            if cap is not None:
                allb = cap_buckets(allb, ("band", "bucket"), cap)
            # candidate pairs with ≥1 NEW member (old-old pairs are already
            # folded into the stored assignments)
            raw = (
                allb.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
                .join(
                    bnew.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
                    ["band", "bucket"],
                )
                .filter(F.col("doc_a") != F.col("doc_b"))
                .select(
                    F.least("doc_a", "doc_b").alias("doc_a"),
                    F.greatest("doc_a", "doc_b").alias("doc_b"),
                )
            )
            # verify stage: gram sets ONLY for docs in candidate pairs —
            # new docs' from gnew, old docs re-shingled from the corpus
            # text (candidate-sized, not corpus-sized)
            ids = raw.select(F.col("doc_a").alias("doc_id")).unionByName(
                raw.select(F.col("doc_b").alias("doc_id"))
            ).distinct()
            grams = gnew.unionByName(doc_gram_sets(old)).join(
                ids, "doc_id", "left_semi"
            )
            new_pairs = verify_candidates(raw, grams, thr).select(
                "doc_a", "doc_b"
            )
            cstate = spark.read.parquet(fsio.join(st, "comps"))
            # a REVISITED doc's text changed: its stored star edge
            # (doc → old cluster rep) describes the old text — drop it so
            # the new text is clustered on its own merits (its new bands
            # re-join if still similar). Rep-side edges stay: the other
            # members are still near-dups of each other and the rep id is
            # just their cluster label (conservative: a changed REP keeps
            # anchoring its old cluster — see the docstring's revisit
            # caveat).
            old_edges = cstate.join(
                new_docs.select("doc_id"), "doc_id", "left_anti"
            ).select(
                F.col("doc_id").alias("doc_a"), F.col("rep_id").alias("doc_b")
            )
            comps_all = connected_components(
                new_pairs.unionByName(old_edges)
            )
            bands_out = bstate.unionByName(bnew)
        near_set = (
            comps_all.filter(F.col("doc_id") != F.col("rep_id")).select(
                "doc_id", F.lit(True).alias("__near")
            )
            if comps_all is not None
            else spark.createDataFrame([], "doc_id string, __near boolean")
        )

        # ---- assemble: old rows (monotone flag flips only) + new rows.
        # A REVISITED doc appears in new_docs with fresh text — its new
        # row REPLACES the old one (anti-join), never duplicates it.
        old_out = (
            old.join(new_docs.select("doc_id"), "doc_id", "left_anti")
            .join(F.broadcast(dup_flips), "doc_id", "left")
            .join(near_set, "doc_id", "left")
            .withColumns({
                "is_dup": F.col("is_dup") | F.coalesce("__dup", F.lit(False)),
                "is_near_dup":
                    F.col("is_near_dup") | F.coalesce("__near", F.lit(False)),
            })
            .drop("__dup", "__near")
        )
        new_out = (
            base_new.join(q_new, "doc_id")
            .join(dup_new, "doc_id")
            .join(cont_new, "doc_id")
            .join(near_set, "doc_id", "left")
            .withColumn("is_near_dup", F.coalesce("__near", F.lit(False)))
            .drop("__near")
            .join(samp_new, "doc_id")
        )
        cols = [c for c in old.columns if c != "keep"]
        result = (
            old_out.select(*cols, "keep").unionByName(
                new_out.withColumn("keep", F.lit(False)).select(*cols, "keep")
            )
            .withColumn(
                "keep",
                F.col("quality_keep") & ~F.col("is_dup") & ~F.col("is_near_dup")
                & ~F.col("contaminated") & F.col("sampled"),
            )
        )

        from pyspark.sql import Observation

        obs = Observation("corpus-incr")
        result = result.observe(
            obs,
            F.count("*").alias("documents"),
            F.count(F.when(F.col("keep"), 1)).alias("kept"),
            F.count(F.when(F.col("is_dup"), 1)).alias("dups"),
            F.count(F.when(F.col("is_near_dup"), 1)).alias("near_dups"),
            F.count(F.when(~F.col("quality_keep"), 1)).alias("quality_dropped"),
            F.count(F.when(F.col("contaminated"), 1)).alias("contaminated"),
            F.count(F.when(~F.col("sampled"), 1)).alias("sampled_out"),
            F.count(F.when(F.col("generation") > since, 1)).alias("new_documents"),
        )
        # the write READS the old corpus (flag flips ride the old rows),
        # so it cannot overwrite the live data in place. Versioned layout:
        # the new version dir IS the write target and the pointer swap is
        # the publish. Legacy: tmp dir + rename-aside swap. State lands
        # inside the new dir BEFORE the publish — its reads also come from
        # the old state, and after the swap the new corpus carries its own.
        legacy_leftover: list = []
        if cur:
            new_name = f"corpus_v{int(cur[8:]) + 1}"
            tmp = fsio.join(out_dir, new_name)
        elif versioned:
            # migrate the legacy flat corpus to the versioned layout in
            # this rewrite (``--curate-versioned`` must not be silently
            # ignored just because the corpus predates the flag): the new
            # version is written beside the flat data, the pointer
            # publishes it, and the superseded flat entries are pruned —
            # a mixed root would corrupt legacy readers forever
            new_name = "corpus_v1"
            tmp = fsio.join(out_dir, new_name)
            legacy_leftover = _legacy_entries(out_dir)
        else:
            new_name = None
            tmp = out_dir.rstrip("/") + "__incr_tmp"
        fsio.rmtree(tmp)
        result.write.mode("overwrite").partitionBy("lang").parquet(tmp)
        stt = _state_dir(tmp)
        fstate_out.write.mode("overwrite").parquet(
            fsio.join(stt, "fingerprints")
        )
        if thr is not None:
            bands_out.write.mode("overwrite").parquet(fsio.join(stt, "bands"))
            comps_all.select("doc_id", "rep_id").write.mode("overwrite").parquet(
                fsio.join(stt, "comps")
            )
        fsio.write_bytes_atomic(
            fsio.join(stt, "meta.json"),
            _json.dumps({
                "max_generation": gmax,
                "near_dup_threshold": thr,
                "near_dup_max_bucket": cap,
                "sample_rates": sample_rates or {},
                "default_rate": default_rate,
                "had_benchmark": benchmark is not None,
                "text_source": text_source,
            }).encode(),
        )
    if new_name is not None:
        # versioned publish: data + state are complete at corpus_v{N+1}
        # — one atomic pointer write flips readers over, then versions
        # OLDER than the one just superseded prune (the previous
        # version survives one cycle for in-flight readers). No window
        # where the corpus is absent.
        _publish_version(out_dir, new_name, keep=cur)
        for fn in legacy_leftover:
            fsio.rmpath(fsio.join(out_dir, fn))
    else:
        # legacy rename-aside swap: the no-corpus window is one rename,
        # not a delete-then-move (a crash between rmtree and move would
        # leave NOTHING at out_dir and the orphaned tmp where no reader
        # looks); interrupted states are repaired by recover_corpus_swap
        aside = out_dir.rstrip("/") + "__incr_old"
        fsio.rmtree(aside)
        fsio.move(out_dir, aside)
        fsio.move(tmp, out_dir)
        fsio.rmtree(aside)
    return {k: int(v) for k, v in obs.get.items()}
