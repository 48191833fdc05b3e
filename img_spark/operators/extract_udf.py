"""Arrow-vectorized page extraction (SURVEY.md §2.3 → one UDF family).

``extract_pages`` maps the fetched frontier↔pages join through the pure
kernel (img_spark.functions.extract.parse_page) via ``mapInPandas`` —
JVM→Python crosses once per Arrow batch, never per row (input_hint: no
per-row Python). ``resolve_second_level`` handles the two-level
selector re-fetch (main.rs:325-364) as a second join + grouped pass.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from img_spark.functions.extract import extract_second_level, parse_page
from img_spark.operators.urlexprs import batch_buckets

EXTRACT_SCHEMA = (
    "url string, status string, title string, dir_title string,"
    " imgs array<string>, origins array<string>, next_url string,"
    " albums array<string>, album_titles array<string>,"
    " empty_dup int, embed int, albums_len int, imgs_len int, json_len int,"
    " extracted_text string, second_level_sel string,"
    " first_level_urls array<string>, main_text string"
)

_IN_COLS = ["url", "html", "img_sel", "next_sel", "album_sel"]


def extract_pages(
    df: DataFrame, album_policy: str = "all", main_text: bool = False,
) -> DataFrame:
    """df columns required: url, html (binary, null → fetch_failed),
    img_sel, next_sel, album_sel. Extra columns are pruned (keeps the
    html blob out of any downstream shuffle, SURVEY.md §7.8).
    ``main_text=True`` additionally computes the readability-lite main
    content (functions/maintext.py) from the same parse; the column is
    always in the schema (uniform delta schema across generations) and
    empty when disabled."""

    def run(batches):
        for pdf in batches:
            out = []
            for url, html, img_sel, next_sel, album_sel in zip(
                pdf["url"], pdf["html"], pdf["img_sel"], pdf["next_sel"],
                pdf["album_sel"],
            ):
                if html is None:
                    out.append(
                        (url, "fetch_failed", "", "", [], [], "", [], [],
                         0, 0, 0, 0, 0, "", "", [], "")
                    )
                    continue
                r = parse_page(
                    bytes(html), url,
                    img_sel if img_sel is not None else None,
                    next_sel if next_sel is not None else None,
                    album_sel if album_sel is not None else None,
                    album_policy=album_policy,
                    main_text=main_text,
                )
                out.append(
                    (url, r.status, r.title, r.dir_title, r.imgs, r.origins,
                     r.next_url, r.albums, r.album_titles, r.empty_dup,
                     r.embed, r.albums_len, r.imgs_len, r.json_len, r.text,
                     r.second_level_sel, r.first_level_urls, r.main_text)
                )
            yield pd.DataFrame(out, columns=[
                "url", "status", "title", "dir_title", "imgs", "origins",
                "next_url", "albums", "album_titles", "empty_dup", "embed",
                "albums_len", "imgs_len", "json_len", "extracted_text",
                "second_level_sel", "first_level_urls", "main_text",
            ])

    return df.select(*_IN_COLS).mapInPandas(run, schema=EXTRACT_SCHEMA)


ASSETS_SCHEMA = "url string, asset_url string, kind string"


def extract_assets(df: DataFrame) -> DataFrame:
    """srcset / link-icon / @import extraction (north_star surface
    beyond the reference parser) as Arrow ``mapInPandas`` — same batch
    shape as ``extract_pages``. df needs url + html (binary)."""
    from img_spark.functions.extract import extract_web_assets

    def run(batches):
        for pdf in batches:
            urls, assets, kinds = [], [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                for asset_url, kind in extract_web_assets(bytes(html), url):
                    urls.append(url)
                    assets.append(asset_url)
                    kinds.append(kind)
            yield pd.DataFrame(
                {"url": urls, "asset_url": assets, "kind": kinds}
            )

    return df.select("url", "html").mapInPandas(run, schema=ASSETS_SCHEMA)


def resolve_css_imports(
    assets: DataFrame, pages: DataFrame, max_depth: int = 3
) -> DataFrame:
    """Follow @import CHAINS (north_star: "CSS url(...) and @import
    chains"): the import targets discovered by ``extract_assets`` are
    joined against the pages table (the sandbox "fetch"), each css body
    is scanned for images + deeper imports, and newly discovered imports
    feed the next round — a bounded driver loop, one broadcast-inner
    join of the (small) import set per level, never a shuffle of pages.
    Returns (page_url, img_url) for every image reachable through the
    chain, deduped."""
    from img_spark.functions.extract import scan_css
    from img_spark.functions.textops import lossy_decode

    def run(batches):
        for pdf in batches:
            prows, urows, krows = [], [], []
            for page_url, css_url, html in zip(
                pdf["page_url"], pdf["css_url"], pdf["html"]
            ):
                if html is None:
                    continue
                imgs, imps = scan_css(lossy_decode(bytes(html)), css_url)
                for u in imgs:
                    prows.append(page_url); urows.append(u); krows.append("img")
                for u in imps:
                    prows.append(page_url); urows.append(u); krows.append("import")
            yield pd.DataFrame(
                {"page_url": prows, "url": urows, "kind": krows}
            )

    frontier = (
        assets.filter(F.col("kind") == "import")
        .select(F.col("url").alias("page_url"),
                F.col("asset_url").alias("css_url"))
        .distinct()
    )
    visited = frontier
    images = None
    for _ in range(max_depth):
        fetched = pages.select(
            F.col("url").alias("css_url"), "html"
        ).join(F.broadcast(frontier), "css_url")
        found = fetched.select("page_url", "css_url", "html").mapInPandas(
            run, schema="page_url string, url string, kind string"
        )
        level_imgs = found.filter(F.col("kind") == "img").select(
            "page_url", F.col("url").alias("img_url")
        )
        images = level_imgs if images is None else images.unionByName(level_imgs)
        frontier = (
            found.filter(F.col("kind") == "import")
            .select("page_url", F.col("url").alias("css_url"))
            .distinct()
            .join(visited, ["page_url", "css_url"], "left_anti")
        )
        visited = visited.unionByName(frontier)
    return images.distinct()


def compile_second_level() -> dict:
    """Build-once Column trees for ``resolve_second_level`` — the
    two-level pass runs every generation of a two-level crawl, and its
    merge-back when/coalesce/transform trees are generation-invariant
    (same pattern as Crawler._compile_plan_fragments)."""
    return {
        "exploded": [
            F.col("url").alias("page_url"),
            "second_level_sel",
            F.explode("first_level_urls").alias("fetch_url"),
        ],
        "second_agg": F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("second_imgs")))
        ).alias("second_imgs"),
        "imgs": F.when(
            F.col("second_level_sel") != "",
            F.coalesce(
                F.col("second_imgs"), F.array().cast("array<string>")
            ),
        ).otherwise(F.col("imgs")),
        "origins": F.when(
            F.col("second_level_sel") != "",
            F.transform(F.col("imgs"), lambda _: F.lit("html")),
        ).otherwise(F.col("origins")),
    }


def resolve_second_level(
    extracted: DataFrame,
    pages: DataFrame,
    pages_buckets: int = 0,
    fetch_fn=None,
    compiled: dict | None = None,
    eager=None,
) -> DataFrame:
    """Fill ``imgs`` for two-level pages: explode first-level URLs, join
    the pages table (the sandbox "fetch"), run extraction pass 2 grouped
    per origin page, and merge results back.

    Scale notes: the fetch is an INNER join with the (batch-sized)
    exploded URL set BROADCAST — the big pages table streams through a
    BroadcastHashJoin with no shuffle (a left join here could only
    broadcast the pages side and would sort-merge-shuffle all of pages
    every generation, main.rs:325-364's loop run on a cluster). Inner
    semantics are safe because the final merge coalesces a missing
    second-pass row to an empty imgs array — identical to the old left
    join feeding html=NULL rows into the kernel. With ``pages_buckets``
    > 0 the pages side must carry ``tables.PAGES_BUCKET_COL`` and the
    scan is partition-pruned to the buckets this batch's fetch URLs can
    live in (same derivation as the first-level fetch). With
    ``fetch_fn`` (the live-HTTP seam: (url) batch → (url, html, host))
    the pages join is replaced by a real fetch of the distinct
    first-level URLs — same inner-join merge-back, so a failed live
    fetch degrades to an empty imgs array exactly like a table miss."""
    c = compiled or compile_second_level()
    two = extracted.filter(F.col("second_level_sel") != "").select(
        "url", "second_level_sel", "first_level_urls"
    )
    exploded = two.select(*c["exploded"])
    if fetch_fn is not None:
        got = fetch_fn(
            exploded.select(F.col("fetch_url").alias("url")).distinct()
        )
        fetched = got.select(
            F.col("url").alias("fetch_url"), "html"
        ).join(F.broadcast(exploded), "fetch_url", "inner")
    else:
        if pages_buckets:
            from img_spark.sources.tables import PAGES_BUCKET_COL

            # an eager Spark job inside the caller's plan window —
            # ``eager(fn, *args)`` runs it so Crawler step_times'
            # plan/eager split stays honest (BENCH/CRAWL_OVERHEAD.md)
            run = eager or (lambda fn, *args: fn(*args))
            mods = run(batch_buckets, exploded, "fetch_url", pages_buckets)
            pages = pages.filter(F.col(PAGES_BUCKET_COL).isin(mods))
        fetched = pages.select(F.col("url").alias("fetch_url"), "html").join(
            F.broadcast(exploded), "fetch_url", "inner"
        )

    # pass 2 kernel runs PER FETCHED ROW in batched mapInPandas (the
    # kernel's result is a sorted deduped set, so per-body extraction +
    # flatten/distinct/sort composes exactly); an applyInPandas keyed
    # by page here would make one pandas group — one task's worth of
    # scheduling — per origin page, which collapses at real batch
    # sizes. The only shuffle is the tiny (page, urls) aggregation.
    def run(batches):
        for pdf in batches:
            out_page, out_urls = [], []
            for page_url, sel, html in zip(
                pdf["page_url"], pdf["second_level_sel"], pdf["html"]
            ):
                out_page.append(page_url)
                out_urls.append(
                    extract_second_level(
                        [bytes(html)] if html is not None else [],
                        sel, page_url,
                    )
                )
            yield pd.DataFrame({"url": out_page, "second_imgs": out_urls})

    per_row = fetched.select(
        "page_url", "second_level_sel", "html"
    ).mapInPandas(run, schema="url string, second_imgs array<string>")
    second = per_row.groupBy("url").agg(c["second_agg"])
    # `second` holds one row per two-level origin page (≤ dispatch
    # batch) — broadcast it so the merge-back never sort-merge-shuffles
    merged = (
        extracted.join(F.broadcast(second), "url", "left")
        .withColumn("imgs", c["imgs"])
        .withColumn("origins", c["origins"])
    )
    return merged.drop("second_imgs")


MAIN_TEXT_SCHEMA = (
    "url string, extracted_text string, main_text string, main_tag string"
)


def extract_main_text(df: DataFrame) -> DataFrame:
    """Main-content (boilerplate-removed) text per page alongside the
    full-visible-text invariant, from ONE parse per page
    (functions/maintext.py scoring over the shared DOM). df needs
    url + html (binary); Arrow ``mapInPandas``, same batch shape as
    ``extract_pages`` — the 100-TB path stays one JVM→Python crossing
    per batch with the html blob pruned before any shuffle."""
    from img_spark.functions.dom import Document
    from img_spark.functions.extract import extract_text_from, lossy_decode
    from img_spark.functions.maintext import main_content_from

    def run(batches):
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    out.append((url, "", "", ""))
                    continue
                doc = Document(lossy_decode(bytes(html)))
                full = extract_text_from(doc)
                main, tag = main_content_from(doc)
                out.append((url, full, main, tag))
            yield pd.DataFrame(
                out, columns=["url", "extracted_text", "main_text",
                              "main_tag"],
            )

    return df.select("url", "html").mapInPandas(run, schema=MAIN_TEXT_SCHEMA)
