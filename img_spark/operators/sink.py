"""Download-sink derivation (S4/S5/S6/S7, main.rs:526-766).

The reference's sink is `curl -Z` into per-album directories; the engine
materializes the same decisions as a ``downloads`` table: download dir
(album title, ``/``→``:``, F12), derived filename (F10), percent-encoded
fetch URL (F11), per-host referer (main.rs:641), and the
extension-detection flag (S6). Every column is a pure JVM expression,
the percent-encode included: ``url_encode`` (java.net.URLEncoder) plus a
fixed replace chain reproduces the reference's NON_ALPHANUMERIC set, so
no column of the table runs Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from img_spark.operators.urlexprs import filename_expr


def percent_encode_expr(u: F.Column) -> F.Column:
    """F11 (main.rs:553-564, 629) as a JVM expression, the Column twin
    of ``textops.percent_encode``; NULL stays NULL. URLEncoder keeps
    alnum and ``.-*_``, writes ' ' as '+' and every other UTF-8 byte as
    upper-case %XX; F11 also keeps ``:/?=%`` and encodes '*' and ' '.
    A '%' only ever starts a triplet, so no replace matches across two,
    and '%25' -> '%' runs last so a decoded '%' starts no new match."""
    out = F.url_encode(u)
    for search, repl in (("%3A", ":"), ("%2F", "/"), ("%3F", "?"),
                         ("%3D", "="), ("*", "%2A"), ("+", "%20"),
                         ("%25", "%")):
        out = F.replace(out, F.lit(search), F.lit(repl))
    return out


def download_columns() -> dict:
    """The Column dict behind ``with_download_columns``, exposed so the
    crawl loop can build it ONCE per Crawler: Column trees are
    immutable and reusable across generations, and rebuilding this set
    every step costs ~0.15 s of py4j plan-construction time."""
    dl = F.col("img_url").isNotNull() & ~F.col("img_url").startswith(
        "data:image/"
    )
    u = F.when(
        F.col("img_url").contains(" | "),
        F.substring_index(F.col("img_url"), " | ", 1),
    ).otherwise(F.col("img_url"))
    fname = filename_expr(F.col("img_url"))
    return {
        "download_url": F.when(dl, u),
        "dir": F.when(dl, F.translate(F.col("dir_title"), "/", ":")),
        "filename": F.when(dl, fname),
        "needs_ext_detection": dl & fname.isNull(),
        "referer": F.when(dl, F.concat(F.lit("https://"), F.col("host"))),
        "enc_url": F.when(dl, percent_encode_expr(u)),
    }


def with_download_columns(extracted: DataFrame, cols: dict | None = None) -> DataFrame:
    """Adds the download-sink columns (S4) to extracted rows in place:
    download_url, dir (F12), filename (F10), needs_ext_detection (S6),
    referer (main.rs:641), enc_url (F11). Embeds (`data:image/`) carry
    nulls — the default build counts them, never saves (main.rs:566-577).
    Two-level ``"url | title"`` pairs: left part downloads, right part
    names the file (main.rs:580-609). ``cols`` takes a precompiled
    ``download_columns()`` dict (one withColumns call — this runs on
    the crawl loop's per-generation hot path)."""
    return extracted.withColumns(cols or download_columns())


def downloads_table(extracted: DataFrame) -> DataFrame:
    """Standalone downloads projection (see with_download_columns)."""
    out = with_download_columns(extracted)
    return out.filter(F.col("download_url").isNotNull()).select(
        "page_url", "img_url", "download_url", "dir", "filename",
        "needs_ext_detection", "referer", "enc_url",
    )


def svg_sniff(html_prefix: F.Column) -> F.Column:
    """S7 magic-number fallback (main.rs:753-762): first 16 bytes
    containing '<svg' ⇒ extension 'svg' (the full `infer` table is a
    non-default feature; the svg check is the only in-code sniff)."""
    return F.when(
        F.substring(html_prefix.cast("string"), 1, 16).contains("<svg"),
        F.lit("svg"),
    )


# S7 full table (the reference's optional `infer`-crate path,
# main.rs:739-766, feature "infer"): magic-number → extension for the
# image formats the crawler actually downloads. Pure JVM expression
# over the first 16 bytes — byte-compare via hex so no charset issues.
_MAGIC_PREFIXES = [
    ("FFD8FF", "jpg"),
    ("89504E470D0A1A0A", "png"),
    ("474946383761", "gif"),   # GIF87a
    ("474946383961", "gif"),   # GIF89a
    ("424D", "bmp"),
    ("49492A00", "tif"),
    ("4D4D002A", "tif"),
    ("00000100", "ico"),
]


def magic_extension(bin_col: F.Column) -> F.Column:
    """S7 magic-number type inference (main.rs:739-766): map the first
    16 bytes of a downloaded blob to a file extension; unknown binaries
    fall back to the in-code '<svg' text sniff, then '' (the reference
    renames to an empty extension, main.rs:755-760)."""
    hx = F.hex(F.substring(bin_col, 1, 16))
    out = F.coalesce(svg_sniff(bin_col), F.lit(""))
    # fold right-to-left; containers (RIFF/ftyp) probed before the
    # plain prefixes would shadow them, so add them last (outermost)
    for prefix, ext in reversed(_MAGIC_PREFIXES):
        out = F.when(hx.startswith(prefix), F.lit(ext)).otherwise(out)
    riff_webp = hx.startswith("52494646") & (
        F.substring(hx, 17, 8) == "57454250"  # "WEBP" at byte 8
    )
    # "ftypavif" at byte 4 (ISO-BMFF brand)
    avif = F.substring(hx, 9, 16) == "6674797061766966"
    return (
        F.when(riff_webp, F.lit("webp"))
        .when(avif, F.lit("avif"))
        .otherwise(out)
    )


def write_warc_archives(
    pages: DataFrame,
    out_dir: str,
    status: int = 200,
    content_type: str = "text/html",
    roll_bytes: int = 64 << 20,
) -> int:
    """Archive a (url, warc_ts, html[, ...]) DataFrame as WARC files —
    the write side of ``sources/warc.py`` (a live crawl that only
    extracts and discards the fetched bodies cannot be re-processed;
    Common Crawl itself ships exactly this layout). One
    ``part-<uuid>.warc.gz`` per non-empty partition, each record its
    own gzip member (the Common-Crawl layout the reader's
    member-by-member recovery expects); files land atomically through
    fsio (write to a unique tmp name, rename), so a retried task
    cannot interleave with a finished one and a killed task leaves
    only a tmp file the reader's glob never matches. Returns the
    number of records archived.

    WARC-Date is written in UTC per the spec: the timestamp column is
    converted from the session timezone before the UDF sees it (Spark
    hands pandas NAIVE timestamps in ``spark.sql.session.timeZone`` —
    stamping those with a ``Z`` suffix would mislabel local wall time
    as UTC for any non-UTC session). ``read_warc_pages`` applies the
    inverse conversion, so write→read roundtrips are identity in any
    session timezone.

    Scale shape: pure per-partition work, zero shuffle; a partition
    ROLLS to a fresh ``part-<uuid>.warc.gz`` whenever the buffered
    payload passes ``roll_bytes`` (mirroring the readers' bounded-batch
    discipline — without this, peak task memory is ~2× the partition's
    total payload: the row buffer plus build_warc's concatenation), so
    file count = partitions + payload/roll_bytes and task memory is
    O(roll_bytes), not O(partition)."""
    import uuid as _uuid

    from img_spark import fsio
    from img_spark.sources.warc import build_warc

    tz = pages.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC"
    ) or "UTC"

    def run(batches):
        rows, buffered, n = [], 0, 0

        def flush():
            nonlocal rows, buffered
            if rows:
                name = f"part-{_uuid.uuid4().hex}.warc.gz"
                fsio.write_bytes_atomic(
                    fsio.join(out_dir, name),
                    build_warc(rows, content_type=content_type),
                )
            rows, buffered = [], 0

        for pdf in batches:
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
                if html is None:
                    continue
                body = bytes(html)
                rows.append((url, ts.to_pydatetime(), body, status))
                buffered += len(body)
                n += 1
                if buffered >= roll_bytes:
                    flush()
        flush()
        yield pd.DataFrame({"n": [n]})

    counts = (
        pages.select(
            "url",
            # a NULL warc_ts (nullable column in user pages tables)
            # must not kill the archive task — pandas hands it over as
            # NaT and strftime raises; fall back to the epoch rather
            # than dropping a body that exists
            F.to_utc_timestamp(
                F.coalesce(
                    F.col("warc_ts"), F.timestamp_seconds(F.lit(0))
                ),
                tz,
            ).alias("warc_ts"),
            "html",
        )
        .mapInPandas(run, schema="n long")
        .agg(F.sum("n").alias("n")).collect()[0]["n"]
    )
    return int(counts or 0)
