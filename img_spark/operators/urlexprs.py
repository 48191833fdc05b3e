"""JVM-side column-expression twins of the URL kernels.

Frontier-side operations (host parsing, canonicalization, filename
derivation) never touch Python: they compile to Catalyst expressions
inside whole-stage codegen. The pandas-UDF kernels in functions/textops
are the per-page extraction path; these are the per-URL scheduling path.
Parity between the two is pinned by tests and by the DuckDB oracle
queries in __spark_entry__.py.

Reference semantics: check_host main.rs:50-62, canonicalize
main.rs:501-523, filename main.rs:583-614.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def url_hash(url: Column) -> Column:
    """THE url hash (long): the seen filter's h64 and every url bucket
    and salt derive from it, so two sites that must agree (the seen
    salt and the hash the seen blobs are keyed by; a stored bucket
    column and the bucket list a later scan prunes on) cannot
    drift."""
    return F.xxhash64(url)


def url_bucket(url: Column, n: int) -> Column:
    """``pmod(url_hash(url), n)`` as long; stored bucket columns cast
    it to int."""
    return F.pmod(url_hash(url), F.lit(n))


def batch_buckets(df: DataFrame, col: str, n: int) -> list:
    """Distinct int url buckets of a (small, batch-sized) DataFrame —
    one eager job; the list becomes an ``isin`` filter that prunes a
    bucketed scan to the files the batch's URLs can live in."""
    return [
        r["b"] for r in df.select(
            url_bucket(F.col(col), n).cast("int").alias("b")
        ).distinct().collect()
    ]


def _scheme_rest(url: Column):
    """Rust ``split_once("://")`` with default scheme http (main.rs:51)."""
    pos = F.instr(url, "://")
    scheme = F.when(pos > 0, F.substring(url, F.lit(1), pos - 1)).otherwise(
        F.lit("http")
    )
    rest = F.when(pos > 0, F.substring(url, pos + 3, F.lit(1 << 30))).otherwise(url)
    return scheme, rest


def host_of(url: Column) -> Column:
    """P1: host portion, or NULL when the reference would quit
    (bad scheme / dot-less host)."""
    scheme, rest = _scheme_rest(url)
    host = F.substring_index(rest, "/", 1)
    valid = F.lower(scheme).isin("http", "https") & host.contains(".")
    return F.when(valid, host)


def canonicalize_expr(url: Column, addr: Column) -> Column:
    """E6 as a pure projection (no UDF)."""
    scheme, path = _scheme_rest(addr)
    host = F.substring_index(path, "/", 1)
    tail_len = F.length(F.substring_index(path, "/", -1))
    dir_ = F.when(
        path.contains("/"),
        F.substring(path, F.lit(1), F.length(path) - tail_len - 1),
    ).otherwise(path)
    return (
        F.when(url == "", url)
        .when(url.startswith("http"), url)
        .when(url.startswith("//"), F.concat(scheme, F.lit(":"), url))
        .when(url.startswith("/"), F.concat(scheme, F.lit("://"), host, url))
        .otherwise(F.concat(scheme, F.lit("://"), dir_, F.lit("/"), url))
    )


def filename_expr(url: Column) -> Column:
    """F10 sink filename as a projection: name after the last '/', strip
    leading -/_ , skip past '?url=', cut the query when an extension
    exists; NULL marks no-slash (invalid) or extension-less URLs (those
    go through content-type detection, S6)."""
    u = F.when(
        url.contains(" | "), F.substring_index(url, " | ", 1)
    ).otherwise(url)
    has_slash = u.contains("/")
    name0 = F.substring_index(u, "/", -1)
    name1 = F.regexp_replace(name0, "^[-_]+", "")
    qu = F.instr(name1, "?url=")  # FIRST occurrence (main.rs:588 find)
    name2 = F.when(
        qu > 0, F.substring(name1, qu + 5, F.lit(1 << 30))
    ).otherwise(name1)
    no_query = F.substring_index(name2, "?", 1)
    has_ext = no_query.contains(".")
    # extension-less two-level pairs name the file from the right part
    # of the FIRST " | " (main.rs:601-609)
    sep = F.instr(url, " | ")
    right = F.substring(url, sep + 3, F.lit(1 << 30))
    return F.when(has_slash & has_ext, no_query).when(
        has_slash & (sep > 0), right
    )
