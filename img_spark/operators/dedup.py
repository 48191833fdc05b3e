"""Deduplication operators for web-text training pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale shapes:
- exact: one hash-groupBy (map-side combinable) — the cheapest pass.
- n-gram Jaccard: exact pairwise via gram-explode + self-join; used as
  the VERIFY stage after LSH candidate generation (never run raw at
  10^10 scale — the LSH bucket join bounds the candidate set).
- MinHash+LSH: signatures are pure column expressions over the distinct
  gram-hash array (shingle → minhash → band → bucket-join); only bucket
  collisions shuffle.
- SimHash: 32-bit signature in one expression; near-dups via banded
  chunk equality (hamming ≤ 32-bits/band_count guarantee).
- embedding cosine: see similarity.py.

Hashes are md5-derived (h32) so DuckDB oracles can reproduce signatures
bit-for-bit; xxhash64 would be Spark-only.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from .textquality import fingerprint, h32, tokens

# MinHash parameters — shared verbatim with SQL oracles.
MINHASH_P = 4_294_967_311  # prime > 2^32
MINHASH_K = 32
LSH_BANDS = 8  # 8 bands × 4 rows


def _perm_params(k: int = MINHASH_K):
    """Deterministic (a, b) pairs derived from md5 — no RNG state."""
    out = []
    for i in range(k):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:8], 16) | 1
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:8], 16)
        out.append((a % 100_000 + 1, b % MINHASH_P))
    return out


PERMS = _perm_params()


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram strings; short docs collapse to one gram.

    Formulated as n-1 ``zip_with`` concats of shifted token arrays —
    higher-order functions evaluate interpreted (no codegen), so the
    former slice-per-gram transform paid an O(n_tokens) array copy per
    gram inside an interpreted lambda: ~600 µs/doc measured, 10x the
    cost of everything else in the dedup family combined. zip_with
    keeps one cheap concat per gram. zip_with pads the shorter
    (shifted) side with NULLs and concat NULL-kills, so the padded
    tail grams come out NULL; the final slice drops exactly those."""
    toks = tokens(text)
    m = F.size(toks)
    g = toks
    for i in range(1, n):
        g = F.zip_with(
            g,
            F.slice(toks, i + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.when(
        m < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(F.slice(g, 1, m - (n - 1)))
    return F.array_distinct(grams)


def gram_hashes(text: Column, n: int = 3) -> Column:
    # distinct applied to the HASHES (not just the gram strings) so an
    # intra-document h32 collision cannot skew na/nb/jaccard — and so the
    # DuckDB oracle (list_distinct over hashes) matches term-for-term
    return F.array_distinct(F.transform(word_ngrams(text, n), h32))


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: every doc gets its
    group representative (min id) and an is_dup flag."""
    w = Window.partitionBy("fp")
    return df.select(
        F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp")
    ).select(
        "doc_id",
        "fp",
        F.min("doc_id").over(w).alias("rep_id"),
    ).withColumn("is_dup", F.col("doc_id") != F.col("rep_id"))


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 30,
) -> DataFrame:
    """LINE-level (paragraph) dedup, CCNet/RefinedWeb-style: split each
    document on newlines and keep only the GLOBALLY FIRST occurrence
    of every distinct substantive line — boilerplate (nav bars, cookie
    banners, footers) repeats verbatim across a crawl and survives
    doc-level dedup because the documents around it differ. First =
    smallest (doc_id, position), deterministic across partitionings.
    Lines shorter than ``min_chars`` (after trim) are exempt — short
    strings ("Home", "1", "") collide naturally and carry no
    boilerplate signal (CCNet's paragraph floor). Returns one row per
    input doc: (doc_id, text, n_lines, n_removed) with ``text``
    reassembled from the surviving lines in original order; NULL-text
    docs pass through unchanged (text NULL, n_lines/n_removed 0) —
    F.split(NULL) explodes to zero rows, which would silently DROP
    the doc and break the one-row-per-input contract callers join on.

    Scale shape: first-occurrence is a groupBy(line-hash).min(struct)
    — MAP-COMBINABLE, so a boilerplate line repeated 10^8 times
    partial-aggregates on the mappers instead of melting one reducer
    (the window-rank formulation would); the verdict join shuffles the
    line table once on the hash. Dedup keys are xxhash64(line) —
    64-bit collisions at corpus scale are possible and would drop a
    false-duplicate line; acceptable for boilerplate removal (CCNet
    itself dedups on 64-bit SHA-1 prefixes)."""
    nulls = df.filter(F.col(text_col).isNull()).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.lit(0).cast("long").alias("n_lines"),
        F.lit(0).cast("long").alias("n_removed"),
    )
    df = df.filter(F.col(text_col).isNotNull())
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumns({
        "lh": F.xxhash64("line"),
        "eligible": F.length(F.trim(F.col("line"))) >= min_chars,
    })
    firsts = (
        lines.filter(F.col("eligible"))
        .groupBy("lh")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    )
    kept = (
        lines.join(firsts, "lh", "left")
        .withColumn(
            "keep",
            ~F.col("eligible")
            | (F.struct("doc_id", "pos") == F.col("first")),
        )
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text"),
            F.count("*").alias("n_lines"),
            F.count(F.when(~F.col("keep"), 1)).alias("n_removed"),
        )
        .unionByName(nulls)
    )


# ---------------------------------------------------------------- jaccard
def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (doc_a < doc_b).

    The gram-explode self-join is quadratic in bucket size — at scale
    this runs ONLY over LSH candidates (minhash_lsh_candidates), here
    also standalone as the small-scale oracle-checkable operator.

    Hot-gram bound: a gram shared by k documents is one group, so it
    emits k·(k−1)/2 pairs — and holds its k-member list — inside a
    single task. Nothing here caps k: a boilerplate gram shared by
    many documents concentrates that quadratic output on one executor.
    Only the LSH verify path bounds k, through ``max_bucket``
    (minhash_lsh_candidates / cap_buckets); the same trade-off is
    why simhash_near_dups keeps its bucket self-join.
    """
    g = df.select(
        F.col(id_col).alias("doc_id"),
        gram_hashes(F.col(text_col), n).alias("ghs"),
    ).select(
        "doc_id",
        # n_grams = the distinct-hash array size, carried through the
        # explode so pair rows arrive with na/nb attached — the former
        # shape re-scanned the input THREE more times (a sizes groupBy
        # plus two join branches, each re-running the shingling) and
        # joined sizes back on twice
        F.size("ghs").cast("long").alias("ng"),
        F.explode("ghs").alias("gram"),
    )
    # pairs per shared gram, generated INSIDE the gram group (sorted
    # member list -> i<j combinations) instead of a gram-keyed
    # self-join: one shuffle of the gram table, no broadcast of the
    # exploded table, and the shingling runs exactly once. The pair
    # volume is identical to the join's (quadratic per hot gram BY
    # DESIGN — this op is the LSH verify stage, see the docstring).
    groups = (
        g.groupBy("gram")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "ng"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = groups.select(
        F.posexplode("ms").alias("i", "a"), "ms"
    ).select(
        "a",
        F.explode(F.slice("ms", F.col("i") + 2, F.size("ms"))).alias("b"),
    )
    inter = pairs.groupBy(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.ng").alias("na"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("b.ng").alias("nb"),
    ).agg(F.count("*").alias("inter"))
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
    )


# ---------------------------------------------------------------- minhash
def minhash_signature_from(ghs: Column, k: int = MINHASH_K) -> Column:
    """Array of k minhash values over a MATERIALIZED gram-hash array
    column: sig_i = min over grams of (a_i*h + b_i) mod P. ``ghs`` must
    be an attribute reference, NOT the gram-hashing expression itself —
    inlining it would recompute the md5 shingling k times per row."""
    return F.array(*[
        F.array_min(
            F.transform(ghs, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
        )
        for a, b in PERMS[:k]
    ])


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
) -> DataFrame:
    """Aggregate formulation of the signature matrix: explode the
    distinct gram hashes ONCE, then one groupBy with k ``min()``
    aggregates. Identical values to ``minhash_signature_from`` (min over
    the same set), but the mins are map-side combinable — partial
    aggregation happens before the shuffle, so only (doc_id, k longs)
    rows cross the wire; the per-row array-expression form churns k
    transient arrays per document instead. This is the shape that holds
    at 10^10 docs.

    NULL-text docs emit no row (explode of the empty hash set) — and
    are therefore EXCLUDED from LSH candidates. Intended: an unfetched
    /binary doc is not a dedup candidate, and the expression form's
    alternative (hashing NULL like "") would band-match every null doc
    against every empty doc. Empty-STRING docs keep the h32("")
    signature in both forms and still pair with each other (pinned by
    tests/test_dataops.py)."""
    g = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(gram_hashes(F.col(text_col))).alias("gh"),
    )
    aggs = [
        F.min((F.col("gh") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(
            f"s{i}"
        )
        for i, (a, b) in enumerate(PERMS[:k])
    ]
    return g.groupBy("doc_id").agg(*aggs).select(
        "doc_id", F.array(*[F.col(f"s{i}") for i in range(k)]).alias("sig")
    )


# ------------------------------------------------------- hot-bucket guard
def cap_buckets(df: DataFrame, key_cols, max_bucket: int) -> DataFrame:
    """Drop every row belonging to a bucket larger than ``max_bucket``.
    All LSH candidate joins are quadratic INSIDE a bucket — one hot
    bucket (boilerplate pages, empty-ish docs hashing together) turns a
    linear pass into n² on a single reducer. The cap bounds per-bucket
    work; the recall loss is EXPLICIT — pair it with
    ``bucket_drop_report`` so truncation never silently reads as full
    coverage. The window count shuffles on the same bucket key the
    candidate join uses, so no new shuffle shape is introduced."""
    w = Window.partitionBy(*[F.col(c) for c in key_cols])
    return (
        df.withColumn("_bn", F.count("*").over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def bucket_drop_report(df: DataFrame, key_cols, max_bucket: int) -> DataFrame:
    """The buckets ``cap_buckets`` would drop: (key…, n,
    dropped_pairs). Emit/persist this next to any capped run — it is
    the coverage ledger for the truncation."""
    return (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket)
        .withColumn(
            "dropped_pairs",
            (F.col("n") * (F.col("n") - 1) / 2).cast("long"),
        )
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = LSH_BANDS,
    k: int = MINHASH_K,
) -> DataFrame:
    """Banded LSH keys per doc: (doc_id, band, bucket)."""
    r = k // bands
    sig = minhash_signatures(df, id_col, text_col, k)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(",", *[
                            F.col("sig")[b * r + j].cast("string")
                            for j in range(r)
                        ])
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = LSH_BANDS,
    k: int = MINHASH_K,
    max_bucket: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.
    shingle → minhash → band → bucket-join; only bucket keys shuffle.
    ``max_bucket`` bounds the quadratic per-bucket join (see
    cap_buckets; report the drops with bucket_drop_report over
    minhash_bands). ``banded`` supplies a precomputed/persisted
    ``minhash_bands`` table — the minhash pass is the dominant CPU, so
    callers that also materialize the bands (the corpus bridge's
    incremental state) must not pay it twice."""
    if banded is None:
        banded = minhash_bands(df, id_col, text_col, bands, k)
    # pairs generated INSIDE each (band, bucket) group from the sorted
    # member list — the former bucket-keyed self-join evaluated the
    # whole shingle->minhash->band subtree TWICE (a broadcast join's
    # streamed side is not an Exchange, so ReuseExchange never fires)
    # and needed a separate window pass for the cap; the group form
    # computes the bands once and the cap is a group-size filter on
    # the same aggregate. Pair volume is unchanged (quadratic per
    # bucket, bounded by max_bucket).
    groups = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    if max_bucket is not None:
        groups = groups.filter(F.size("ms") <= max_bucket)
    return (
        groups.select(F.posexplode("ms").alias("i", "doc_a"), "ms")
        .select(
            "doc_a",
            F.explode(
                F.slice("ms", F.col("i") + 2, F.size("ms"))
            ).alias("doc_b"),
        )
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact-Jaccard verify.

    The verify stage computes Jaccard ONLY for candidate pairs, via
    array_intersect on the per-doc gram-hash arrays — never the full
    gram-explode self-join (which blows up quadratically on common
    shingles and is exactly what LSH exists to avoid at scale).
    ``banded`` forwards a precomputed band table (see
    minhash_lsh_candidates)."""
    cand = minhash_lsh_candidates(
        df, id_col, text_col, max_bucket=max_bucket, banded=banded
    )
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        gram_hashes(F.col(text_col)).alias("ghs"),
    )
    # grams is CORPUS-sized — never broadcast it (a broadcast of per-doc
    # gram arrays cannot fit at 100 TB). Shuffle-join the candidate-pair
    # table against grams on doc id instead: each join shuffles the pair
    # table + one pass of id-keyed gram arrays, both linear; AQE still
    # downgrades to a broadcast at test scale when grams is tiny.
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("ghs").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("ghs").alias("gb"))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union = F.size("ga") + F.size("gb") - inter
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------- clustering
def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """Collapse near-dup PAIRS into clusters: iterative min-label
    propagation (the standard large-graph connected-components shape —
    each iteration is one shuffle join of edge-sized data + a map-side
    combinable min; iterations ≤ graph diameter, convergence checked
    with a cheap aggregate). Returns (doc_id, rep_id) for every node
    that appears in a pair; rep_id = the component's minimum doc id —
    the keep-the-smallest-id dedup policy."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "rep_id", F.col("doc_id")
    ).persist()
    for _ in range(max_iters):
        # each node takes the min of its own label and its neighbours'
        prop = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"),
                    F.col("rep_id").alias("nbr_rep"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("nbr_rep").alias("nbr_min"))
        )
        new_labels = (
            labels.join(prop, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("rep_id"), F.coalesce(F.col("nbr_min"), F.col("rep_id"))
                ).alias("rep_id"),
            )
            .persist()
        )
        # convergence: no node's label changed this iteration. The
        # changed-row count works for ANY orderable id type (numeric
        # doc ids AND string URLs — the old sum-witness cast strings
        # to double and threw). Deliberately a FULL count, no
        # limit(1): the full scan materializes every partition of
        # new_labels' cache in this same job, so unpersisting the
        # parent below never forces a recompute through unpersisted
        # ancestors (a limited probe can stop early and leave the
        # cache partial)
        changed = (
            new_labels.withColumnRenamed("rep_id", "new_rep")
            .join(labels, "doc_id")
            .filter(F.col("new_rep") != F.col("rep_id"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    # returned persisted (each iteration was materialized by the
    # convergence aggregate, so lineage never re-runs); caller may
    # unpersist when done
    return labels


# ---------------------------------------------------------------- simhash
# Salt for the high 32-bit word of the 64-bit signature: word 0 hashes
# the token itself (backward-compatible with the 32-bit form), word 1
# hashes token||'#2' — an independent 32-bit hash family, shared
# verbatim with the DuckDB oracles.
_SIMHASH_HI_SALT = "#2"


def simhash32(text: Column, salt: str = "") -> Column:
    """32-bit SimHash over word h32 hashes, as one expression: per-bit
    weight = Σ(bit? +1 : -1); signature bit j set iff weight > 0.
    ``salt`` is appended to each token before hashing (used to derive
    the independent high word of the 64-bit signature)."""
    toks = F.array_distinct(tokens(text))
    if salt:
        hs = F.transform(toks, lambda t: h32(F.concat(t, F.lit(salt))))
    else:
        hs = F.transform(toks, h32)
    # bit positions unrolled as literals (shiftright needs an int shift)
    acc = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for j in range(32)
            ]),
            lambda x, y: x + y,
        ),
    )
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])
    return F.aggregate(
        F.zip_with(
            acc,
            powers,
            lambda w, p: F.when(w > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


def simhash32_agg(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Aggregate formulation of simhash32 (identical values): per-bit
    weight = 2·(count of set bits) − n_tokens, so one explode of the
    distinct token hashes + 32 map-side-combinable ``sum()`` aggregates
    replaces the per-row 32-array fold. Returns (doc_id, sh).

    NULL-text docs emit no row and are excluded from near-dup bands —
    intended (the expression form emits sh=NULL for them, and NULL join
    keys never band-match, so the resulting PAIR set is identical);
    empty-string docs keep their real signature in both forms."""
    h = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(F.array_distinct(tokens(F.col(text_col))), h32)
        ).alias("h"),
    )
    aggs = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"c{j}")
        for j in range(32)
    ] + [F.count("*").alias("n")]
    agged = h.groupBy("doc_id").agg(*aggs)
    sh = None
    for j in range(32):
        term = F.when(
            F.col(f"c{j}") * 2 > F.col("n"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sh = term if sh is None else sh + term
    return agged.select("doc_id", sh.alias("sh"))


def simhash64_agg(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash as TWO 32-bit words (doc_id, sh_lo, sh_hi) — two
    longs instead of one 64-bit value so the sign bit never enters the
    sum-of-powers arithmetic and the DuckDB oracle stays exact. Word 0
    uses h32(token) (≡ ``simhash32_agg``), word 1 the independent
    family h32(token||'#2'). Same shape as the 32-bit aggregate: one
    explode of the distinct token hashes, 64 map-side-combinable sums.
    NULL-text docs emit no row (pinned; see ``simhash32_agg``)."""
    h = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(tokens(F.col(text_col)))
        ).alias("t"),
    ).select(
        "doc_id",
        h32(F.col("t")).alias("h0"),
        h32(F.concat(F.col("t"), F.lit(_SIMHASH_HI_SALT))).alias("h1"),
    )
    aggs = [
        F.sum(
            F.shiftright(F.col(f"h{w}"), j).bitwiseAND(F.lit(1))
        ).alias(f"c{w}_{j}")
        for w in range(2) for j in range(32)
    ] + [F.count("*").alias("n")]
    agged = h.groupBy("doc_id").agg(*aggs)
    words = []
    for w, name in ((0, "sh_lo"), (1, "sh_hi")):
        sh = None
        for j in range(32):
            term = F.when(
                F.col(f"c{w}_{j}") * 2 > F.col("n"),
                F.lit(1 << j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            sh = term if sh is None else sh + term
        words.append(sh.alias(name))
    return agged.select("doc_id", *words)


def simhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
) -> DataFrame:
    """Banded 64-bit SimHash: (doc_id, sh_lo, sh_hi, band, chunk) with
    ``64/bands``-bit chunks. At the default 4 bands each chunk is 16
    bits → 65,536 buckets per band. (Round-3 verdict: the former 32-bit
    signature gave 8-bit chunks — 256 buckets per band, so at 10⁹ docs
    every bucket held ~N/256 docs and the per-bucket quadratic join
    exploded; 16-bit chunks keep the same hamming<bands recall
    guarantee with a 256× larger bucket space.)"""
    width = 64 // bands
    if 32 % width:
        raise ValueError("band width must divide the 32-bit words")
    sig = simhash64_agg(df, id_col, text_col)
    per_word = 32 // width
    return sig.select(
        "doc_id",
        "sh_lo",
        "sh_hi",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(
                        F.col("sh_lo") if b < per_word else F.col("sh_hi"),
                        (b % per_word) * width,
                    )
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk"),
                )
                for b in range(bands)
            ])
        ).alias("bc"),
    ).select("doc_id", "sh_lo", "sh_hi", "bc.band", "bc.chunk")


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates: equal 16-bit chunk of the 64-bit SimHash in
    any of 4 bands (guarantees recall for hamming distance < bands),
    then exact hamming over both words. ``max_bucket`` bounds the
    quadratic per-chunk join (cap_buckets; drops reportable via
    bucket_drop_report)."""
    # NOTE (r8): the bucket-keyed self-join IS the measured-fastest
    # shape here, unlike minhash_lsh_candidates — simhash's band chunks
    # are 16-bit truncations with genuinely hot buckets (a 1,639-member
    # chunk at the bench corpus), so in-group pair generation pays an
    # O(members) struct-array slice per member inside one task, while
    # the broadcast probe spreads the same quadratic output across the
    # streamed side's partitions; the recomputed simhash64_agg subtree
    # is the cheap part (~0.6 s vs the join's ~2.5 s at sf0.1).
    banded = simhash_bands(df, id_col, text_col, bands)
    if max_bucket is not None:
        banded = cap_buckets(banded, ("band", "chunk"), max_bucket)
    x = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_lo").alias("sha_lo"), F.col("sh_hi").alias("sha_hi"),
        "band", "chunk",
    )
    y = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_lo").alias("shb_lo"), F.col("sh_hi").alias("shb_hi"),
        "band", "chunk",
    )
    pairs = (
        x.join(y, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sha_lo", "sha_hi", "shb_lo", "shb_hi")
        # dedupe on the pair key only: the signature words are
        # functionally determined by the doc ids, so every duplicate
        # row is bit-identical and dropDuplicates on 2 columns equals
        # distinct() on all 6 — with a cheaper grouping compare
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs.withColumn(
        "hamming",
        F.bit_count(F.col("sha_lo").bitwiseXOR(F.col("shb_lo")))
        + F.bit_count(F.col("sha_hi").bitwiseXOR(F.col("shb_hi"))),
    )


# ------------------------------------------------------ decontamination
def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark n-gram decontamination (standard training-data
    hygiene: drop corpus documents that overlap an evaluation set, so
    the trained model is not graded on memorized test data). A document
    is contaminated when it shares ANY distinct word n-gram hash with
    the benchmark. Returns (doc_id, bench_hits, contaminated) for every
    input doc — bench_hits = number of shared distinct grams.

    Scale shape: the benchmark gram set is tiny next to the corpus
    (eval sets are thousands of docs, the corpus 10^10), so it is
    DISTINCT-ed and broadcast; corpus grams stream through the
    broadcast join with no shuffle of the corpus side, and the per-doc
    hit count is a map-side-combinable aggregate."""
    bg = benchmark.select(
        F.explode(gram_hashes(F.col(bench_text_col), n)).alias("gh")
    ).distinct()
    hits = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(gram_hashes(F.col(text_col), n)).alias("gh"),
        )
        .join(F.broadcast(bg), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("bench_hits"))
    )
    out = docs.select(F.col(id_col).alias("doc_id")).join(hits, "doc_id", "left")
    n_hits = F.coalesce(F.col("bench_hits"), F.lit(0).cast("long"))
    return out.select(
        "doc_id",
        n_hits.alias("bench_hits"),
        (n_hits > 0).alias("contaminated"),
    )
