"""Robots rules + per-host politeness budget (north_rule components; no
counterpart in the reference — its only politeness is the referer header
main.rs:641 and the sequential one-page-at-a-time loop main.rs:42-46).

Design for scale:
- robots is tiny → ``F.broadcast`` join; the longest-matching-prefix
  resolution runs over the per-generation CANDIDATE batch (newly
  discovered URLs), never over the full frontier — each URL is
  robots-checked exactly once, at enqueue time.
- the per-host top-K dispatch is a window ``row_number`` ordered by the
  DFS ``path`` — the idiomatic-Spark realization of the reference's
  sequential per-site loop (SURVEY.md §2.7). This is the one
  frontier-sized shuffle per generation (the crawler's "generate" step —
  same shape as Nutch's CrawlDb generate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from img_spark.operators.urlexprs import url_bucket

ROBOTS_DDL = "host string, path_prefix string, allow boolean, crawl_delay double"


def robots_df(spark, rows) -> DataFrame:
    return spark.createDataFrame(rows, ROBOTS_DDL)


def parse_robots_txt(body: str, agent: str = "*") -> list:
    """Parse a robots.txt body into (path_prefix, allow, crawl_delay)
    rules for ``agent`` (RFC 9309 subset: grouped records, user-agent
    selection by longest match with '*' fallback, Allow/Disallow path
    prefixes, Crawl-delay; comments and blank-line group breaks).
    An empty Disallow value means allow-all and yields no rule."""
    groups: list = []  # (agents, rules, delay)
    agents: list = []
    rules: list = []
    delay = 0.0
    saw_directive = False

    def flush():
        nonlocal agents, rules, delay, saw_directive
        if agents:
            groups.append((agents, rules, delay))
        agents, rules, delay, saw_directive = [], [], 0.0, False

    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if saw_directive:
                flush()
            agents.append(val.lower())
        elif key in ("allow", "disallow"):
            saw_directive = True
            if val:
                rules.append((val, key == "allow"))
        elif key == "crawl-delay":
            saw_directive = True
            try:
                delay = float(val)
            except ValueError:
                pass
    flush()

    want = agent.lower()
    best = None
    best_len = -1
    for agents_g, rules_g, delay_g in groups:
        for a in agents_g:
            if a == "*":
                L = 0
            elif a and a in want:
                L = len(a)
            else:
                continue
            if L > best_len:
                best, best_len = (rules_g, delay_g), L
    if best is None:
        return []
    return [(p, allow, best[1]) for p, allow in best[0]]


def parse_robots_sitemaps(body: str) -> list:
    """Extract ``Sitemap:`` URLs from a robots.txt body. Per the
    sitemaps protocol these lines are global (not scoped to any
    user-agent group), so this is a plain line scan — the crawler's
    seed-discovery entry (``Sitemap:`` in robots → sitemap_seeds).
    A ``#`` starts a comment only at line start or after whitespace —
    a sitemap URL carrying a fragment ('...xml#frag') must not be
    truncated to a broken URL (round-5 ADVICE)."""
    import re

    out = []
    for raw in body.splitlines():
        line = re.split(r"(?:^|\s)#", raw, 1)[0].strip()
        key, _, val = line.partition(":")
        if key.strip().lower() == "sitemap":
            val = val.strip()
            if val:
                out.append(val)
    return out


def robots_rules_from_bodies(df: DataFrame, agent: str = "*") -> DataFrame:
    """Arrow mapInPandas over a (host, body) table of fetched robots.txt
    files → the ROBOTS_DDL rules table that apply_robots broadcasts.
    Hosts whose body yields no rule (or null body) emit nothing —
    apply_robots defaults those to allowed."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            hosts, prefixes, allows, delays = [], [], [], []
            for host, body in zip(pdf["host"], pdf["body"]):
                if body is None:
                    continue
                for prefix, allow, delay in parse_robots_txt(str(body), agent):
                    hosts.append(host)
                    prefixes.append(prefix)
                    allows.append(allow)
                    delays.append(delay)
            yield pd.DataFrame({
                "host": hosts, "path_prefix": prefixes,
                "allow": allows, "crawl_delay": delays,
            })

    return df.select("host", "body").mapInPandas(run, schema=ROBOTS_DDL)


def _url_path(url_col=None):
    """URL → robots path ('/' when the URL has no path component) —
    shared by both robots matchers so the parsing can never diverge."""
    u = url_col if url_col is not None else F.col("url")
    pos = F.instr(u, "://")
    rest = F.when(pos > 0, F.substring(u, pos + 3, F.lit(1 << 30))).otherwise(u)
    slash = F.instr(rest, "/")
    return F.when(
        slash > 0, F.substring(rest, slash, F.lit(1 << 30))
    ).otherwise(F.lit("/"))


# --------------------------------------------------------------- matching
# RFC 9309 §2.2.2/§2.2.3 pattern matching, ONE kernel in two forms that
# are pinned equivalent by tests: the Column-expression form below (runs
# in the matchers) and the pure-Python twin (robots_pattern_regex /
# robots_pattern_matches — unit-test oracle and any Python-side caller).
# Rules are matched as patterns, not literal prefixes: '*' spans any
# run of characters, a TRAILING '$' anchors the end of the path (a
# mid-pattern '$' is a literal octet), everything else matches
# literally. Percent-escapes are normalized per RFC 3986 §6.2.2 on
# BOTH the path and the pattern before matching: escapes of UNRESERVED
# octets decode to the octet itself (%7E ≡ ~, %41 ≡ A — §6.2.2.2),
# every other escape keeps its encoding with the hex digits
# case-normalized (%3c ≡ %3C — §6.2.2.1). Decoding reserved octets
# would CHANGE meaning (%2F is not '/'), so they stay encoded.
# Precedence is the RFC's most-specific rule: longest NORMALIZED
# pattern in octets wins (the raw spelling's length is an encoding
# artifact — '/%61%62' IS the 3-octet pattern '/ab'), Allow wins
# length ties.

_RE_SPECIALS = r"([.\[\]{}()+?^$|\\])"  # regex metachars to escape ('*' excluded)

# unreserved octets (RFC 3986 §2.3): ALPHA / DIGIT / - . _ ~
_UNRESERVED_EXTRA = (45, 46, 95, 126)


def _pct_norm_expr(col):
    """Normalize every %XX escape: decode it when the octet is
    unreserved ('/%7Euser' → '/~user'), else uppercase the hex
    ('/a%3cb' → '/a%3Cb'); non-hex '%' sequences pass through
    untouched. Split on a lookahead keeps each '%' with its following
    octet, so this is a pure array transform — no UDF, no shuffle.
    Decoding happens BEFORE the pattern-side regex escaping
    (``_pattern_regex_expr``), so a decoded '.' is still matched
    literally."""
    segs = F.split(col, "(?=%)")

    def fix(s):
        hx = F.upper(F.substring(s, 2, 2))
        rest = F.substring(s, F.lit(4), F.length(s))
        d = F.conv(hx, 16, 10).cast("int")
        unreserved = (
            ((d >= 48) & (d <= 57))        # DIGIT
            | ((d >= 65) & (d <= 90))      # ALPHA upper
            | ((d >= 97) & (d <= 122))     # ALPHA lower
            | d.isin(*_UNRESERVED_EXTRA)   # - . _ ~
        )
        return F.when(
            s.startswith("%")
            & F.substring(s, 2, 2).rlike("^[0-9a-fA-F]{2}$"),
            F.when(unreserved, F.concat(F.char(d), rest))
            .otherwise(F.concat(F.lit("%"), hx, rest)),
        ).otherwise(s)

    return F.array_join(F.transform(segs, fix), "")


def robots_pct_norm(s: str) -> str:
    """Pure-Python twin of ``_pct_norm_expr`` (same output for the
    same input — pinned by the differential test)."""
    import re as _re

    def repl(m):
        d = int(m.group(1), 16)
        if (
            48 <= d <= 57 or 65 <= d <= 90 or 97 <= d <= 122
            or d in _UNRESERVED_EXTRA
        ):
            return chr(d)
        return "%" + m.group(1).upper()

    return _re.sub("%([0-9a-fA-F]{2})", repl, s)


def _pattern_regex_expr(pat):
    """Robots pattern → anchored regex using only ``^ . * $ \\``-escape
    constructs — a subset that Java regex (Spark) and RE2 (the DuckDB
    oracles) interpret identically. Computed on the RULES side only
    (tiny, broadcast), never per candidate."""
    pat = _pct_norm_expr(pat)
    anchored = pat.endswith("$")
    core = F.when(
        anchored, F.substring(pat, F.lit(1), F.length(pat) - 1)
    ).otherwise(pat)
    esc = F.regexp_replace(core, _RE_SPECIALS, r"\\$1")
    starred = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(
        F.lit("^"), starred,
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )


def robots_pattern_regex(pattern: str) -> str:
    """Pure-Python twin of ``_pattern_regex_expr`` (same output string
    for the same pattern — pinned by tests)."""
    import re as _re

    pattern = robots_pct_norm(pattern)
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    esc = _re.sub(_RE_SPECIALS, r"\\\1", core)
    return "^" + esc.replace("*", ".*") + ("$" if anchored else "")


def robots_pattern_matches(pattern: str, path: str) -> bool:
    """Does a robots Allow/Disallow pattern match a URL path (RFC 9309
    semantics, RFC 3986-normalized: unreserved escapes decoded, the
    rest percent-case-normalized)?"""
    import re as _re

    path = robots_pct_norm(path)
    return _re.search(robots_pattern_regex(pattern), path) is not None


def apply_robots(
    candidates: DataFrame,
    robots: DataFrame,
    key_cols: tuple = ("url",),
) -> DataFrame:
    """Adds ``allowed`` (boolean, default True when no rule matches) and
    ``crawl_delay`` columns. RFC 9309 matching (see the kernel above):
    ``path_prefix`` values are PATTERNS ('*' wildcard, trailing '$'
    anchor, percent-case-normalized); the longest pattern wins, Allow
    wins length ties (then higher crawl_delay, for determinism — the
    same total order ``apply_robots_rules``'s struct sort uses).

    ``candidates`` must carry ``host`` and ``url``; ``key_cols`` must
    uniquely identify a candidate ROW (pass e.g. ("url", "path") when
    the same url can be discovered by several parents — otherwise the
    first-match window would nondeterministically collapse them).
    """
    cand = candidates.withColumn("__path", _pct_norm_expr(_url_path()))
    rb = robots.withColumns({
        "__re": _pattern_regex_expr(F.col("path_prefix")),
        "__wild": _is_wild_expr(F.col("path_prefix")),
        "__np": _pct_norm_expr(F.col("path_prefix")),
    })
    j = cand.join(F.broadcast(rb), "host", "left").withColumn(
        "__match",
        F.col("path_prefix").isNotNull()
        & F.when(
            F.col("__wild"),
            F.regexp_like(F.col("__path"), F.col("__re")),
        ).otherwise(F.col("__path").startswith(F.col("__np"))),
    )
    # specificity = octets of the NORMALIZED pattern (RFC 9309 §2.2.2
    # "most octets" over what actually matched): decode-unreserved can
    # shorten a pattern ('/%61%62' → '/ab'), and ranking by the raw
    # spelling would let a 7-octet spelling of a 3-octet pattern beat
    # a genuinely more specific 5-octet rule
    w = Window.partitionBy(*key_cols).orderBy(
        F.when(F.col("__match"), F.length("__np")).otherwise(-1).desc(),
        F.when(F.col("__match"), F.col("allow")).otherwise(F.lit(False)).desc(),
        F.when(F.col("__match"), F.col("crawl_delay")).otherwise(F.lit(0.0)).desc(),
    )
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumns({
            "allowed":
                F.when(F.col("__match"), F.col("allow")).otherwise(F.lit(True)),
            "crawl_delay":
                F.when(F.col("__match"), F.col("crawl_delay"))
                .otherwise(F.lit(0.0)),
        })
        .drop("__rn", "__match", "__path", "__re", "__wild", "__np",
              "path_prefix", "allow")
    )


def _is_wild_expr(pat):
    """Does a robots pattern need regex matching? Only '*' anywhere or
    a trailing '$' — everything else is a literal prefix."""
    return pat.contains("*") | pat.endswith("$")


def robots_compact(robots: DataFrame) -> DataFrame:
    """ONE row per host: its rules as an array (precompute once per
    crawl — the rules table is static across generations). Each rule
    carries its match machinery precompiled: ``wild`` (does it need
    regex at all), ``re`` (the compiled pattern regex) and ``np`` (the
    percent-normalized literal prefix). The matchers take the regex
    path ONLY for wildcard rules: a non-foldable regex pattern defeats
    RLike's single-entry compile cache, so candidates×rules
    Pattern.compile calls would land on the hot path — while the
    overwhelming majority of real robots rules are plain prefixes that
    a startswith handles inside codegen."""
    return robots.groupBy("host").agg(
        F.collect_list(
            F.struct(
                "path_prefix", "allow", "crawl_delay",
                _pattern_regex_expr(F.col("path_prefix")).alias("re"),
                _is_wild_expr(F.col("path_prefix")).alias("wild"),
                _pct_norm_expr(F.col("path_prefix")).alias("np"),
            )
        ).alias("rules")
    )


def compile_robots_match() -> dict:
    """Build-once Column fragments for ``apply_robots_rules``: the
    crawl loop robots-checks a candidate batch every generation, and
    rebuilding the normalize + lambda + struct-sort trees costs ~0.2 s
    of py4j plan-construction per call. Column trees are immutable —
    one compiled dict serves every generation of a Crawler. Wildcard
    rules match via their precompiled regex; plain-prefix rules (the
    overwhelming majority in real robots.txt) stay on a codegen
    startswith against the percent-normalized prefix — no per-row
    Pattern.compile on the hot path (see robots_compact)."""
    matched = F.filter(
        F.col("rules"),
        lambda r: F.when(
            r["wild"], F.regexp_like(F.col("__path"), r["re"])
        ).otherwise(F.col("__path").startswith(r["np"])),
    )
    # F.get (not getItem): a host can have rules but none matching the
    # path — ANSI mode makes [0] on the empty array an error, get()
    # returns NULL and the coalesce below applies the allow-all default
    # specificity = octets of the NORMALIZED pattern (np) — see the
    # matching rationale in apply_robots; both matchers and the DuckDB
    # oracle rank identically
    best = F.get(
        F.sort_array(
            F.transform(
                matched,
                lambda r: F.struct(
                    F.length(r["np"]).alias("l"),
                    r["allow"].alias("allow"),
                    r["crawl_delay"].alias("crawl_delay"),
                ),
            ),
            asc=False,
        ),
        0,
    )
    return {
        "path": _pct_norm_expr(_url_path()),
        "allowed": F.coalesce(best["allow"], F.lit(True)),
        "crawl_delay": F.coalesce(best["crawl_delay"], F.lit(0.0)),
    }


def apply_robots_rules(
    candidates: DataFrame,
    compact: DataFrame,
    compiled: dict | None = None,
) -> DataFrame:
    """Shuffle-free twin of ``apply_robots`` over the compacted rules
    table: broadcast join on host (no fan-out — one rules array per
    host), then longest-matching-prefix selection as pure array
    expressions. ``apply_robots`` needs a per-candidate window (a
    candidate-batch shuffle every generation) to collapse the rule
    fan-out; this form never fans out, so the crawl loop's candidate
    path keeps ZERO robots shuffles. RFC 9309 matching (see the kernel
    above) via each rule's precompiled regex; equal-length ties break
    to allow=True then higher crawl_delay (the same order the window
    form uses). Rows whose host has no rules (or no matching pattern)
    default to allowed=True, crawl_delay=0.0. ``compiled`` takes a
    ``compile_robots_match()`` dict built once per crawl."""
    c = compiled or compile_robots_match()
    j = candidates.withColumn("__path", c["path"]).join(
        F.broadcast(compact), "host", "left"
    )
    return j.withColumns({
        "allowed": c["allowed"],
        "crawl_delay": c["crawl_delay"],
    }).drop("__path", "rules")


def _order_keys(order: str, score: str | None):
    """Window ordering for the frontier priority queue. 'dfs': the DFS
    path (reference visit-order parity). 'bfs': (depth, path) —
    shallow-first. 'score': a caller SQL expression, HIGHEST first
    (depth scoring, freshness, quality priors …), with (path, url)
    tiebreak for determinism."""
    if order == "score":
        if not score:
            raise ValueError("order='score' requires a score expression")
        return [F.expr(score).desc(), F.col("path"), F.col("url")]
    if order == "bfs":
        return [F.col("depth"), F.col("path"), F.col("url")]
    return [F.col("path"), F.col("url")]


def _host_budget_col(
    host_budget: int, host_budgets: DataFrame | None
):
    """(budget Column, prepare(df) fn). With a per-host override table
    (host, budget) the frontier broadcast-joins it (tiny: one row per
    configured host) and each host's budget is its override or the
    default."""
    if host_budgets is None:
        return F.lit(host_budget), lambda df: df
    def prep(df):
        # a duplicate host row in the override table would MULTIPLY
        # frontier rows through this left join (and the duplicates
        # would flow into the frontier state and extracted writes) —
        # reduce to one row per host BEFORE broadcasting. min():
        # conflicting overrides resolve deterministically to the more
        # polite budget (dropDuplicates would keep an arbitrary row,
        # making dispatch partition-dependent)
        return df.join(
            F.broadcast(
                host_budgets.groupBy("host").agg(
                    F.min("budget").alias("__hb")
                )
            ),
            "host", "left",
        )
    return F.coalesce(F.col("__hb"), F.lit(host_budget)), prep


def dispatch_top_k(
    pending: DataFrame,
    host_budget: int = 1,
    batch_window_s: float = 60.0,
    order: str = "dfs",
    score: str | None = None,
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """Adds ``dispatch`` boolean: the per-host top-K of the priority
    queue (north_star: host-budget + depth scoring). Ordering modes:
    see ``_order_keys`` — 'score' ranks by any SQL expression over the
    frontier row (e.g. ``'-depth'`` or ``'-depth - 0.1 * size(path)'``)
    so crawl policy is data, not code. ``host_budgets`` (host, budget)
    overrides the default per host (big sites get wider budgets, small
    ones stay polite). A row-level ``crawl_delay`` (from robots) CAPS
    the effective budget at ``batch_window_s / delay`` (floored at 1) —
    a robots throttle can only lower the dispatch rate, never raise it;
    rows beyond the budget stay pending and keep their priority
    (carry-over, SURVEY.md §4.3)."""
    base_budget, prep = _host_budget_col(host_budget, host_budgets)
    budget = F.when(
        F.col("crawl_delay") > 0,
        F.least(
            base_budget,
            F.greatest(
                F.lit(1),
                F.floor(F.lit(batch_window_s) / F.col("crawl_delay")).cast("int"),
            ),
        ),
    ).otherwise(base_budget)
    keys = _order_keys(order, score)
    w = Window.partitionBy("host").orderBy(*keys)
    return prep(pending).withColumn(
        "dispatch", F.row_number().over(w) <= budget
    ).drop("__hb")


def dispatch_top_k_salted(
    pending: DataFrame,
    host_budget: int = 1,
    batch_window_s: float = 60.0,
    order: str = "dfs",
    salts: int = 32,
    score: str | None = None,
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """Skew-safe two-phase variant of ``dispatch_top_k`` with IDENTICAL
    dispatch semantics: the per-host window is the loop's one
    frontier-sized shuffle, so a mega-host (10^8 pending URLs on one
    domain) would hot-spot a single partition. Phase 1 takes the
    per-(host, salt) top-budget — bounding every partition at
    pending/salts and discarding all but budget·salts rows per host
    map-side; phase 2 runs the exact per-host window over the tiny
    survivor set. Every global top-budget row is its salt's top-budget
    row, so the final dispatch set is exactly ``dispatch_top_k``'s;
    non-survivors are correctly not dispatched (appended back with
    dispatch=false so the held/carry-over contract is unchanged).

    Plan shape (pinned in tests/test_plans.py): the survivors branch
    gets a map-side PARTIAL WindowGroupLimit — each input partition is
    pruned to its per-(host, salt) top-cap before the shuffle, so that
    exchange moves ~cap·salts·hosts rows, not the frontier. The rest
    branch shuffles the full frontier once (irreducible: every
    non-survivor needs its rank to know it lost). The branches
    deliberately do NOT share one exchange — forcing ReuseExchange
    would forfeit the map-side prune and full-sort the frontier twice,
    a strictly worse plan at scale."""
    keys = _order_keys(order, score)
    # phase-1 prune uses the raw per-host budget ceiling (override or
    # default) — never less than the final budget, so no survivor loss
    if host_budgets is None:
        budget_cap = F.lit(host_budget)
    else:
        _, prep0 = _host_budget_col(host_budget, host_budgets)
        pending = prep0(pending)  # carries __hb through phase 1
        budget_cap = F.coalesce(F.col("__hb"), F.lit(host_budget))
    salted = pending.withColumn("__salt", url_bucket(F.col("url"), salts))
    w1 = Window.partitionBy("host", "__salt").orderBy(*keys)
    # ONE ranked subtree feeds both branches at the DataFrame level;
    # physically they still plan separately ON PURPOSE — see the
    # docstring's plan-shape paragraph (survivors keep the map-side
    # WindowGroupLimit prune; pinned in tests/test_plans.py)
    ranked = salted.withColumn("__rn1", F.row_number().over(w1))
    survivors = (
        ranked.filter(F.col("__rn1") <= budget_cap)
        .drop("__rn1", "__salt", "__hb")
    )
    rest = ranked.filter(
        F.col("__rn1") > budget_cap
    ).drop("__rn1", "__salt", "__hb").withColumn("dispatch", F.lit(False))
    marked = dispatch_top_k(
        survivors, host_budget, batch_window_s, order,
        score=score, host_budgets=host_budgets,
    )
    return marked.unionByName(rest)


def dispatch_global_cap(
    marked: DataFrame,
    global_budget: int,
    order: str = "dfs",
    score: str | None = None,
) -> DataFrame:
    """Cap the whole generation's dispatch at ``global_budget`` rows
    across ALL hosts, keeping the highest-priority rows — the fetch
    fleet's batch capacity. Composes on top of ``dispatch_top_k`` /
    ``dispatch_top_k_salted`` output: per-host budgets (politeness)
    still bound each host; this picks which hosts' allotments make
    the batch. With priority='score' over a ``host_score`` column
    (operators/linkgraph.host_rank via Crawler(host_scores=...)) the
    batch fills highest-ranked hosts first — the rank-driven frontier
    scheduler; rows cut here keep dispatch=false and carry over
    pending with their priority intact.

    Scale shape: the global top-N compiles to TakeOrderedAndProject —
    each partition keeps its local top-N map-side and only
    N·partitions rows ever move, no full sort, no single-partition
    window. The surviving url set is ≤ global_budget rows
    (batch-sized by definition) and broadcast-joins back onto the
    marked frontier. Bound: TakeOrdered buffers up to N rows per
    input partition and merges N·partitions rows on the driver, so
    this is the right plan for fleet budgets up to ~10^6; a larger
    batch cap stops being a "pick the urgent few" scheduler anyway —
    at that point size per-host budgets so their sum IS the fleet
    capacity and skip the global cap."""
    keys = _order_keys(order, score)
    take = (
        marked.filter(F.col("dispatch"))
        .orderBy(*keys)
        .limit(global_budget)
        .select("url")
        .withColumn("__take", F.lit(True))
    )
    return (
        marked.join(F.broadcast(take), "url", "left")
        .withColumn(
            "dispatch",
            F.col("dispatch") & F.coalesce(F.col("__take"), F.lit(False)),
        )
        .drop("__take")
    )
