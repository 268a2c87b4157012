"""Sport-category detection (V6-V9, SURVEY.md §2.5) — Spark-first.

Reference: /root/reference/src/article/category_detector.py:78-206.
Precedence (category_detector.py:144-206):

  1. site_focus      when site_type='specific'           (forced)
  2. URL path segment ∈ {configured cats, keyword-table keys, any keyword}
  3. URL pattern      /{cat} or -{cat} in path, else keyword regex
  4. content score    Σ \\b{kw}\\b counts over title+content[:2000],
                      argmax category, require score ≥ 3
  5. default          "sports"

Spark mapping: steps 1-3 are pure JVM expressions (explode+broadcast-join
for segments would also work; for a bounded keyword table a compiled
regex/`exists` chain avoids the shuffle entirely). Step 4 is a vectorized
pandas UDF (regex counting over Arrow batches) — or, SQL-side, a generated
``regexp_count`` expression used for the DuckDB oracle.

The keyword table itself is CONFIG DATA from the reference
(category_detector.py:24-69, config/sites.yaml:30-46), reproduced because
behavior parity requires the same vocabulary.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

CATEGORY_KEYWORDS: dict[str, list[str]] = {
    "nfl": [
        "nfl", "football", "touchdown", "quarterback", "gridiron", "super bowl",
        "afc", "nfc", "cowboys", "chiefs", "eagles", "49ers", "packers", "bears",
        "giants", "steelers", "patriots", "bills", "dolphins", "jets", "ravens",
        "bengals", "browns", "titans", "colts", "jaguars", "texans", "broncos",
        "raiders", "chargers", "vikings", "lions", "buccaneers", "saints",
        "panthers", "falcons", "seahawks", "rams", "cardinals", "commanders",
        "interception", "sack", "fumble", "end zone", "linebacker",
        "wide receiver", "tight end", "running back", "nfl draft", "combine",
        "playoffs", "wild card",
    ],
    "soccer": [
        "soccer", "premier league", "la liga", "bundesliga", "serie a",
        "ligue 1", "mls", "champions league", "europa league", "fifa", "uefa",
        "world cup", "euro", "copa america", "goal", "striker", "midfielder",
        "defender", "goalkeeper", "clean sheet", "hat-trick", "penalty", "var",
        "offside", "free kick", "corner kick", "red card", "yellow card",
        "messi", "ronaldo", "mbappe", "haaland", "liverpool", "arsenal",
        "manchester united", "manchester city", "chelsea", "tottenham",
        "real madrid", "barcelona", "bayern munich", "juventus", "psg",
        "inter miami", "al nassr",
    ],
    "basketball": [
        "basketball", "nba", "wnba", "ncaa", "euroleague", "fiba",
        "three-pointer", "dunk", "layout", "rebound", "assist", "steal",
        "block", "free throw", "point guard", "shooting guard", "small forward",
        "power forward", "center", "lakers", "warriors", "celtics", "bulls",
        "knicks", "heat", "spurs", "mavericks", "suns", "nuggets", "bucks",
        "sixers", "nets", "clippers", "rockets", "lebron", "curry", "durant",
        "giannis", "jokic", "doncic", "tatum", "embiid", "playoffs", "finals",
        "march madness", "draft",
    ],
    "cricket": [
        "cricket", "ipl", "bbl", "psl", "cpl", "icc", "bcci", "ecb", "ca",
        "test match", "odi", "t20", "twenty20", "ashes", "world cup", "wicket",
        "bowler", "batsman", "all-rounder", "century", "fifty", "sixer", "four",
        "lbw", "drs", "stumped", "run out", "spin", "pace", "seam", "googly",
        "yorker", "kohli", "rohit", "dhoni", "babar", "smith", "cummins",
        "stokes", "williamson", "mumbai indians", "csk", "rcb", "kkr",
    ],
    "mlb": [
        "baseball", "mlb", "milb", "world series", "al", "nl", "home run",
        "pitcher", "catcher", "batter", "hitter", "infielder", "outfielder",
        "strikeout", "era", "rbi", "whip", "ops", "inning", "bullpen", "dugout",
        "yankees", "dodgers", "red sox", "cubs", "cardinals", "giants", "mets",
        "phillies", "braves", "astros", "padres", "blue jays", "rays",
        "rangers", "orioles", "ohtani", "judge", "trout", "harper", "betts",
        "soto", "acuna",
    ],
}

# config/sites.yaml:30-46
CUSTOM_CATEGORIES = [
    "football", "soccer", "basketball", "cricket", "tennis", "baseball",
    "hockey", "golf", "rugby", "boxing", "mma", "f1", "motorsport",
    "athletics", "swimming", "olympics",
]

MIN_CONFIDENCE_SCORE = 3  # category_detector.py:72

_KEYWORD_TO_CAT: dict[str, str] = {}
for _cat, _kws in CATEGORY_KEYWORDS.items():
    for _kw in _kws:
        _KEYWORD_TO_CAT.setdefault(_kw, _cat)


def _segment_lookup(seg: str) -> str | None:
    """detect() step 2 per segment (category_detector.py:180-191)."""
    if seg in CUSTOM_CATEGORIES:
        return seg
    if seg in CATEGORY_KEYWORDS:
        return seg
    return _KEYWORD_TO_CAT.get(seg)


def detect_from_url_py(url: str) -> str | None:
    """detect_from_url (category_detector.py:78-103): /{cat} or -{cat} in
    path, else keyword regex with spaces → [-_/]."""
    from urllib.parse import urlparse

    path = urlparse(url).path.lower()
    for category, keywords in CATEGORY_KEYWORDS.items():
        if f"/{category}" in path or f"-{category}" in path:
            return category
        for keyword in keywords:
            if re.search(keyword.replace(" ", "[-_/]"), path):
                return category
    return None


def score_text_py(text: str) -> str | None:
    """The counting core of detect_from_content on an ALREADY-prepared
    (concatenated+lowered) text: keyword count argmax with the
    MIN_CONFIDENCE_SCORE gate, dict-order tie-break (python max). Shared
    by the reference implementation below and the Arrow step-3/4 kernel,
    so the two cannot drift."""
    scores: dict[str, int] = {}
    for category, keywords in CATEGORY_KEYWORDS.items():
        s = 0
        for keyword in keywords:
            s += len(re.findall(r"\b" + re.escape(keyword) + r"\b", text))
        if s > 0:
            scores[category] = s
    if not scores:
        return None
    best = max(scores, key=scores.get)
    return best if scores[best] >= MIN_CONFIDENCE_SCORE else None


def detect_from_content_py(title: str, content: str) -> str | None:
    """detect_from_content (category_detector.py:105-142)."""
    return score_text_py(f"{title or ''} {(content or '')[:2000]}".lower())


def detect_py(url: str, title: str, content: str,
              site_type: str | None = None, sport_focus: str | None = None) -> str:
    """Full precedence chain (category_detector.py:144-206)."""
    from urllib.parse import urlparse

    if (site_type or "").lower() == "specific" and sport_focus:
        return sport_focus
    path = urlparse(url).path.lower()
    for seg in [s for s in path.strip("/").split("/") if s]:
        hit = _segment_lookup(seg)
        if hit:
            return hit
    hit = detect_from_url_py(url)
    if hit:
        return hit
    hit = detect_from_content_py(title, content)
    if hit:
        return hit
    return "sports"


def detect_category(
    url: Column,
    title: Column,
    content: Column,
    site_type: Column,
    sport_focus: Column,
) -> Column:
    """Vectorized category detection (Arrow batches). TEST ORACLE ONLY —
    the pipeline path is the all-JVM ``with_category`` below."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _detect(urls: pd.Series, titles: pd.Series, contents: pd.Series,
                stypes: pd.Series, focuses: pd.Series) -> pd.Series:
        return pd.Series(
            [
                detect_py(u or "", t, c, st, sf)
                for u, t, c, st, sf in zip(urls, titles, contents, stypes, focuses)
            ]
        )

    return _detect(url, title, content, site_type, sport_focus)


# ---------------------------------------------------------------------------
# All-JVM precedence chain (the pipeline hot path — no Python per row)


def _segment_map_expr() -> Column:
    """Literal map for the V6 segment lookup, precedence-resolved
    (category_detector.py:180-191): custom cats ≻ keyword-table keys ≻
    keyword→category."""
    mapping: dict[str, str] = {}
    mapping.update(_KEYWORD_TO_CAT)
    for k in CATEGORY_KEYWORDS:
        mapping[k] = k
    for c in CUSTOM_CATEGORIES:
        mapping[c] = c
    # ONE sql-parsed expression instead of ~470 F.lit py4j round-trips:
    # this map is rebuilt for every crawl-cycle plan, and the py4j chatter
    # was a measurable slice of the per-cycle driver tail. Keys/values are
    # lowercase [a-z0-9 -] — literal-safe in single quotes.
    items = ", ".join(
        f"'{k}', '{v}'" for k, v in sorted(mapping.items())
    )
    return F.expr(f"map({items})")


def _url_cat_regex(cat: str) -> str:
    """One alternation per category ≡ the reference's per-category loop
    (category_detector.py:78-103): '/{cat}' or '-{cat}' substring, else any
    keyword with spaces → [-_/]. Keywords contain only [a-z0-9 -], so raw
    alternation is literal-safe in both Java regex and Python re."""
    alts = [f"/{cat}", f"-{cat}"]
    alts += [kw.replace(" ", "[-_/]") for kw in CATEGORY_KEYWORDS[cat]]
    return "|".join(alts)


def segment_category(url: Column) -> Column:
    """V6 JVM-side: first path segment resolving through the keyword map."""
    path = F.lower(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")))
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    seg_map = _segment_map_expr()
    hits = F.filter(
        F.transform(segs, lambda s: seg_map[s]), lambda h: h.isNotNull()
    )
    return F.get(hits, 0)


def url_pattern_category(url: Column) -> Column:
    """V7 JVM-side: first category (dict order) whose pattern set matches."""
    path = F.lower(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")))
    expr = F.lit(None).cast("string")
    chain = None
    for cat in CATEGORY_KEYWORDS:
        cond = path.rlike(_url_cat_regex(cat))
        chain = F.when(cond, F.lit(cat)) if chain is None else chain.when(
            cond, F.lit(cat)
        )
    return chain.otherwise(expr)


def _step34_kernel():
    """Arrow kernel for precedence steps 3+4 (URL pattern ≻ content score)
    on rows the cheap steps left unresolved — the crawl wave's hot variant
    of the chain (guide §4.2):

    - step 3 runs each category's alternation ONCE over the whole path
      array through RE2 (``pc.match_substring_regex`` — a DFA scan,
      linear regardless of alternative count), instead of five
      backtracking Java-regex evaluations per row;
    - step 4 factorizes the scored texts and runs the reference
      ``score_text_py`` once per DISTINCT text (captions repeat heavily;
      per-batch dedup needs no broadcast and no extra job).

    Inputs are the SAME JVM expressions the inline chain scores (the
    lowered parse_url path, the _cs_txt text), so equality with the
    inline chain reduces to RE2≡Java-regex on literal alternations and
    the existing score-parity test (test_with_category_jvm_matches_python
    runs the same grid through both modes)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    cat_patterns = [(cat, _url_cat_regex(cat)) for cat in CATEGORY_KEYWORDS]

    @pandas_udf(StringType())
    def _step34(paths: pd.Series, txts: pd.Series,
                unresolved: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(paths)
        out = np.full(n, None, dtype=object)
        mask = unresolved.to_numpy(dtype=bool, na_value=False)
        if not mask.any():
            return pd.Series(out, dtype=object)
        idx = np.nonzero(mask)[0]
        parr = pa.array(paths.iloc[idx].to_numpy(dtype=object),
                        type=pa.string())
        remaining = np.ones(len(idx), dtype=bool)
        for cat, pat in cat_patterns:  # dict order = precedence
            if not remaining.any():
                break
            m = pc.match_substring_regex(parr, pat).to_numpy(
                zero_copy_only=False
            )
            hit = m & remaining
            out[idx[hit]] = cat
            remaining &= ~m
        rem = idx[remaining]
        if len(rem):
            codes, uniques = pd.factorize(
                txts.iloc[rem], use_na_sentinel=False
            )
            # bounded per-worker memo: score_text_py is pure and costs
            # ~0.3 ms (230 regex counts); the same caption texts recur
            # across every Arrow batch of a wave
            per_uniq = []
            for u in uniques:
                key = u if isinstance(u, str) else ""
                hit = _SCORE_MEMO.get(key, False)
                if hit is False:
                    hit = score_text_py(key)
                    if len(_SCORE_MEMO) >= 1 << 16:
                        _SCORE_MEMO.clear()
                    _SCORE_MEMO[key] = hit
                per_uniq.append(hit)
            res = np.array(per_uniq, dtype=object)[codes]
            out[rem] = res
        return pd.Series(out, dtype=object)

    return _step34


_SCORE_MEMO: dict = {}


def content_text(title: Column, content: Column) -> Column:
    """The scored text: ``f"{title or ''} {(content or '')[:2000]}".lower()``
    (category_detector.py:107)."""
    return F.lower(
        F.concat_ws(
            " ",
            F.coalesce(title, F.lit("")),
            F.substring(F.coalesce(content, F.lit("")), 1, 2000),
        )
    )


# Keyword partition for the one-pass token scorer below. A keyword that is
# a single \w+ word has ``\b<kw>\b`` semantics EXACTLY equal to "count of
# word tokens == kw" when the text is split on non-word chars ([a-z0-9_]
# is Java regex \w after lower()): \b sits precisely at the split
# boundaries, and matches of a pure-word pattern can never overlap a
# separator. Multi-word / hyphenated phrases keep the regex (a token
# bigram would also match "super-bowl" / "super  bowl", which the
# reference's literal-space pattern does not). A keyword repeated within
# one category would be counted per occurrence by the regex sum but once
# by a membership mask, so duplicates stay on the regex path (none exist
# today; this keeps exactness independent of the config data).
_WORD_KW_RE = re.compile(r"^[a-z0-9_]+$")
_CAT_BIT: dict[str, int] = {c: 1 << i for i, c in enumerate(CATEGORY_KEYWORDS)}
_WORD_KW_MASK: dict[str, int] = {}
_PHRASE_KWS: dict[str, list[str]] = {c: [] for c in CATEGORY_KEYWORDS}
for _cat, _kws in CATEGORY_KEYWORDS.items():
    for _kw in _kws:
        if _WORD_KW_RE.match(_kw) and _kws.count(_kw) == 1:
            _WORD_KW_MASK[_kw] = _WORD_KW_MASK.get(_kw, 0) | _CAT_BIT[_cat]
        else:
            _PHRASE_KWS[_cat].append(_kw)


def hits_expr_sql(text_col: str = "_cs_txt") -> str:
    """SQL for the ONE tokenize+lookup pass shared by all five categories:
    split the scored text into word tokens, map each through a literal
    keyword→category-bitmask map, keep the hits. The per-category count is
    then a trivial ``size(filter(hits, h -> h & bit))`` — replacing ~190
    per-keyword regexp_count invocations per row (the measured ~60% of
    the wave job's JVM time; regex-engine startup dominates on short
    captions). The map literal is constant-folded once by Catalyst."""
    items = ",".join(f"'{k}',{v}" for k, v in sorted(_WORD_KW_MASK.items()))
    return (
        f"filter(transform(split(`{text_col}`, '[^a-z0-9_]+'),"
        f" t -> map({items})[t]), h -> h is not null)"
    )


def content_score_columns(
    text_col: str = "_cs_txt", hits_col: str = "_cs_hits"
) -> dict[str, Column]:
    """V8 JVM-side: per-category keyword-occurrence counts — exact parity
    with ``sum(len(re.findall(r'\\b'+kw+r'\\b', text)))`` over the
    category's keywords (category_detector.py:105-142).

    Two-tier plan: single-word keywords are counted from the shared
    ``hits_col`` token-mask array (see ``hits_expr_sql``); multi-word /
    hyphenated phrases keep one regexp_count each, short-circuited by a
    plain ``contains`` substring guard (a \\b-regex match implies the
    literal substring is present, so the guard is exactness-free). Each
    category's sum is ONE F.expr string — Column-op loops cost ~1200 py4j
    round-trips per plan build."""
    scores: dict[str, Column] = {}
    for cat in CATEGORY_KEYWORDS:
        parts = [
            f"size(filter(`{hits_col}`, h -> (h & {_CAT_BIT[cat]}) != 0))"
        ]
        for kw in _PHRASE_KWS[cat]:
            parts.append(
                "IF(contains(`%s`, '%s'),"
                " regexp_count(`%s`, '\\\\b%s\\\\b'), 0)"
                % (text_col, kw, text_col, kw)
            )
        scores[cat] = F.expr(" + ".join(parts))
    return scores


# Session-scoped cache for the built Column fragments: the chain below is
# static (it depends only on column NAMES, never on data), but building it
# costs hundreds of py4j round-trips (per-category when-chains, 230-term
# expr strings) — measurable driver tail when rebuilt per crawl cycle.
# Column objects are immutable expression trees, safe to reuse across
# DataFrames of the same SparkContext; keyed by applicationId so a
# restarted context never sees another JVM's objects.
_EXPR_CACHE: dict = {}


def _session_cached(key: tuple, build):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    k = (app,) + key
    v = _EXPR_CACHE.get(k)
    if v is None:
        if len(_EXPR_CACHE) > 64:  # stale sessions
            _EXPR_CACHE.clear()
        v = build()
        _EXPR_CACHE[k] = v
    return v


def with_category(
    df,
    url: str = "url",
    title: str = "title",
    content: str = "caption",
    site_type: str = "site_type",
    sport_focus: str = "sport_focus",
    out: str = "sport_category",
    step34_kernel: bool = False,
):
    """Full V6-V9 precedence chain (category_detector.py:144-206), all JVM:

        forced focus (site_type='specific') ≻ URL segment ≻ URL pattern ≻
        content-score argmax (gate ≥ MIN_CONFIDENCE_SCORE) ≻ 'sports'

    Three separate projections: scores are materialized as columns guarded
    by ``_resolved IS NULL`` (rows settled by the cheap steps never pay the
    regexp_count pass), and the guard keeps CollapseProject from re-inlining
    the 230-regex sums into the argmax expression. The static Column
    fragments are built once per session (_session_cached) and the
    per-category score columns land in ONE withColumns call."""
    t, c = F.col(title), F.col(content)
    forced = F.when(
        (F.lower(F.coalesce(F.col(site_type), F.lit(""))) == "specific")
        & F.col(sport_focus).isNotNull()
        & (F.col(sport_focus) != ""),
        F.col(sport_focus),
    )
    if step34_kernel:
        # steps 1-2 stay JVM; steps 3-4 (pattern + content score) run in
        # the Arrow kernel on the rows they leave unresolved
        resolved12 = F.coalesce(
            forced,
            _session_cached(
                ("seg_only", url), lambda: segment_category(F.col(url))
            ),
        )
        step = df.withColumn("_resolved", resolved12).withColumn(
            "_cs_txt",
            F.when(F.col("_resolved").isNull(), content_text(t, c)).otherwise(
                F.lit("")
            ),
        )
        path = F.lower(
            F.coalesce(F.parse_url(F.col(url), F.lit("PATH")), F.lit(""))
        )
        kernel = _session_cached(("step34_kernel",), _step34_kernel)
        k = kernel(path, F.col("_cs_txt"), F.col("_resolved").isNull())
        return step.withColumn(
            out, F.coalesce(F.col("_resolved"), k, F.lit("sports"))
        ).drop("_resolved", "_cs_txt")
    url_resolved = _session_cached(
        ("url_resolved", url),
        lambda: F.coalesce(
            segment_category(F.col(url)), url_pattern_category(F.col(url))
        ),
    )
    step = df.withColumn(
        "_resolved", F.coalesce(forced, url_resolved)
    ).withColumn(
        "_cs_txt",
        F.when(F.col("_resolved").isNull(), content_text(t, c)).otherwise(
            F.lit("")
        ),
    )

    def _build_content_cat():
        score_cols = [F.col(f"_cs_{cat}") for cat in CATEGORY_KEYWORDS]
        m = F.greatest(*score_cols)
        argmax = None
        for cat in CATEGORY_KEYWORDS:  # dict order = python max() tie-break
            cond = F.col(f"_cs_{cat}") == m
            argmax = (
                F.when(cond, F.lit(cat)) if argmax is None
                else argmax.when(cond, F.lit(cat))
            )
        return F.when(m >= F.lit(MIN_CONFIDENCE_SCORE), argmax)

    hits_col = _session_cached(
        ("hits_expr",), lambda: F.expr(hits_expr_sql("_cs_txt"))
    )
    content_cat = _session_cached(("content_cat",), _build_content_cat)

    # the shared tokenize+mask pass (hits_expr_sql): referenced by all
    # five score columns, so CollapseProject keeps it materialized
    # once; rows settled upstream carry _cs_txt = "" → empty hits
    step = step.withColumn("_cs_hits", hits_col)
    score_map = _session_cached(
        ("score_cols",),
        lambda: {
            cat: F.when(F.col("_resolved").isNull(), s)
            for cat, s in content_score_columns("_cs_txt").items()
        },
    )
    step = step.withColumns(
        {f"_cs_{cat}": s for cat, s in score_map.items()}
    )
    return step.withColumn(
        out, F.coalesce(F.col("_resolved"), content_cat, F.lit("sports"))
    ).drop("_resolved", "_cs_txt", "_cs_hits",
           *[f"_cs_{cat}" for cat in CATEGORY_KEYWORDS])


