"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator family from SURVEY.md §2
(the operator IDs are cited per query) on the driver's testdata tables;
``oracle_sql()`` gives the DuckDB twin. Floating outputs are rounded
identically on both sides; money aggregates go through exact DECIMAL so
distributed summation order cannot diverge from DuckDB's.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _event_url(df: DataFrame) -> DataFrame:
    """Synthesize a frontier URL per event row (deterministic)."""
    return df.withColumn(
        "url",
        F.concat(
            F.lit("https://site"),
            (F.col("user_id") % 8).cast("string"),
            F.lit(".example.com/e/"),
            F.col("event_id").cast("string"),
        ),
    ).withColumn(
        "host",
        F.concat(F.lit("site"), (F.col("user_id") % 8).cast("string"),
                 F.lit(".example.com")),
    )


_EVENT_URL_SQL = (
    "'https://site' || CAST(user_id % 8 AS VARCHAR) || '.example.com/e/' "
    "|| CAST(event_id AS VARCHAR)"
)
_EVENT_HOST_SQL = "'site' || CAST(user_id % 8 AS VARCHAR) || '.example.com'"


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the frontier pipeline core (F5 bloom dedup + T1 politeness
    slots) over sf0.001 events-as-frontier."""
    sf_dir = "/root/testdata/sf0.001"
    return q02_frontier_schedule(spark, sf_dir)


# ---------------------------------------------------------------------------
# frontier / crawler operators (SURVEY §2.3-2.4)


def q01_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: URL-seen dedup via segmented bloom + exact anti-join (the
    negative-pass-through topology). Seen = every 3rd event URL."""
    from spark_frontier.functions.bloom import build_bloom_segments, dedup_unseen
    from spark_frontier.functions.urls import url_key
    from spark_frontier.storage.materialize import materialize

    ev = _event_url(_t(spark, sf_dir, "events"))
    frontier = ev.withColumn("url_key", url_key(F.col("url")))
    # the seen keys feed BOTH the bloom build and the exact anti-join —
    # checkpoint once so the canonicalize UDF runs once per side, not
    # three times (the crawl pipeline reads its seen set from the links
    # snapshot, which is naturally materialized; this mirrors that)
    seen = materialize(
        frontier.filter(F.col("event_id") % 3 == 0).select("url_key")
    )
    segments = build_bloom_segments(seen, n_segments=8)
    unseen = dedup_unseen(frontier, seen, segments=segments, n_segments=8)
    return unseen.select("event_id", "url")


def q02_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the PRODUCTION politeness scheduler —
    ``ratelimit.assign_deadlines`` (capped exact two-phase top-k path),
    NOT an inline re-implementation. The literal host-state fixture
    exercises every arithmetic branch: a non-default refill rate (site0,
    0.25 tok/s), a last-fetch base offset (site1, fetched 1 s before the
    batch), a 429 cooldown (site2, rate_limit_until batch+30 s), and a
    robots Crawl-delay that outranks the token interval (site3, 5 s).
    Jitter is 0 and slot order is the per-host priority row_number, so
    slot and deadline = base + (slot-1)*max(1/rate, crawl_delay) are
    fully deterministic and replayed exactly by the DuckDB oracle."""
    from datetime import datetime

    from spark_frontier.politeness.ratelimit import assign_deadlines

    batch_ts = datetime(2024, 1, 1, 0, 0, 0)
    ev = _event_url(_t(spark, sf_dir, "events")).filter(
        F.col("event_type") != "error"
    )
    cand = (
        ev.withColumn("site_seq", (F.col("user_id") % 8).cast("int"))
        .withColumn("depth", F.lit(0))
        .withColumn("path", F.lit(""))
        .withColumn("sitemap_pos", F.col("event_id"))
        .withColumn(
            "crawl_delay",
            F.when(F.col("host") == "site3.example.com", F.lit(5.0)),
        )
    )
    host_state = [
        {"host": "site0.example.com", "refill_rate": 0.25,
         "rate_limit_until": None, "last_fetch_ts": None},
        {"host": "site1.example.com", "refill_rate": None,
         "rate_limit_until": None,
         "last_fetch_ts": datetime(2023, 12, 31, 23, 59, 59)},
        {"host": "site2.example.com", "refill_rate": None,
         "rate_limit_until": datetime(2024, 1, 1, 0, 0, 30),
         "last_fetch_ts": None},
    ]
    out = assign_deadlines(cand, host_state, batch_ts, max_per_host=3)
    return out.select(
        "event_id",
        "host",
        "host_slot",
        F.round(
            (F.unix_micros(F.col("politeness_deadline"))
             - F.unix_micros(F.lit(batch_ts))) / F.lit(1_000_000.0),
            6,
        ).alias("deadline_s"),
    )


def q03_recency_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3: recency cutoff — keep events within 7 days of the max ts."""
    ev = _t(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff")
    )
    return (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") > F.col("cutoff"))
        .select("event_id", "ts")
    )


def q04_reject_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: reject-pattern predicate (single compiled rlike)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        ~F.lower(F.col("text")).rlike("merge|stream")
    ).select("doc_id", "source")


def q05_window_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/S7: orderBy desc + row_number offset/limit paging (page 3 of 20)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 40) & (F.col("rn") <= 60))
        .select("o_orderkey", "o_orderdate", "o_totalprice", "rn")
    )


def q06_undated_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/A7: last-N tail per key in reverse order (undated-tail rule)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_id", "rn")
    )


def q07_argmax_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8/A4: argmax aggregate — dominant event_type per user (count desc,
    type asc tie-break), the category-scoring shape."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    return counts.groupBy("user_id").agg(
        F.max_by(
            F.col("event_type"),
            F.struct(F.col("n"), _desc_str(F.col("event_type"))),
        ).alias("top_type"),
        F.max("n").alias("top_n"),
    )


def _desc_str(c):
    """Invert string order so max_by picks the alphabetically-smallest on
    count ties (negate each char's codepoint via a sortable transform)."""
    # struct(n, X) max picks largest n, then largest X — we need smallest
    # event_type, so map it to a descending collation by negating bytes.
    # A terminator sentinel LARGER than any negated codepoint (+1) is
    # appended so that on count ties a string that is a strict prefix of
    # another wins (array [-97, 1] > [-97, -98, 1]), matching SQL's
    # ORDER BY event_type ASC which ranks 'a' before 'ab'.
    return F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: -F.ascii(F.substring(c, 1, 0x7FFFFFF).substr(i, F.lit(1))),
        ),
        F.array(F.lit(1)),
    )


def q09_coalesce_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V9/V11: precedence chain via coalesce (category/published_at rule)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.when(F.col("o_orderstatus") == "F", F.lit(None).cast("string"))
            .otherwise(F.col("o_orderstatus")),
            F.when(F.col("o_totalprice") > 200000, F.lit("big")),
            F.lit("sports"),
        ).alias("resolved"),
    )


def q03_legacy_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3/F9/A5/S7/F4/A7/V8/A4/A1/K3/V9/V11 legacy shapes (the former
    q03–q09), collapsed into ONE driver-correctness row so the newest
    operators fit the driver's 50-query window (round-4 VERDICT item 1).
    Each leg projects to an exact (shape, k, n) triple — strings and
    bigints only, so no float/format hazards can enter the union. Money
    goes through exact DECIMAL cents."""
    ev = _t(spark, sf_dir, "events")

    def leg(shape, k, n):
        return [F.lit(shape).alias("shape"), k.alias("k"),
                n.cast("long").alias("n")]

    recency = q03_recency_filter(spark, sf_dir).select(
        *leg("recency", F.col("event_id").cast("string"),
             F.unix_micros(F.col("ts").cast("timestamp"))))
    reject = q04_reject_filter(spark, sf_dir).select(
        *leg("reject",
             F.concat_ws(":", F.col("doc_id").cast("string"), "source"),
             F.lit(0)))
    paging = q05_window_paging(spark, sf_dir).select(
        *leg("paging", F.col("o_orderkey").cast("string"), F.col("rn")))
    tail = q06_undated_tail(spark, sf_dir).select(
        *leg("tail",
             F.concat_ws(":", F.col("user_id").cast("string"),
                         F.col("event_id").cast("string")),
             F.col("rn")))
    argmax = q07_argmax_category(spark, sf_dir).select(
        *leg("argmax",
             F.concat_ws(":", F.col("user_id").cast("string"), "top_type"),
             F.col("top_n")))
    # funnel: recomputed with exact integer cents (not q08's rounded
    # double) so the union carries no floats at all
    fun = ev.groupBy("event_type").agg(
        F.count("*").alias("_n"),
        F.countDistinct("user_id").alias("_u"),
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long").alias("_c"),
    )
    funnel = (
        fun.select(*leg("funnel_n", F.col("event_type"), F.col("_n")))
        .unionByName(
            fun.select(*leg("funnel_users", F.col("event_type"),
                            F.col("_u"))))
        .unionByName(
            fun.select(*leg("funnel_cents", F.col("event_type"),
                            F.col("_c"))))
    )
    coal = q09_coalesce_precedence(spark, sf_dir).select(
        *leg("coalesce",
             F.concat_ws(":", F.col("o_orderkey").cast("string"),
                         "resolved"),
             F.lit(0)))
    out = recency
    for piece in (reject, paging, tail, argmax, funnel, coal):
        out = out.unionByName(piece)
    return out


# ---------------------------------------------------------------------------
# engine credibility: TPC-H-ish aggregates/joins (free in Spark; anchors
# the bench + proves Catalyst plans are sane)


def q10_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 + Q3ish collapsed into one correctness row (round-4
    VERDICT item 1). Q3's date rides as epoch-micros text so the only
    doubles in the union are the decimal-summed aggregates that already
    hash-matched standalone for three rounds."""
    a = q10_tpch_q1(spark, sf_dir).select(
        F.lit("q1").alias("tag"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("sum_qty").alias("d1"),
        F.col("sum_base_price").alias("d2"),
        F.col("sum_disc_price").alias("d3"),
        F.col("sum_charge").alias("d4"),
        F.col("avg_qty").alias("d5"),
        F.col("count_order").cast("long").alias("n"),
    )
    b = q11_tpch_q3ish(spark, sf_dir).select(
        F.lit("q3").alias("tag"),
        F.col("o_orderkey").cast("string").alias("k1"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        .cast("string").alias("k2"),
        F.col("revenue").alias("d1"),
        F.lit(0.0).alias("d2"),
        F.lit(0.0).alias("d3"),
        F.lit(0.0).alias("d4"),
        F.lit(0.0).alias("d5"),
        F.lit(0).cast("long").alias("n"),
    )
    return a.unionByName(b)


def q10_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    one = F.lit(1).cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(d("l_quantity")).alias("_sq"),
        F.sum(d("l_extendedprice")).alias("_sbp"),
        F.sum(d("l_extendedprice") * (one - d("l_discount"))).alias("_sdp"),
        F.sum(
            d("l_extendedprice") * (one - d("l_discount")) * (one + d("l_tax"))
        ).alias("_sc"),
        F.count("*").alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sbp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        F.col("_sc").cast("double").alias("sum_charge"),
        F.round(F.col("_sq").cast("double") / F.col("count_order"), 6).alias(
            "avg_qty"
        ),
        "count_order",
    )


def q11_tpch_q3ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pipeline: customer ⨝ orders ⨝ lineitem, revenue top-10.
    customer is broadcast (small dim); lineitem→orders shuffles on key."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    one = F.lit(1).cast("decimal(18,2)")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(d("l_extendedprice") * (one - d("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


# ---------------------------------------------------------------------------
# training-data ops: dedup / similarity / text analysis


def q12_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_frontier.analytics.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q13_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_frontier.analytics.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=5, threshold=0.4
    )
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def q14_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_frontier.analytics.dedup import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, block_col="label"
    )
    return pairs.select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))


def q15_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_frontier.analytics.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0][
        "embedding"]]
    top = cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q16_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis signals (the former q16–q19) in ONE per-document
    projection — token/subword counts, quality score, language ID, and
    the md5 fingerprint — exactly how a 100 TB corpus pass would compute
    them: a single codegen scan, no second read of `text`."""
    from spark_frontier.analytics.textstats import (
        fingerprint,
        lang_id,
        quality_score,
        subword_count,
        token_count,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        subword_count(F.col("text")).alias("n_subwords"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        lang_id(F.col("text")).alias("lang_guess"),
        fingerprint(F.col("text")).alias("fp"),
    )


def q20_sha_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V10: SHA-256 raw-URL parity hash (repository.py:92-94)."""
    from spark_frontier.functions.urls import sha256_hex

    ev = _event_url(_t(spark, sf_dir, "events"))
    return ev.select("event_id", sha256_hex(F.col("url")).alias("url_sha"))


# --- rows-only checks (probabilistic / non-SQL-expressible) ----------------


def q21_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_frontier.analytics.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=5, num_perm=64, bands=16,
        threshold=0.5,
    ).select("doc_a", "doc_b", F.round("jaccard_est", 6).alias("jaccard_est"))


def q22_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_frontier.analytics.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q23_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_frontier.analytics.similarity import ann_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0][
        "embedding"]]
    return ann_topk_lsh(emb.filter(F.col("vec_id") != 0), qvec, k=10).select(
        "vec_id", F.round("cosine", 4).alias("cosine")
    )


_SEG_POOL = ["cricket", "nba", "random", "news", "soccer", "mlb", "tag",
             "ipl", "quarterback", "update"]


def q25_category_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 (category_detector.py:168-191): first URL path segment matching
    custom categories ≻ keyword-table keys ≻ any keyword, in segment order.
    JVM-side: one precedence-resolved literal map + transform/filter/get.
    Synthetic path built deterministically from doc_id on both sides."""
    from spark_frontier.extract.category import (
        CATEGORY_KEYWORDS,
        CUSTOM_CATEGORIES,
        _KEYWORD_TO_CAT,
    )

    mapping: dict[str, str] = {}
    mapping.update(_KEYWORD_TO_CAT)             # keyword → its category
    for k in CATEGORY_KEYWORDS:
        mapping[k] = k                          # table keys map to self
    for c in CUSTOM_CATEGORIES:
        mapping[c] = c                          # custom cats win
    seg_map = F.create_map(
        *[F.lit(x) for kv in sorted(mapping.items()) for x in kv]
    )
    docs = _t(spark, sf_dir, "documents")
    pool = F.array(*[F.lit(s) for s in _SEG_POOL])
    seg1 = F.element_at(pool, (F.col("doc_id") % 10 + 1).cast("int"))
    seg2 = F.element_at(
        pool, (F.floor(F.col("doc_id") / 10) % 10 + 1).cast("int")
    )
    segs = F.array(seg1, seg2, F.concat(F.lit("article-"), F.col("doc_id")))
    hits = F.filter(
        F.transform(segs, lambda s: seg_map[s]), lambda h: h.isNotNull()
    )
    return docs.select(
        "doc_id",
        F.coalesce(F.get(hits, 0), F.lit("sports")).alias("category"),
    )


_Q27_SEG_A = ["news", "story", "cricket", "team-quarterback", "opinion",
              "nba", "super-bowl", "xyz", "blog", "latest"]
_Q27_SEG_B = ["item", "post", "update", "recap", "match", "-soccer-bits",
              "note", "entry", "read", "view"]


def q27_category_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6-V9 full precedence chain (category_detector.py:144-206) as wired
    into the pipeline: forced site focus ≻ URL segment ≻ URL pattern ≻
    content-score argmax (≥3 gate, dict-order tie-break) ≻ 'sports' — the
    all-JVM ``with_category`` operator over a synthetic url/title/content
    grid derived from documents."""
    from spark_frontier.extract.category import with_category

    docs = _t(spark, sf_dir, "documents")
    pa_ = F.array(*[F.lit(s) for s in _Q27_SEG_A])
    pb_ = F.array(*[F.lit(s) for s in _Q27_SEG_B])
    sega = F.element_at(pa_, (F.col("doc_id") % 10 + 1).cast("int"))
    segb = F.element_at(
        pb_, (F.floor(F.col("doc_id") / 10) % 10 + 1).cast("int")
    )
    df = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/"), sega, F.lit("/"), segb,
            F.lit("/article-"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("source").alias("title"),
        F.col("text").alias("caption"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("specific"))
        .otherwise(F.lit("general")).alias("site_type"),
        F.when(F.col("doc_id") % 14 == 0, F.lit("tennis")).alias("sport_focus"),
    )
    return with_category(df).select("doc_id", "sport_category")


def q28_recent_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/K3 (repository.py:507-523 + crawl_logs schema): per-site failure
    count within the last 24 h of log time — the site-level audit query the
    per-site crawl_logs rows exist to answer. Events stand in as the log
    stream (site = user_id % 25, failure = error/click codes)."""
    ev = _t(spark, sf_dir, "events")
    cutoff = ev.agg((F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("cut"))
    logs = ev.select(
        F.concat(F.lit("site-"), (F.col("user_id") % 25).cast("string")).alias(
            "site_id"
        ),
        F.when(F.col("event_type") == "error", 429)
        .when(F.col("event_type") == "click", 500)
        .otherwise(200).alias("http_code"),
        "ts",
    )
    return (
        logs.crossJoin(F.broadcast(cutoff))
        .filter((F.col("http_code") >= 400) & (F.col("ts") > F.col("cut")))
        .groupBy("site_id")
        .agg(F.count("*").alias("n_failures"))
    )


def q26_backoff_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T3 (backoff.py:51-108, rate_limiter.py:97-112): the stateful
    per-host fold — success resets, failure appends, ≥5 of {403,429} in the
    last 10 failure codes blocks, 429 halves refill rate — applied to an
    events-derived code stream and checked against a window/dense-SQL
    oracle."""
    from datetime import datetime

    from spark_frontier.politeness.backoff import (
        empty_host_state,
        update_host_state,
    )

    ev = _t(spark, sf_dir, "events")
    results = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 25).cast("string")).alias("host"),
        F.col("ts").alias("politeness_deadline"),
        F.when(F.col("event_type") == "error", 429)
        .when(F.col("event_type") == "purchase", 403)
        .when(F.col("event_type") == "click", 500)
        .otherwise(200)
        .cast("int")
        .alias("http_code"),
        "event_id",
    )
    # make ordering unique: fold order is (deadline, code) struct sort; use
    # a synthetic strictly-increasing deadline from (ts, event_id) rank
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy("politeness_deadline", "event_id")
    results = results.withColumn(
        "politeness_deadline",
        F.timestamp_micros(F.row_number().over(w).cast("long") * 1_000_000),
    )
    state = update_host_state(
        empty_host_state(spark), results,
        batch_ts=datetime(2026, 8, 15, 12, 0, 0),
    )
    return state.select(
        "host",
        F.col("consecutive_failures"),
        F.col("is_blocked"),
        F.round("refill_rate", 6).alias("refill_rate"),
        F.concat_ws(",", F.col("recent_codes").cast("array<string>")).alias(
            "recent_codes_csv"
        ),
    )


def q29_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means posting lists (md5-order init, 3
    Lloyd iters), probe the 3 nearest lists, exact cosine top-k on the
    slice — the partition-pruned scale path next to q23's LSH variant.
    Oracle: the iteration count is small and the init is md5-order (both
    engines compute md5 identically), so the DuckDB twin UNROLLS the 3
    Lloyd iterations as chained CTEs (_q29_oracle)."""
    from spark_frontier.analytics.similarity import (
        ivf_assignments,
        ivf_topk,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0][
        "embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    centroids = kmeans_fit(corpus, n_centroids=8, n_iter=3)
    top = ivf_topk(
        ivf_assignments(corpus, centroids), centroids, qvec, k=10, n_probe=3
    )
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q30_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components dedup clusters: the canonical step AFTER
    pairwise near-dup detection — every document mapped to its duplicate
    cluster's minimum doc_id (min-label propagation to fixpoint; the
    DuckDB oracle replays it as a recursive reachability CTE). Pairs come
    from the q13 n-gram Jaccard operator, so the cluster graph is itself
    oracle-checked upstream."""
    from spark_frontier.analytics.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=5, threshold=0.4)
    return dedup_clusters(pairs, vertices=docs)


def q31_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: deterministic per-subspace codebooks
    (md5-order init, 2 Lloyd iterations, m=4 subspaces × 8 codes) encode
    every vector as 4 small ints; ADC then scores candidates from a
    literal per-query lookup table — one whole-stage-codegen'd expression
    over the code column, no float vectors read at scan time. This is the
    memory-compression scale path next to q23's LSH buckets and q29's IVF
    posting lists (m bytes/vector vs 4·dim). Oracle: _q31_oracle unrolls
    the per-subspace training as chained CTEs exactly like _q29_oracle
    unrolls Lloyd."""
    from spark_frontier.analytics.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0][
        "embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    books = pq_fit(corpus, m=4, n_codes=8, n_iter=2)
    return pq_adc_topk(pq_encode(corpus, books), books, qvec, k=10)


def q33_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the composed FAISS-standard shape): coarse k-means
    centroids prune which posting lists a probe reads; residual PQ
    codebooks compress what they store (m ints/vector). ADC scores the
    probed lists with per-centroid literal lookup tables in one CASE
    expression — no Python, no float vectors at scan time. Oracle:
    _q33_oracle chains _q29's Lloyd unroll (coarse, 2 iters) with
    _q31's per-subspace unroll over the RESIDUAL vectors."""
    from spark_frontier.analytics.similarity import (
        ivfpq_encode,
        ivfpq_fit,
        ivfpq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0][
        "embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cents, books, resid = ivfpq_fit(
        corpus, n_centroids=8, ivf_iter=2, m=4, n_codes=8, pq_iter=2
    )
    return ivfpq_topk(
        ivfpq_encode(resid, books), cents, books, qvec, k=10, n_probe=3
    )


def q32_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., MOSS): rolling k-gram
    hashes, per-window minimum selection — the partial-overlap dedup
    index the flat md5 fingerprint (q19) can't provide. All JVM (explode,
    md5-60-bit hash, sliding window min); DuckDB replays the identical
    window expression."""
    from spark_frontier.analytics.textstats import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=5, w=8)


_Q34_QUOTAS = {f"src{i}": (12 if i % 2 == 0 else 6) for i in range(20)}
_Q34_FRAC = 0.75


def q34_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing (the pretraining data-mix step):
    per-source quotas selected in md5-hash order (a reproducible
    shuffle), composed with a rate-based hash_sample — selection derives
    purely from the id hash, so a rerun or another engine picks the
    identical rows (unlike df.sample). One group-key shuffle for the
    quota window; the rate filter is shuffle-free."""
    from spark_frontier.analytics.sampling import hash_sample, stratified_mix

    docs = _t(spark, sf_dir, "documents")
    mixed = stratified_mix(docs, _Q34_QUOTAS, group_col="source")
    return hash_sample(mixed, _Q34_FRAC).select("doc_id", "source")


def q24_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synth input_hint table → decode → channel stats
    (no driver images table, so the input is generated deterministically).
    Oracle (round 5, retiring the rows-only check): the DuckDB twin
    carries GROUND-TRUTH stats as literals, computed from
    ``synth_pixels`` + the codec's documented quantization rule — NOT
    from ``decode_image`` — so the hash match proves the whole
    encode→decode→stats path (the q35 literal-input pattern)."""
    import pandas as pd

    from spark_frontier.analytics.multimodal import decode_stats
    from spark_frontier.pipeline.synth import gen_images

    pdf = gen_images(64)
    images = spark.createDataFrame(pdf[["image_id", "bytes"]])
    stats = decode_stats(images)
    return stats.select(
        "image_id", "ok",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("std_lum", 4).alias("std_lum"),
    )


def q35_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup over the input_hint table: decode the binary
    payload → recompute the 64-bit perceptual hash (payload/validate.py's
    phash_column, Arrow batches) → chunk-banded Hamming self-join
    (dedup.hamming_neardup_pairs, 8×8-bit bands ⇒ exact for distance
    ≤ 7). This is the image-payload twin of q22's text simhash: the
    oracle carries the deterministic decoded phashes as literals (q23's
    plane-matrix pattern), so a hash match proves BOTH the decode+phash
    path and the banding topology."""
    from spark_frontier.analytics.dedup import hamming_neardup_pairs
    from spark_frontier.payload.validate import phash_column
    from spark_frontier.pipeline.synth import gen_image_corpus

    pdf = gen_image_corpus(24, 2)
    # 72 demo rows: coalesce so the decode UDF spins a handful of Arrow
    # workers instead of one per default-parallelism partition (at real
    # scale the input arrives pre-partitioned and this line is moot)
    images = spark.createDataFrame(pdf[["image_id", "bytes"]]).coalesce(4)
    ph = images.select(
        "image_id", phash_column(F.col("bytes")).alias("phash")
    )
    return hamming_neardup_pairs(
        ph, id_col="image_id", hash_col="phash", max_hamming=6, n_chunks=8
    )


def q36_pagerank_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph crawl priority: 3-iteration PageRank over a 256-node
    page graph derived deterministically from events (src = event_id mod
    256, dst = a fixed affine hash). The oracle unrolls the identical
    recurrence as chained CTEs (the q29 Lloyd-unroll pattern)."""
    from spark_frontier.analytics.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("event_id") % 256).alias("src"),
        ((F.col("event_id") * 7 + F.col("user_id") * 13) % 256).alias("dst"),
    )
    ranks = pagerank(edges, n_iter=3, damping=0.85)
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def q37_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6 h gap) of the event log — the
    log→per-session-document step of a training-data pipeline and the
    per-host visit-session rollup of crawl_logs. One window sort +
    one groupBy per user key."""
    from spark_frontier.analytics.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, gap_s=6 * 3600.0)
    return out.select(
        "user_id",
        "session_seq",
        "n_events",
        "session_start",
        F.round("duration_s", 6).alias("duration_s"),
    )


_Q38_REF_TS = "2024-02-15 00:00:00"


def q38_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling: Cho & Garcia-Molina change-rate estimation
    (frontier/recrawl.py) over a per-URL observation history derived from
    events (url = event_id mod 64, changed = value > 60). Priority =
    P(page changed since last fetch) under the fitted Poisson rate."""
    from datetime import datetime

    from spark_frontier.frontier.recrawl import change_rate_priority

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("page-"), (F.col("event_id") % 64).cast("string")
                 ).alias("url"),
        "ts",
        (F.col("value") > 60).alias("changed"),
    )
    out = change_rate_priority(
        ev, datetime.fromisoformat(_Q38_REF_TS), min_obs=5
    )
    return out.select(
        "url",
        "n_obs",
        "n_changed",
        F.round("lambda_per_h", 6).alias("lambda_per_h"),
        F.round("priority", 6).alias("priority"),
    )


def q39_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact latency percentiles (p50/p95/p99) — the SLO
    rollup over fetch timings (A-family analytics). Spark's exact
    ``percentile`` aggregate uses the same (n-1)·p linear interpolation
    as DuckDB's quantile_cont, so values match bit-for-bit at 6 dp.
    Scale note: exact percentile shuffles all values per group — the
    design-point alternative (approx_percentile / t-digest) is noted in
    the docstring rather than benched because the oracle gate needs
    exact values."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        F.count("*").alias("n"),
    )


_Q41_QUERY = "?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9"


def q41_trap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spider-trap gate (frontier/traps.py): structural URL heuristics —
    repeated-segment mirrors, calendar traps, query-param explosions —
    over a synthetic URL family derived from events that exercises every
    flag. Pure JVM expression algebra; the oracle replays the identical
    split/filter/distinct pipeline."""
    from spark_frontier.frontier.traps import trap_flags

    ev = _t(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://site"),
        (F.col("user_id") % 8).cast("string"),
        F.lit(".example.com/"),
        F.when(F.col("event_id") % 11 == 0, F.lit("2023/05/17/2024/"))
        .otherwise(F.lit("")),
        F.repeat(F.lit("cat/"), (F.col("event_id") % 7).cast("int")),
        F.lit("p"),
        F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 13 == 0, F.lit(_Q41_QUERY))
        .otherwise(F.lit("")),
    )
    out = trap_flags(ev.select("event_id", url.alias("url")))
    return out.select(
        "event_id", "depth", "n_dup_segs", "n_params", "n_year_segs",
        "is_trap",
    )


def q40_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice profiling: top-3 tf·idf terms per source
    (textstats.tfidf_top_terms) — the vocabulary fingerprint used when
    balancing a pretraining data mix (pairs with q34's quota sampler)."""
    from spark_frontier.analytics.textstats import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3, group_col="source")


def q42_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (analytics/pii.py). The documents table carries
    no natural PII, so both engines append the SAME deterministic
    synthetic PII — email always, phone on doc_id%3==0, IPv4 on
    doc_id%4==1, card number on doc_id%5==2, all derived arithmetically
    from doc_id (the q35/q23 oracle-literal pattern) — and the production
    operator scrubs it. Per-class counts are over the pre-redaction text;
    clean_text hash parity proves the redaction byte-for-byte."""
    from spark_frontier.analytics.pii import pii_report

    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"),
        F.lit("@mail"), (did % 7).cast("string"), F.lit(".example.com"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" call 555-"), (did % 900 + 100).cast("string"),
                     F.lit("-"), (did % 9000 + 1000).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 1,
            F.concat(F.lit(" from 10."), (did % 256).cast("string"),
                     F.lit(".0."), ((did * 7) % 256).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 2,
            F.concat(F.lit(" card 4111 1111 1111 "),
                     F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", aug.alias("text"))
    return pii_report(d).select(
        "doc_id", "n_email", "n_ccn", "n_phone", "n_ipv4", "clean_text"
    )


def q44_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image duplicate CLUSTERS: q35's decode → phash → banded-Hamming
    pairs composed with dedup_clusters (min-label connected components) —
    the keep-one-representative-per-cluster step an image dedup pipeline
    actually ships, not just the pair list. The oracle replays the same
    phash literals through a recursive-CTE reachability closure (the
    q30 pattern), so the hash match proves decode + banding + clustering
    end-to-end."""
    from spark_frontier.analytics.dedup import (
        dedup_clusters,
        hamming_neardup_pairs,
    )
    from spark_frontier.payload.validate import phash_column
    from spark_frontier.pipeline.synth import gen_image_corpus

    pdf = gen_image_corpus(24, 2)
    images = spark.createDataFrame(pdf[["image_id", "bytes"]]).coalesce(4)
    ph = images.select(
        "image_id", phash_column(F.col("bytes")).alias("phash")
    )
    pairs = hamming_neardup_pairs(
        ph, id_col="image_id", hash_col="phash", max_hamming=6, n_chunks=8
    )
    return dedup_clusters(
        pairs,
        vertices=ph.select(F.col("image_id").alias("doc_id")),
        id_a="id_a",
        id_b="id_b",
    ).select(F.col("doc_id").alias("image_id"), "cluster_id")


def q45_image_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image quality gate (multimodal.image_quality + quality_gate):
    decode → sharpness (Laplacian variance) / contrast / brightness /
    dims inside the Arrow batch, then a JVM codegen predicate gates the
    corpus. Oracle pattern q35: the deterministic per-image signals ride
    as literals, the GATE itself (thresholds, boolean algebra) is
    replayed in SQL — so the hash match proves the decode+stats UDF and
    the gating topology."""
    from spark_frontier.analytics.multimodal import (
        image_quality,
        quality_gate,
    )

    pdf = _q45_corpus()
    images = spark.createDataFrame(pdf[["image_id", "bytes"]]).coalesce(4)
    gated = quality_gate(
        image_quality(images),
        min_side=16, min_sharpness=5000.0, min_contrast=8.0,
    )
    return gated.select(
        "image_id", "w", "h",
        F.round("sharpness", 6).alias("sharpness"),
        F.round("contrast", 6).alias("contrast"),
        F.round("brightness", 6).alias("brightness"),
        "is_ok",
    )


def _q45_corpus():
    """q45's deterministic mixed-quality corpus: the 72 noise images
    (sharpness ~35k → pass), 6 smooth gradient images (~600 → blur-gated)
    and 2 tiny 12×12 images (dims-gated) so every gate branch fires."""
    import numpy as np
    import pandas as pd

    from spark_frontier.payload.codec import encode_image, synth_pixels
    from spark_frontier.pipeline.synth import gen_image_corpus

    pdf = gen_image_corpus(24, 2)[["image_id", "bytes"]]
    extra = []
    for s in range(6):
        extra.append((f"smooth_{s}",
                      encode_image(synth_pixels(500 + s, 32, 24), "png")))
    for s in range(2):
        rng = np.random.default_rng(900 + s)
        tiny = rng.integers(0, 256, (12, 12, 3)).astype(np.uint8)
        extra.append((f"tiny_{s}", encode_image(tiny, "png")))
    return pd.concat(
        [pdf, pd.DataFrame(extra, columns=["image_id", "bytes"])],
        ignore_index=True,
    )


def q46_caption_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption↔image alignment filter (multimodal.caption_alignment):
    hashing-trick text tower (pure JVM md5 one-hots) × pooled-luma image
    tower (Arrow UDF) → sparse-join cosine. The oracle carries the
    image-tower vectors as float32-exact literals (q35 pattern: the UDF
    seam's deterministic output) and replays the ENTIRE text tower,
    join, and cosine in SQL."""
    from spark_frontier.analytics.multimodal import caption_alignment
    from spark_frontier.pipeline.synth import gen_images

    pdf = gen_images(24)
    images = spark.createDataFrame(
        pdf[["image_id", "bytes", "caption"]]
    ).coalesce(4)
    out = caption_alignment(images, threshold=_Q46_THRESHOLD)
    return out.select(
        "image_id", F.round("alignment", 6).alias("alignment"), "is_aligned"
    )


# midpoint of the observed score gap for the seeded corpus
# (-0.0045 … 0.0243) — far from every actual alignment value, so fp
# addition-order noise between the two engines can never flip the gate
_Q46_THRESHOLD = 0.01


def q43_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals
    (textstats.repetition_signals): word-level and bigram-level
    repetition fractions per document — the cheap machine-text filter a
    pretraining pipeline runs before anything smarter."""
    from spark_frontier.analytics.textstats import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


def q47_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (decontam.decontaminate): word 8-gram
    overlap of every corpus doc against a held-out eval slice
    (doc_id % 37 == 0 plays the benchmark). Map-only corpus scan +
    broadcast eval-gram probe; only matched rows reach the count
    shuffle."""
    from spark_frontier.analytics.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    return decontaminate(train, ev, n=8).select(
        "doc_id", "n_hits", "is_contaminated"
    )


def q48_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (decontam.bigram_lm_scores): add-one
    smoothed average log-prob per doc, LM trained on the corpus itself —
    the cheap perplexity proxy a pretraining filter runs before a real
    LM. Scoring shuffle carries per-doc partials, not tokens."""
    from spark_frontier.analytics.decontam import bigram_lm_scores

    out = bigram_lm_scores(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.round("lm_logprob", 6).alias("lm_logprob"), "n_bigrams"
    )


def q49_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup.semdedup): semantic dedup — deterministic k-means
    blocks the corpus, cosine pairs compute only within a cluster, and
    connected components pick one representative per semantic-duplicate
    group. Every stage reuses an oracle-checked operator (q29 k-means,
    q14 cosine pairs, q30 components); the DuckDB twin chains their
    unrolls."""
    from spark_frontier.analytics.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(
        emb, n_centroids=8, n_iter=3, threshold=SEMDEDUP_TAU
    ).select("vec_id", "cluster_id", "keep")


# threshold sits mid-gap of the observed within-cluster cosine
# distribution at the test SFs so engine fp noise cannot flip a pair
# across it (the q46 rule): nearest cosines are 0.4277/0.4314 (sf0.001)
# and 0.4282/0.4322 (sf0.01) — margin >= 1.4e-3 against ~1e-7 float32
# product noise. The synthetic embeddings have no >0.5-cosine "true"
# near-dups, so a production-style 0.9 would make the query trivially
# all-keep; 0.43 exercises pair generation, component closure, and
# representative selection on real matches.
SEMDEDUP_TAU = 0.43


def q50_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (packing.pack_sequences): concat-and-chunk the
    corpus into 64-token training sequences — per doc its global token
    offset and the sequence span it occupies. The global prefix sum runs
    as the two-phase parallel scan (range partition → per-partition
    totals → parallel local cumsum); the oracle replays it as one
    ordered-window cumsum. capacity=64 sits below the corpus mean doc
    length so multi-sequence spans are actually exercised."""
    from spark_frontier.analytics.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), capacity=64, n_parts=8
    )


def q51_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-budget apportionment (budget.allocate_budget): Hamilton /
    largest-remainder split of a 1009-slot cycle budget across 97
    synthetic hosts weighted by event count. All-integer arithmetic
    (base = B·w div W, remainder ranked desc with host tie-break) so the
    DuckDB window twin replays it bit-exactly; the engine ranks via the
    two-phase scan, never a single-partition window. B=1009 (prime)
    guarantees a non-trivial leftover distribution."""
    from spark_frontier.frontier.budget import allocate_budget

    hosts = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.concat(F.lit("h"), (F.col("user_id") % 97).cast("string"))
            .alias("host")
        )
        .agg(F.count("*").alias("weight"))
    )
    return allocate_budget(hosts, total_budget=1009, n_parts=8)


def q53_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (sampling.dsir_logweights, Xie et al.
    2023): hashed unigram+bigram bag-of-ngrams models for a target slice
    (doc_id % 23 == 0 plays the target domain) and for the raw corpus;
    per-doc logweight = Σ count·(ln p_t − ln p_r) with add-one smoothing
    over 4096 buckets. Both LMs are ≤ bucket-count rows (broadcast); the
    corpus shuffle carries pre-collapsed (doc, bucket, count) rows."""
    from spark_frontier.analytics.sampling import dsir_logweights

    docs = _t(spark, sf_dir, "documents")
    return dsir_logweights(
        docs, docs.filter(F.col("doc_id") % 23 == 0), n_buckets=4096
    )


def q54_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained selection (packing.select_token_budget): keep
    the best-quality documents, in (quality desc, doc_id) order, while
    the cumulative token count fits a 5000-token budget. Quality is the
    q17 composite rounded to 6 (oracle-proven identical across engines,
    so the rank order cannot drift); the cumulative sums are exact
    integers. Engine side ranks via the two-phase scan — never a
    single-partition window."""
    from spark_frontier.analytics.packing import select_token_budget
    from spark_frontier.analytics.textstats import quality_score

    docs = _t(spark, sf_dir, "documents").withColumn(
        "quality", F.round(quality_score(F.col("text")), 6)
    )
    return select_token_budget(docs, token_budget=5000, n_parts=8)


def q55_safety_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist keyword gating (pii.safety_flags, the C4 "bad words"
    stage): exact-token category hits + hit density + drop flag, one
    codegen projection, blocklist inlined as literal predicates. The
    fixture blocklist is drawn from the synthetic corpus's own
    vocabulary so densities are non-trivial and the 5% threshold is
    actually crossed."""
    from spark_frontier.analytics.pii import safety_flags

    return safety_flags(
        _t(spark, sf_dir, "documents"),
        keywords={"perf": ["slow", "spill", "skew"],
                  "fault": ["crash", "leak", "deadlock"]},
        max_hit_frac=0.05,
    )


def q56_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (bpe.bpe_train, Sennrich et al. 2016):
    the first 16 learned merges over the corpus, trained on the
    word-frequency table (the only corpus-sized job is the word count).
    ROWS-ONLY by design: each round's winning pair depends on the data,
    so a SQL twin would have to embed the answers it is supposed to
    check; exactness is pinned by the pure-Python reference parity test
    (tests/test_bpe.py) instead."""
    from spark_frontier.analytics.bpe import bpe_train

    merges = bpe_train(
        _t(spark, sf_dir, "documents"), n_merges=16, min_count=2
    )
    rows = [(i, l, r, c) for i, (l, r, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank int, left string, right string, pair_count long"
    )


def _shard_corpus_pdf():
    """Deterministic mixed-aspect image corpus for q57: three size
    groups (4:3, 3:4, 4:1), one of them ragged against batch_size=8 so
    the is_full=False tail branch is exercised. Shared by the Spark
    query and the oracle's literal VALUES (the q35 pattern)."""
    import pandas as pd

    from spark_frontier.pipeline.synth import gen_image_corpus

    groups = {"a": (12, 32, 24), "b": (13, 24, 32), "c": (12, 48, 12)}
    frames = []
    for tag, (n_base, w, h) in groups.items():
        pdf = gen_image_corpus(n_base, 1, w=w, h=h)[
            ["image_id", "w", "h"]
        ].copy()
        pdf["image_id"] = tag + "-" + pdf["image_id"]
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True)


def q57_image_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio-bucketed shard assignment
    (multimodal.assign_image_shards): integer bucket key, md5 hash
    shuffle inside the bucket, fixed-size shard cut, ragged-tail flag.
    One shuffle on the bucket key; both windows share it."""
    from spark_frontier.analytics.multimodal import assign_image_shards

    images = spark.createDataFrame(_shard_corpus_pdf()).coalesce(4)
    return assign_image_shards(images, batch_size=8)


def q58_source_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report: the rollup a data-mix owner
    reads before setting quotas — doc counts, mean quality, English
    fraction, mean length, and the share clearing the default quality
    gate. One shuffle on `source`; every per-row expression is the
    oracle-proven q16/q17/q18 family."""
    from spark_frontier.analytics.textstats import (
        lang_id,
        quality_score,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    per_row = docs.select(
        "source",
        F.round(quality_score(F.col("text")), 6).alias("q"),
        lang_id(F.col("text")).alias("lang"),
        token_count(F.col("text")).alias("nt"),
    )
    return per_row.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.round(
            F.avg((F.col("lang") == "en").cast("double")), 6
        ).alias("en_frac"),
        F.round(F.avg(F.col("nt").cast("double")), 6).alias("avg_tokens"),
        F.round(
            F.avg((F.col("q") >= 0.3).cast("double")), 6
        ).alias("pass_frac"),
    )


def q59_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt Sitemap: directives
    (robots.sitemap_urls_from_robots — one JVM regexp projection). The
    fixture synthesizes per-host robots bodies from events with mixed
    case, indentation, a comment line, and hosts with 0/1/2 directives,
    so the (?im) extraction is exercised; DuckDB builds the identical
    strings and replays the same RE2-compatible pattern."""
    from spark_frontier.politeness.robots import sitemap_urls_from_robots

    hosts = (
        _t(spark, sf_dir, "events")
        .select((F.col("user_id") % 41).cast("int").alias("hid"))
        .distinct()
    )
    content = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.when(
            F.col("hid") % 3 == 0,
            F.concat(F.lit("Sitemap: https://h"), F.col("hid"),
                     F.lit(".example.com/sitemap.xml\n")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("hid") % 6 == 0,
            F.concat(F.lit("  sItEmAp:\thttps://h"), F.col("hid"),
                     F.lit(".example.com/news.xml\n# sitemap: nope\n")),
        ).otherwise(F.lit("")),
    )
    robots = hosts.select(
        F.concat(F.lit("h"), F.col("hid"), F.lit(".example.com"))
        .alias("host"),
        content.alias("content"),
    )
    return sitemap_urls_from_robots(robots)


def q60_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (sampling.assign_splits):
    cumulative hash-space thresholds over the md5-60 id hash — disjoint,
    rerun-stable, growth-stable. 90/5/5 at sf scales gives every split
    real membership."""
    from spark_frontier.analytics.sampling import assign_splits

    return assign_splits(
        _t(spark, sf_dir, "documents").select("doc_id"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )


def q52_dup_ngram_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring-dedup signals (decontam.dup_ngram_signals, Lee
    et al. 2022): per doc, the fraction of its word 8-gram positions
    whose gram also occurs in another document. Gram strings never
    shuffle (60-bit md5 hashes do); cross-doc frequency is one count
    window over the hash partitioning. At sf0.01 the synthetic corpus
    has ~1k cross-doc grams and 47 docs over the 0.5 drop line — the
    decision branch is genuinely exercised."""
    from spark_frontier.analytics.decontam import dup_ngram_signals

    return dup_ngram_signals(_t(spark, sf_dir, "documents"), n=8)


# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_frontier_dedup": q01_frontier_dedup,
        "q02_frontier_schedule": q02_frontier_schedule,
        "q03_legacy_shapes": q03_legacy_shapes,
        "q10_tpch": q10_tpch,
        "q12_exact_dedup": q12_exact_dedup,
        "q13_ngram_jaccard": q13_ngram_jaccard,
        "q14_embedding_neardup": q14_embedding_neardup,
        "q15_cosine_topk": q15_cosine_topk,
        "q16_text_signals": q16_text_signals,
        "q20_sha_parity": q20_sha_parity,
        "q25_category_segment": q25_category_segment,
        "q26_backoff_state": q26_backoff_state,
        "q27_category_chain": q27_category_chain,
        "q28_recent_failures": q28_recent_failures,
        "q21_minhash_lsh": q21_minhash_lsh,
        "q22_simhash": q22_simhash,
        "q23_ann_lsh": q23_ann_lsh,
        "q29_ann_ivf": q29_ann_ivf,
        "q30_dedup_clusters": q30_dedup_clusters,
        "q31_ann_pq": q31_ann_pq,
        "q32_winnow_fingerprints": q32_winnow_fingerprints,
        "q33_ann_ivfpq": q33_ann_ivfpq,
        "q34_corpus_mix": q34_corpus_mix,
        "q35_phash_neardup": q35_phash_neardup,
        "q36_pagerank_priority": q36_pagerank_priority,
        "q37_sessionize": q37_sessionize,
        "q38_recrawl_priority": q38_recrawl_priority,
        "q39_latency_quantiles": q39_latency_quantiles,
        "q40_tfidf_terms": q40_tfidf_terms,
        "q41_trap_detection": q41_trap_detection,
        "q42_pii_scrub": q42_pii_scrub,
        "q43_repetition_signals": q43_repetition_signals,
        "q44_image_dedup_clusters": q44_image_dedup_clusters,
        "q45_image_quality_gate": q45_image_quality_gate,
        "q46_caption_alignment": q46_caption_alignment,
        "q47_decontaminate": q47_decontaminate,
        "q48_bigram_lm_score": q48_bigram_lm_score,
        "q49_semdedup": q49_semdedup,
        "q50_pack_sequences": q50_pack_sequences,
        "q51_budget_allocation": q51_budget_allocation,
        "q52_dup_ngram_signals": q52_dup_ngram_signals,
        "q53_dsir_weights": q53_dsir_weights,
        "q54_token_budget": q54_token_budget,
        "q55_safety_flags": q55_safety_flags,
        "q56_bpe_merges": q56_bpe_merges,
        "q57_image_shards": q57_image_shards,
        "q58_source_health": q58_source_health,
        "q59_robots_sitemaps": q59_robots_sitemaps,
        "q60_split_assignment": q60_split_assignment,
        "q24_image_stats": q24_image_stats,
    }


_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKENS = f"list_filter(string_split_regex({_NORM}, '\\s+'), x -> x <> '')"

# q13's full pair query, shared verbatim with q30 (which clusters the
# same pairs) so the two oracles can never drift apart
_Q13_SQL = f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    idx AS (SELECT doc_id, t,
                   unnest(range(1, greatest(length(t)-4, 1)+1)) AS i
            FROM norm),
    grams AS (SELECT DISTINCT doc_id, substr(t, i::int, 5) AS gram
              FROM idx),
    -- stop-gram pruning, identical rule to the Spark operator:
    -- df_cap = max(64, 0.02 * |docs|); hot grams leave both the
    -- pair generation AND the set sizes (discriminative-shingle
    -- jaccard)
    hot AS (SELECT gram FROM grams GROUP BY gram
            HAVING count(*) > greatest(64,
                (SELECT CAST(0.02 * count(*) AS BIGINT)
                 FROM documents))),
    pruned AS (SELECT g.* FROM grams g
               WHERE g.gram NOT IN (SELECT gram FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS set_size
              FROM pruned GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS shared
              FROM pruned a JOIN pruned b USING (gram)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    j AS (SELECT doc_a, doc_b,
                 shared::DOUBLE
                 / (sa.set_size + sb.set_size - shared) AS jac
          FROM pairs
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard
    FROM j WHERE jac >= 0.4
"""


def _stop_list(lang: str) -> str:
    from spark_frontier.analytics.textstats import STOPWORDS

    return ", ".join(f"'{w}'" for w in STOPWORDS[lang])


def _lang_score(lang: str) -> str:
    return (
        f"len(list_filter({_TOKENS}, x -> x IN ({_stop_list(lang)})))"
    )


def _q42_oracle() -> str:
    """PII scrub replay. Patterns come FROM the production module so the
    oracle can never drift from the operator; they are written in the
    Java-regex ∩ RE2 common subset (no lookaround/backreferences), and
    DuckDB's regexp_replace needs the 'g' flag to match Spark's
    replace-all semantics."""
    from spark_frontier.analytics.pii import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(t, '{pats[n]}')) AS INT) AS n_{n}"
        for n in ("email", "ccn", "phone", "ipv4")
    )
    clean = "t"
    for _, pat, rep in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{rep}', 'g')"
    return f"""
        WITH aug AS (
            SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                || CASE WHEN doc_id % 3 = 0
                        THEN ' call 555-'
                             || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
                             || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                        ELSE '' END
                || CASE WHEN doc_id % 4 = 1
                        THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                             || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                        ELSE '' END
                || CASE WHEN doc_id % 5 = 2
                        THEN ' card 4111 1111 1111 '
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE '' END AS t
            FROM documents)
        SELECT doc_id,
               {counts},
               {clean} AS clean_text
        FROM aug
    """


def oracle_sql() -> dict[str, str]:
    qual_punct = (
        "length(regexp_replace(text, '[^.,;:!?''\"]', '', 'g'))"
        "::DOUBLE / greatest(length(text), 1)"
    )
    qual_ntok = f"len({_TOKENS})::DOUBLE"
    qual_stop = (
        f"len(list_filter({_TOKENS}, x -> x IN ({_stop_list('en')})))::DOUBLE"
        f" / greatest(len({_TOKENS}), 1)"
    )
    lang_cases = " ".join(
        f"WHEN s_{lg} = m THEN '{lg}'" for lg in ["de", "en", "es", "fr"]
    )
    return {
        "q01_frontier_dedup": f"""
            SELECT event_id, {_EVENT_URL_SQL} AS url
            FROM events e
            WHERE NOT EXISTS (
                SELECT 1 FROM events s
                WHERE s.event_id % 3 = 0 AND s.event_id = e.event_id)
        """,
        "q02_frontier_schedule": f"""
            -- replays ratelimit.assign_deadlines exactly (jitter 0):
            --   slot     = priority row_number per host (pos = event_id)
            --   interval = max(1/coalesce(rate, 0.5), crawl_delay)
            --   base_s   = max(0, rate_limit_until, last_fetch + interval)
            --   deadline = base_s + (slot-1) * interval
            WITH c AS (
                SELECT event_id, {_EVENT_HOST_SQL} AS host
                FROM events WHERE event_type <> 'error'),
            hs AS (
                SELECT * FROM (VALUES
                    ('site0.example.com', CAST(0.25 AS DOUBLE),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)),
                    ('site1.example.com', NULL, NULL, -1.0),
                    ('site2.example.com', NULL, 30.0, NULL)
                ) AS t(host, refill_rate, rl_until_s, last_fetch_off_s)),
            r AS (
                SELECT c.event_id, c.host,
                       ROW_NUMBER() OVER (PARTITION BY c.host
                                          ORDER BY c.event_id) AS host_slot,
                       GREATEST(
                           1.0 / COALESCE(h.refill_rate, 0.5),
                           CASE WHEN c.host = 'site3.example.com'
                                THEN 5.0 ELSE 0.0 END) AS interval_s,
                       GREATEST(
                           0.0,
                           COALESCE(h.rl_until_s, 0.0),
                           COALESCE(h.last_fetch_off_s + GREATEST(
                               1.0 / COALESCE(h.refill_rate, 0.5),
                               CASE WHEN c.host = 'site3.example.com'
                                    THEN 5.0 ELSE 0.0 END), 0.0)) AS base_s
                FROM c LEFT JOIN hs h USING (host))
            SELECT event_id, host, CAST(host_slot AS INT) AS host_slot,
                   ROUND(base_s + (host_slot - 1) * interval_s, 6)
                       AS deadline_s
            FROM r WHERE host_slot <= 3
        """,
        "q03_legacy_shapes": """
            WITH argc AS (
                SELECT user_id, event_type, count(*) AS n
                FROM events GROUP BY 1, 2),
            argr AS (
                SELECT user_id, event_type, n,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY n DESC, event_type) AS rk
                FROM argc),
            fun AS (
                SELECT event_type, count(*) AS _n,
                       count(DISTINCT user_id) AS _u,
                       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100
                            AS BIGINT) AS _c
                FROM events GROUP BY 1)
            SELECT 'recency' AS shape, CAST(event_id AS VARCHAR) AS k,
                   epoch_us(ts) AS n
            FROM events
            WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
            UNION ALL
            SELECT 'reject', CAST(doc_id AS VARCHAR) || ':' || source,
                   CAST(0 AS BIGINT)
            FROM documents
            WHERE NOT regexp_matches(lower(text), 'merge|stream')
            UNION ALL
            SELECT 'paging', CAST(o_orderkey AS VARCHAR), rn FROM (
                SELECT o_orderkey,
                       ROW_NUMBER() OVER (ORDER BY o_orderdate DESC,
                                          o_orderkey) AS rn
                FROM orders) WHERE rn > 40 AND rn <= 60
            UNION ALL
            SELECT 'tail', CAST(user_id AS VARCHAR) || ':'
                           || CAST(event_id AS VARCHAR), rn FROM (
                SELECT user_id, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC,
                                          event_id DESC) AS rn
                FROM events WHERE event_type = 'click') WHERE rn <= 5
            UNION ALL
            SELECT 'argmax', CAST(user_id AS VARCHAR) || ':' || event_type,
                   (SELECT max(n) FROM argc c2
                    WHERE c2.user_id = argr.user_id)
            FROM argr WHERE rk = 1
            UNION ALL
            SELECT 'funnel_n', event_type, _n FROM fun
            UNION ALL SELECT 'funnel_users', event_type, _u FROM fun
            UNION ALL SELECT 'funnel_cents', event_type, _c FROM fun
            UNION ALL
            SELECT 'coalesce', CAST(o_orderkey AS VARCHAR) || ':' ||
                   coalesce(
                       CASE WHEN o_orderstatus = 'F' THEN NULL
                            ELSE o_orderstatus END,
                       CASE WHEN o_totalprice > 200000 THEN 'big' END,
                       'sports'),
                   CAST(0 AS BIGINT)
            FROM orders
        """,
        "q10_tpch": """
            WITH a AS (
                SELECT l_returnflag, l_linestatus,
                       sum(CAST(l_quantity AS DECIMAL(18,2))) AS _sq,
                       sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS _sbp,
                       sum(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(18,2))
                              - CAST(l_discount AS DECIMAL(18,2)))) AS _sdp,
                       sum(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(18,2))
                              - CAST(l_discount AS DECIMAL(18,2)))
                           * (CAST(1 AS DECIMAL(18,2))
                              + CAST(l_tax AS DECIMAL(18,2)))) AS _sc,
                       count(*) AS count_order
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02'
                GROUP BY 1, 2)
            , b AS (
                SELECT o_orderkey, o_orderdate,
                       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                * (CAST(1 AS DECIMAL(18,2))
                                   - CAST(l_discount AS DECIMAL(18,2))))
                            AS DOUBLE) AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
                GROUP BY 1, 2
                ORDER BY revenue DESC, o_orderkey
                LIMIT 10)
            SELECT 'q1' AS tag, l_returnflag AS k1, l_linestatus AS k2,
                   CAST(_sq AS DOUBLE) AS d1,
                   CAST(_sbp AS DOUBLE) AS d2,
                   CAST(_sdp AS DOUBLE) AS d3,
                   CAST(_sc AS DOUBLE) AS d4,
                   round(CAST(_sq AS DOUBLE) / count_order, 6) AS d5,
                   count_order AS n
            FROM a
            UNION ALL
            SELECT 'q3', CAST(o_orderkey AS VARCHAR),
                   CAST(epoch_us(o_orderdate) AS VARCHAR),
                   revenue, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                   CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                   CAST(0 AS BIGINT)
            FROM b
        """,
        "q12_exact_dedup": f"""
            SELECT md5({_NORM}) AS text_hash,
                   min(doc_id) AS keep_doc_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "q13_ngram_jaccard": _Q13_SQL,
        "q30_dedup_clusters": f"""
            WITH RECURSIVE near_pairs AS ({_Q13_SQL}),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM near_pairs
                UNION
                SELECT doc_b, doc_a FROM near_pairs
            ),
            -- reachability closure: every (vertex, label of any vertex
            -- that reaches it); min label per vertex = component min id
            reach(id, lab) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.dst, r.lab
                FROM reach r JOIN edges e ON e.src = r.id
            ),
            comp AS (SELECT id AS doc_id, min(lab) AS cluster_id
                     FROM reach GROUP BY id)
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id)
        """,
        "q14_embedding_neardup": """
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 4)
                       AS cosine
            FROM embeddings a
            JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) >= 0.3
        """,
        "q15_cosine_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                         (SELECT embedding::DOUBLE[] FROM embeddings
                          WHERE vec_id = 0)), 4) AS cosine
            FROM embeddings WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(embedding::DOUBLE[],
                     (SELECT embedding::DOUBLE[] FROM embeddings
                      WHERE vec_id = 0)) DESC, vec_id
            LIMIT 10
        """,
        "q16_text_signals": f"""
            WITH s AS (
                SELECT doc_id, text,
                       {_lang_score('de')} AS s_de,
                       {_lang_score('en')} AS s_en,
                       {_lang_score('es')} AS s_es,
                       {_lang_score('fr')} AS s_fr
                FROM documents),
            m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) AS m FROM s)
            SELECT doc_id,
                   CAST(len({_TOKENS}) AS INT) AS n_tokens,
                   CAST(len(list_filter(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'),
                        x -> x <> '')) AS INT) AS n_subwords,
                   round((least({qual_ntok} / 20.0, 1.0)
                          + (1.0 - least({qual_punct} * 5.0, 1.0))
                          + least({qual_stop} * 4.0, 1.0)) / 3.0, 6)
                       AS quality,
                   CASE WHEN m = 0 THEN 'und' {lang_cases} END AS lang_guess,
                   md5({_NORM}) AS fp
            FROM m
        """,
        "q20_sha_parity": f"""
            SELECT event_id, sha256({_EVENT_URL_SQL}) AS url_sha FROM events
        """,
        "q25_category_segment": _q25_oracle(),
        "q26_backoff_state": _Q26_ORACLE,
        "q27_category_chain": _q27_oracle(),
        "q28_recent_failures": """
            WITH logs AS (
                SELECT 'site-' || CAST(user_id % 25 AS VARCHAR) AS site_id,
                       CASE event_type WHEN 'error' THEN 429
                            WHEN 'click' THEN 500 ELSE 200 END AS http_code,
                       ts
                FROM events)
            SELECT site_id, count(*) AS n_failures
            FROM logs
            WHERE http_code >= 400
              AND ts > (SELECT max(ts) - INTERVAL 24 HOUR FROM events)
            GROUP BY site_id
        """,
        "q21_minhash_lsh": _q21_oracle(),
        "q24_image_stats": _q24_oracle(),
        "q22_simhash": _q22_oracle(),
        "q23_ann_lsh": _q23_oracle(),
        "q29_ann_ivf": _q29_oracle(),
        "q49_semdedup": _q49_oracle(),
        "q31_ann_pq": _q31_oracle(),
        "q33_ann_ivfpq": _q33_oracle(),
        "q34_corpus_mix": f"""
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (
                         PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                           AS rk
                FROM documents)
            WHERE rk <= CASE source {' '.join(
                f"WHEN '{k}' THEN {v}" for k, v in sorted(_Q34_QUOTAS.items())
            )} ELSE 0 END
              AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) < {int(_Q34_FRAC * (1 << 60))}
        """,
        "q32_winnow_fingerprints": f"""
            WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
            grams AS (
                SELECT doc_id, i - 1 AS pos, substr(t, i, 5) AS g
                FROM (SELECT doc_id, t,
                             unnest(range(1, greatest(length(t)-4, 1)+1))
                                 AS i
                      FROM norm)),
            gh AS (
                SELECT doc_id, pos,
                       CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh,
                       count(*) OVER (PARTITION BY doc_id) AS n_grams
                FROM grams),
            sel AS (
                SELECT doc_id, pos, n_grams,
                       min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN CURRENT ROW
                                     AND 7 FOLLOWING) AS fingerprint
                FROM gh)
            SELECT DISTINCT doc_id, fingerprint
            FROM sel WHERE pos <= greatest(n_grams - 8, 0)
        """,
        "q35_phash_neardup": _q35_oracle(),
        "q36_pagerank_priority": _q36_oracle(),
        "q37_sessionize": """
            WITH g AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL THEN 1
                            WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                 > 21600000000 THEN 1
                            ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
                SELECT user_id, ts,
                       CAST(SUM(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                           AS INT) AS session_seq
                FROM g)
            SELECT user_id, session_seq, count(*) AS n_events,
                   min(ts) AS session_start,
                   round((epoch_us(max(ts)) - epoch_us(min(ts)))
                         / 1000000.0, 6) AS duration_s
            FROM s GROUP BY 1, 2
        """,
        "q38_recrawl_priority": f"""
            -- Cho & Garcia-Molina: lam = -ln((n-X+0.5)/(n+0.5)) / gap_h,
            -- priority = 1 - exp(-lam * age_h); arithmetic order mirrors
            -- frontier/recrawl.py exactly
            WITH o AS (
                SELECT 'page-' || CAST(event_id % 64 AS VARCHAR) AS url,
                       ts, (value > 60) AS changed
                FROM events),
            a AS (
                SELECT url, count(*) AS n_obs,
                       CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_changed,
                       min(ts) AS first_ts, max(ts) AS last_ts
                FROM o GROUP BY url
                HAVING count(*) >= 5 AND max(ts) > min(ts)),
            c AS (
                SELECT url, n_obs, n_changed,
                       ((epoch_us(last_ts) - epoch_us(first_ts))
                        / 3600000000.0) / (n_obs - 1) AS gap_h,
                       (epoch_us(TIMESTAMP '{_Q38_REF_TS}')
                        - epoch_us(last_ts)) / 3600000000.0 AS age_h
                FROM a),
            l AS (
                SELECT url, n_obs, n_changed, age_h,
                       -ln((n_obs - n_changed + 0.5) / (n_obs + 0.5))
                           / gap_h AS lam
                FROM c)
            SELECT url, n_obs, n_changed,
                   round(lam, 6) AS lambda_per_h,
                   round(1.0 - exp(-lam * age_h), 6) AS priority
            FROM l
        """,
        "q39_latency_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "q40_tfidf_terms": f"""
            WITH terms AS (
                SELECT source AS grp, unnest({_TOKENS}) AS term
                FROM documents),
            tf AS (SELECT grp, term, count(*) AS tf
                   FROM terms GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            ng AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS s
                   FROM documents),
            scored AS (
                SELECT grp, term, tf,
                       tf * ln((SELECT s FROM ng) / df) AS score
                FROM tf JOIN df USING (term)),
            r AS (SELECT grp, term, tf, score,
                         ROW_NUMBER() OVER (PARTITION BY grp
                             ORDER BY score DESC, term) AS rk
                  FROM scored)
            SELECT grp AS source, term, tf, round(score, 6) AS score,
                   CAST(rk AS INT) AS rk
            FROM r WHERE rk <= 3
        """,
        "q41_trap_detection": f"""
            WITH u AS (
                SELECT event_id,
                    'https://site' || CAST(user_id % 8 AS VARCHAR)
                    || '.example.com/'
                    || CASE WHEN event_id % 11 = 0
                            THEN '2023/05/17/2024/' ELSE '' END
                    || repeat('cat/', CAST(event_id % 7 AS INT))
                    || 'p' || CAST(event_id AS VARCHAR)
                    || CASE WHEN event_id % 13 = 0
                            THEN '{_Q41_QUERY}' ELSE '' END AS url
                FROM events),
            f AS (
                SELECT event_id, url,
                    list_filter(string_split(split_part(
                        regexp_replace(url, '^https?://[^/]*', ''),
                        '?', 1), '/'), s -> s <> '') AS segs,
                    CASE WHEN contains(url, '?')
                         THEN split_part(url, '?', 2) ELSE '' END AS query
                FROM u),
            g AS (
                SELECT event_id,
                    CAST(len(segs) AS INT) AS depth,
                    CAST(len(segs) - len(list_distinct(segs)) AS INT)
                        AS n_dup_segs,
                    CASE WHEN query = '' THEN 0
                         ELSE CAST(len(string_split(query, '&')) AS INT)
                         END AS n_params,
                    CAST(len(list_filter(segs,
                        s -> regexp_matches(s, '^(19|20)[0-9]{{2}}$')))
                        AS INT) AS n_year_segs,
                    length(url) > 512 AS long_url
                FROM f)
            SELECT event_id, depth, n_dup_segs, n_params, n_year_segs,
                   (depth > 12 OR n_dup_segs >= 2 OR n_params > 8
                    OR n_year_segs >= 2 OR long_url) AS is_trap
            FROM g
        """,
        "q42_pii_scrub": _q42_oracle(),
        "q44_image_dedup_clusters": _q44_oracle(),
        "q45_image_quality_gate": _q45_oracle(),
        "q46_caption_alignment": _q46_oracle(),
        "q43_repetition_signals": f"""
            WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            t AS (SELECT doc_id, unnest(toks) AS tok,
                         generate_subscripts(toks, 1) AS i
                  FROM base),
            bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
                   FROM t a JOIN t b
                     ON a.doc_id = b.doc_id AND b.i = a.i + 1),
            bgc AS (SELECT doc_id, bg, count(*) AS c
                    FROM bg GROUP BY doc_id, bg),
            agg AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot
                    FROM bgc GROUP BY doc_id)
            SELECT b.doc_id,
                   CAST(len(b.toks) AS INT) AS n_tokens,
                   round(1.0 - CAST(len(list_distinct(b.toks)) AS DOUBLE)
                         / greatest(len(b.toks), 1), 6) AS dup_word_frac,
                   round(coalesce(CAST(a.mx AS DOUBLE) / a.tot, 0.0), 6)
                       AS top_bigram_frac
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "q47_decontaminate": f"""
            WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_transform(
                             range(1, greatest(len(toks)-7, 0)+1),
                             i -> array_to_string(toks[i:i+7], ' '))) AS gram
                  FROM base),
            gd AS (SELECT DISTINCT doc_id, gram FROM g),
            ev AS (SELECT DISTINCT gram FROM gd WHERE doc_id % 37 = 0),
            hits AS (SELECT gd.doc_id, CAST(count(*) AS INT) AS n_hits
                     FROM gd JOIN ev USING (gram)
                     WHERE gd.doc_id % 37 <> 0
                     GROUP BY gd.doc_id)
            SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS is_contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 37 <> 0
        """,
        "q48_bigram_lm_score": f"""
            WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            t AS (SELECT doc_id, unnest(toks) AS tok FROM base),
            bg AS (SELECT doc_id,
                          unnest(list_transform(
                              range(1, greatest(len(toks)-1, 0)+1),
                              i -> toks[i] || ' ' || toks[i+1])) AS bigram
                   FROM base),
            v AS (SELECT count(DISTINCT tok) AS vocab FROM t),
            c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
            c1 AS (SELECT tok, count(*) AS c1 FROM t GROUP BY tok),
            lp AS (SELECT bg.doc_id,
                          ln(CAST(c2.c2 + 1 AS DOUBLE)
                             / CAST(c1.c1 + v.vocab AS DOUBLE)) AS lp
                   FROM bg
                   JOIN c2 USING (bigram)
                   JOIN c1 ON c1.tok = string_split(bg.bigram, ' ')[1]
                   CROSS JOIN v)
            SELECT doc_id, round(avg(lp), 6) AS lm_logprob,
                   CAST(count(*) AS INT) AS n_bigrams
            FROM lp GROUP BY doc_id
        """,
        "q50_pack_sequences": f"""
            WITH t AS (SELECT doc_id,
                              CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
                       FROM documents),
            c AS (SELECT doc_id, n_tokens,
                         CAST(coalesce(SUM(n_tokens) OVER (
                             ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
                  FROM t)
            SELECT doc_id, n_tokens, "offset",
                   "offset" // 64 AS seq_first,
                   CASE WHEN n_tokens = 0 THEN "offset" // 64
                        ELSE ("offset" + n_tokens - 1) // 64
                   END AS seq_last,
                   CASE WHEN n_tokens = 0 THEN 0
                        ELSE ("offset" + n_tokens - 1) // 64
                             - "offset" // 64 + 1
                   END AS n_seqs
            FROM c
        """,
        "q51_budget_allocation": """
            WITH h AS (SELECT 'h' || CAST(user_id % 97 AS VARCHAR) AS host,
                              CAST(count(*) AS BIGINT) AS weight
                       FROM events GROUP BY 1),
            tot AS (SELECT SUM(weight) AS w FROM h),
            s AS (SELECT host, weight,
                         CAST((weight * 1009) // tot.w AS BIGINT) AS base,
                         (weight * 1009) % tot.w AS rem
                  FROM h CROSS JOIN tot),
            l AS (SELECT 1009 - SUM(base) AS leftover FROM s),
            r AS (SELECT host, weight, base,
                         ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rk
                  FROM s)
            SELECT host, weight,
                   CAST(base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS alloc
            FROM r CROSS JOIN l
        """,
        "q52_dup_ngram_signals": f"""
            WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_transform(
                             range(1, greatest(len(toks)-7, 0)+1),
                             i -> array_to_string(toks[i:i+7], ' ')))
                             AS gram
                  FROM base),
            gh AS (SELECT doc_id,
                          {_H60.format(x='gram')} AS gh,
                          CAST(count(*) AS BIGINT) AS npos
                   FROM g GROUP BY 1, 2),
            nd AS (SELECT gh, count(*) AS n_docs FROM gh GROUP BY gh),
            per_doc AS (
                SELECT gh.doc_id,
                       CAST(sum(npos) AS BIGINT) AS n_grams,
                       CAST(sum(CASE WHEN n_docs >= 2 THEN npos ELSE 0 END)
                            AS BIGINT) AS n_dup_grams
                FROM gh JOIN nd USING (gh) GROUP BY gh.doc_id)
            SELECT d.doc_id,
                   coalesce(p.n_grams, 0) AS n_grams,
                   coalesce(p.n_dup_grams, 0) AS n_dup_grams,
                   coalesce(round(p.n_dup_grams / p.n_grams, 6), 0.0)
                       AS dup_frac,
                   coalesce(p.n_dup_grams / p.n_grams >= 0.5, FALSE)
                       AS drop_doc
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "q53_dsir_weights": f"""
            WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            feats AS (SELECT doc_id, unnest(list_concat(
                          toks,
                          list_transform(
                              range(1, greatest(len(toks)-1, 0)+1),
                              i -> toks[i] || ' ' || toks[i+1]))) AS feat
                      FROM base),
            fb AS (SELECT doc_id,
                          {_H60.format(x='feat')} % 4096 AS bucket
                   FROM feats),
            dc AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
                   FROM fb GROUP BY 1, 2),
            tcnt AS (SELECT bucket, count(*) AS c FROM fb
                     WHERE doc_id % 23 = 0 GROUP BY bucket),
            ttot AS (SELECT coalesce(sum(c), 0) AS t FROM tcnt),
            rcnt AS (SELECT bucket, count(*) AS c FROM fb GROUP BY bucket),
            rtot AS (SELECT coalesce(sum(c), 0) AS t FROM rcnt),
            lam AS (SELECT r.bucket,
                           ln((coalesce(t.c, 0) + 1)::DOUBLE
                              / (ttot.t + 4096))
                           - ln((r.c + 1)::DOUBLE / (rtot.t + 4096)) AS lam
                    FROM rcnt r LEFT JOIN tcnt t ON t.bucket = r.bucket
                    CROSS JOIN ttot CROSS JOIN rtot),
            sc AS (SELECT dc.doc_id,
                          CAST(sum(n) AS BIGINT) AS n_feats,
                          round(sum(n * lam), 6) AS logweight
                   FROM dc JOIN lam USING (bucket) GROUP BY dc.doc_id)
            SELECT d.doc_id,
                   coalesce(sc.n_feats, 0) AS n_feats,
                   coalesce(sc.logweight, 0.0) AS logweight
            FROM documents d LEFT JOIN sc USING (doc_id)
        """,
        "q54_token_budget": f"""
            WITH t AS (
                SELECT doc_id,
                       round((least({qual_ntok} / 20.0, 1.0)
                              + (1.0 - least({qual_punct} * 5.0, 1.0))
                              + least({qual_stop} * 4.0, 1.0)) / 3.0, 6)
                           AS quality,
                       CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
                FROM documents),
            c AS (
                SELECT doc_id, quality, n_tokens,
                       CAST(coalesce(SUM(n_tokens) OVER (
                           ORDER BY quality DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS BIGINT)
                           AS cum_before
                FROM t)
            SELECT doc_id, quality, n_tokens, cum_before,
                   cum_before + n_tokens <= 5000 AS selected
            FROM c
        """,
        "q55_safety_flags": f"""
            WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
            c AS (
                SELECT doc_id,
                       CAST(len(toks) AS INT) AS n_tokens,
                       CAST(len(list_filter(toks, x -> x IN
                           ('crash', 'leak', 'deadlock'))) AS INT)
                           AS n_fault,
                       CAST(len(list_filter(toks, x -> x IN
                           ('slow', 'spill', 'skew'))) AS INT) AS n_perf
                FROM base)
            SELECT doc_id, n_tokens, n_fault, n_perf,
                   round((n_fault + n_perf)
                         / greatest(n_tokens, 1)::DOUBLE, 6) AS hit_frac,
                   (n_fault + n_perf)
                       / greatest(n_tokens, 1)::DOUBLE > 0.05 AS drop_doc
            FROM c
        """,
        "q57_image_shards": _q57_oracle(),
        # NOTE: the 'val' bound replays the operator's float ACCUMULATION
        # (0.9 + 0.05 == 0.9500000000000001), not the literal 0.95 — the
        # two differ by ~1 ULP ≈ 115 hash values of disagreement window
        "q60_split_assignment": f"""
            SELECT doc_id,
                   CASE
                     WHEN {_H60.format(x='CAST(doc_id AS VARCHAR)')}
                          < {int(0.9 * (1 << 60))} THEN 'train'
                     WHEN {_H60.format(x='CAST(doc_id AS VARCHAR)')}
                          < {int((0.9 + 0.05) * (1 << 60))} THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM documents
        """,
        "q59_robots_sitemaps": r"""
            WITH h AS (SELECT DISTINCT CAST(user_id % 41 AS INT) AS hid
                       FROM events),
            r AS (SELECT 'h' || hid || '.example.com' AS host,
                         'User-agent: *' || chr(10)
                         || 'Disallow: /private' || chr(10)
                         || CASE WHEN hid % 3 = 0
                                 THEN 'Sitemap: https://h' || hid
                                      || '.example.com/sitemap.xml'
                                      || chr(10)
                                 ELSE '' END
                         || CASE WHEN hid % 6 = 0
                                 THEN '  sItEmAp:' || chr(9)
                                      || 'https://h' || hid
                                      || '.example.com/news.xml'
                                      || chr(10) || '# sitemap: nope'
                                      || chr(10)
                                 ELSE '' END AS content
                  FROM h)
            SELECT DISTINCT host, sitemap_url FROM (
                SELECT host,
                       unnest(regexp_extract_all(content,
                           '(?im)^[ \t]*sitemap:[ \t]*(\S+)', 1))
                           AS sitemap_url
                FROM r)
        """,
        "q58_source_health": f"""
            WITH s AS (
                SELECT source,
                       round((least({qual_ntok} / 20.0, 1.0)
                              + (1.0 - least({qual_punct} * 5.0, 1.0))
                              + least({qual_stop} * 4.0, 1.0)) / 3.0, 6)
                           AS q,
                       {_lang_score('de')} AS s_de,
                       {_lang_score('en')} AS s_en,
                       {_lang_score('es')} AS s_es,
                       {_lang_score('fr')} AS s_fr,
                       len({_TOKENS}) AS nt
                FROM documents),
            m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) AS m FROM s)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(avg(q), 6) AS avg_quality,
                   -- lang=='en' iff the max is positive AND en wins the
                   -- alphabetical first-match (de outranks en on ties)
                   round(avg(CASE WHEN m > 0 AND s_de <> m AND s_en = m
                                  THEN 1.0 ELSE 0.0 END), 6) AS en_frac,
                   round(avg(nt::DOUBLE), 6) AS avg_tokens,
                   round(avg(CASE WHEN q >= 0.3 THEN 1.0 ELSE 0.0 END), 6)
                       AS pass_frac
            FROM m GROUP BY source
        """,
        # q24 (binary image payloads): rows-only — image decode is not
        # SQL-expressible
    }


def _q57_oracle() -> str:
    """DuckDB twin of q57: the same deterministic (image_id, w, h)
    corpus as VALUES literals (the q35 pattern), then the identical
    integer bucket key, md5-hash-shuffle row_number, shard cut, and
    ragged-tail rule."""
    vals = ",\n            ".join(
        f"('{r.image_id}', {int(r.w)}, {int(r.h)})"
        for r in _shard_corpus_pdf().itertuples()
    )
    h60 = _H60.format(x="image_id")
    return f"""
        WITH images(image_id, w, h) AS (VALUES
            {vals}),
        b AS (
            SELECT image_id,
                   CAST(w AS BIGINT) AS w,
                   CAST(h AS BIGINT) AS h,
                   CAST((w * 1000) // h AS BIGINT) AS aspect_bucket,
                   {h60} AS shuf
            FROM images),
        r AS (
            SELECT image_id, w, h, aspect_bucket,
                   ROW_NUMBER() OVER (
                       PARTITION BY aspect_bucket
                       ORDER BY shuf, image_id) - 1 AS rk,
                   COUNT(*) OVER (PARTITION BY aspect_bucket) AS n
            FROM b)
        SELECT image_id, w, h, aspect_bucket,
               rk // 8 AS shard_id,
               CAST(rk % 8 AS INT) AS pos_in_shard,
               rk // 8 < n // 8 AS is_full
        FROM r
    """


def _phash_values_sql() -> str:
    """The deterministic decoded phashes as a VALUES literal list (q23's
    plane-matrix pattern — both sides are pinned to the same seeded
    corpus). Shared by q35 and q44 so their oracles cannot drift."""
    from spark_frontier.payload.codec import decode_image, phash64
    from spark_frontier.pipeline.synth import gen_image_corpus

    pdf = gen_image_corpus(24, 2)
    return ",\n            ".join(
        f"('{r.image_id}', CAST({phash64(decode_image(r.bytes))} AS BIGINT))"
        for r in pdf.itertuples()
    )


def _q35_pairs_sql() -> str:
    """q35's full pair query (exact Hamming self-join over the phash
    literals) — shared verbatim with q44, which clusters the same
    pairs, mirroring how _Q13_SQL is shared between q13 and q30."""
    return f"""
        WITH ph AS (
            SELECT * FROM (VALUES
            {_phash_values_sql()}) AS t(image_id, phash)),
        p AS (
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
            FROM ph a JOIN ph b ON a.image_id < b.image_id)
        SELECT id_a, id_b, hamming FROM p WHERE hamming <= 6
    """


def _q35_oracle() -> str:
    """DuckDB twin of q35: a hash match proves the Spark decode + phash
    UDF AND the banded join against a plain exact Hamming self-join."""
    return _q35_pairs_sql()


def _q44_oracle() -> str:
    """DuckDB twin of q44: q35's pairs clustered by a recursive-CTE
    reachability closure (the q30 pattern), over the same vertex list."""
    return f"""
        WITH RECURSIVE near_pairs AS ({_q35_pairs_sql()}),
        verts AS (
            SELECT image_id FROM (VALUES
            {_phash_values_sql()}) AS t(image_id, phash)),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM near_pairs
            UNION
            SELECT id_b, id_a FROM near_pairs),
        reach(id, lab) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        comp AS (SELECT id AS image_id, min(lab) AS cluster_id
                 FROM reach GROUP BY id)
        SELECT v.image_id,
               coalesce(c.cluster_id, v.image_id) AS cluster_id
        FROM verts v LEFT JOIN comp c USING (image_id)
    """


def _q45_oracle() -> str:
    """DuckDB twin of q45: per-image quality signals computed by the
    same codec + numpy path driver-side ride as UNROUNDED literals
    (shortest-repr round-trips to the identical double); the gate and
    the 6-dp rounding are replayed in SQL so they mirror the Spark
    plan's predicate and F.round."""
    from spark_frontier.analytics.multimodal import laplacian_variance
    from spark_frontier.payload.codec import decode_image

    import numpy as np

    pdf = _q45_corpus()
    rows = []
    for r in pdf.itertuples():
        px = decode_image(r.bytes)
        g = px.astype(np.float64).mean(axis=-1)
        rows.append(
            f"('{r.image_id}', {px.shape[1]}, {px.shape[0]}, "
            f"{laplacian_variance(px)!r}, {float(g.std())!r}, "
            f"{float(g.mean())!r})"
        )
    vals = ",\n            ".join(rows)
    return f"""
        WITH s AS (
            SELECT * FROM (VALUES
            {vals})
            AS t(image_id, w, h, sharpness, contrast, brightness))
        SELECT image_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
               round(sharpness, 6) AS sharpness,
               round(contrast, 6) AS contrast,
               round(brightness, 6) AS brightness,
               (w >= 16 AND h >= 16 AND sharpness >= 5000.0
                AND contrast >= 8.0) AS is_ok
        FROM s
    """


def _q46_oracle() -> str:
    """DuckDB twin of q46: image-tower vectors as float32-exact literals
    (the Spark UDF stores ArrayType(FloatType), so literals are rounded
    through np.float32 to match); text tower, sparse-join dot product,
    norms, and gate all replayed in SQL."""
    import numpy as np

    from spark_frontier.analytics.multimodal import feature_vec
    from spark_frontier.payload.codec import decode_image
    from spark_frontier.pipeline.synth import gen_images

    pdf = gen_images(24)
    frows, crows = [], []
    for r in pdf.itertuples():
        fv = [float(np.float32(v)) for v in feature_vec(decode_image(r.bytes))]
        frows.append(f"('{r.image_id}', {fv})")
        crows.append(f"('{r.image_id}', '{r.caption}')")
    feats = ",\n            ".join(frows)
    caps = ",\n            ".join(crows)
    return f"""
        WITH imgs AS (
            SELECT * FROM (VALUES
            {caps}) AS t(image_id, caption)),
        feats AS (
            SELECT image_id, fv::DOUBLE[] AS fv FROM (VALUES
            {feats}) AS t(image_id, fv)),
        tok AS (
            SELECT image_id,
                   unnest(list_filter(string_split_regex(
                       lower(trim(caption)), '\\s+'), x -> x <> '')) AS tok
            FROM imgs),
        sparse AS (
            SELECT image_id,
                   CAST('0x' || substring(md5(tok), 1, 2) AS INT) % 64
                       AS idx,
                   SUM(CAST(1 - 2 * (CAST('0x' || substring(md5(tok), 3, 1)
                       AS INT) % 2) AS DOUBLE)) AS tv
            FROM tok GROUP BY image_id, idx),
        fpos AS (
            SELECT image_id, generate_subscripts(fv, 1) - 1 AS idx,
                   unnest(fv) AS f
            FROM feats),
        dot AS (
            SELECT s.image_id, SUM(s.tv * p.f) AS dot
            FROM sparse s JOIN fpos p
              ON s.image_id = p.image_id AND s.idx = p.idx
            GROUP BY s.image_id),
        tn AS (SELECT image_id, sqrt(SUM(tv * tv)) AS tnorm
               FROM sparse GROUP BY image_id),
        inn AS (SELECT image_id, sqrt(SUM(f * f)) AS inorm
                FROM fpos GROUP BY image_id)
        SELECT i.image_id,
               round(coalesce(d.dot / nullif(t.tnorm * n.inorm, 0.0),
                              0.0), 6) AS alignment,
               coalesce(d.dot / nullif(t.tnorm * n.inorm, 0.0), 0.0)
                   >= {_Q46_THRESHOLD} AS is_aligned
        FROM imgs i
        LEFT JOIN dot d USING (image_id)
        LEFT JOIN tn t USING (image_id)
        LEFT JOIN inn n USING (image_id)
    """


def _q36_oracle() -> str:
    """DuckDB twin of q36: the 3 PageRank iterations unrolled as chained
    CTEs (the _q29_oracle Lloyd-unroll pattern); arithmetic order mirrors
    analytics/graph.pagerank term for term."""
    it = """
        r{k} AS (
            SELECT v.node,
                   (1.0 - 0.85) / (SELECT n FROM nn)
                   + 0.85 * COALESCE(s.s, 0.0) AS rank
            FROM v LEFT JOIN (
                SELECT e.dst AS node, SUM(r.rank / od.outdeg) AS s
                FROM e JOIN r{p} r ON r.node = e.src
                       JOIN od ON od.src = e.src
                GROUP BY e.dst) s USING (node))"""
    unroll = ",".join(it.format(k=k, p=k - 1) for k in (1, 2, 3))
    return f"""
        WITH e AS (
            SELECT DISTINCT event_id % 256 AS src,
                   (event_id * 7 + user_id * 13) % 256 AS dst
            FROM events
            WHERE event_id % 256 <> (event_id * 7 + user_id * 13) % 256),
        v AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
        od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM v),
        {unroll}
        SELECT node, round(rank, 9) AS rank FROM r3
    """


def _q25_oracle() -> str:
    from spark_frontier.extract.category import (
        CATEGORY_KEYWORDS,
        CUSTOM_CATEGORIES,
        _KEYWORD_TO_CAT,
    )

    mapping: dict[str, str] = {}
    mapping.update(_KEYWORD_TO_CAT)
    for k in CATEGORY_KEYWORDS:
        mapping[k] = k
    for c in CUSTOM_CATEGORIES:
        mapping[c] = c
    cases = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(mapping.items())
    )
    pool = ", ".join(f"'{s}'" for s in _SEG_POOL)
    return f"""
        WITH base AS (
            SELECT doc_id,
                   [ [{pool}][CAST(doc_id % 10 AS INT) + 1],
                     [{pool}][CAST((doc_id // 10) % 10 AS INT) + 1],
                     'article-' || CAST(doc_id AS VARCHAR) ] AS segs
            FROM documents),
        hits AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(segs, s -> CASE s {cases} END),
                       h -> h IS NOT NULL) AS h
            FROM base)
        SELECT doc_id, COALESCE(h[1], 'sports') AS category FROM hits
    """


_H60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
_W64 = "18446744073709551616"  # 2^64 (numpy uint64 wrap)
_P61 = "2305843009213693951"   # (1<<61)-1, the minhash prime


def _q24_oracle() -> str:
    """Ground-truth literals for q24: per-image channel stats derived
    from the synthesizer's pixels and the codec's documented lossy
    quantization (q = px//step*step + step//2, clipped) — deliberately
    NOT via decode_image, so a decode bug cannot leak into the oracle.

    Rounding matches Spark's ``F.round`` exactly: Spark rounds doubles
    via ``BigDecimal(Double.toString(x)).setScale(4, HALF_UP)``;
    ``Decimal(repr(x))`` + ROUND_HALF_UP is the Python equivalent.
    Python's builtin ``round`` (half-even) diverges at exact halves
    such as 127.03125 → 127.0312 vs Spark's 127.0313."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from spark_frontier.payload.codec import _LOSSY_STEP, synth_pixels

    def _r4(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    rows = []
    for i in range(64):
        fmt = ["png", "jpeg", "webp"][i % 3]
        px = synth_pixels(i, 32, 24).astype(np.int16)
        if fmt != "png":
            px = ((px // _LOSSY_STEP) * _LOSSY_STEP
                  + _LOSSY_STEP // 2).clip(0, 255)
        pxf = px.astype(np.float64)
        mean_r = _r4(float(pxf[..., 0].mean()))
        std_lum = _r4(float(pxf.mean(axis=-1).std()))
        rows.append(f"('img-{i}', 'ok', {mean_r!r}, {std_lum!r})")
    vals = ",\n               ".join(rows)
    return f"""
        SELECT image_id, ok, CAST(mean_r AS DOUBLE) AS mean_r,
               CAST(std_lum AS DOUBLE) AS std_lum
        FROM (VALUES {vals})
             AS t(image_id, ok, mean_r, std_lum)
    """


def _q21_oracle() -> str:
    """DuckDB twin of minhash_lsh_pairs(n=5, num_perm=64, bands=16,
    threshold=0.5): identical md5-60-bit gram hashes, identical fixed-seed
    (a,b) permutation family with uint64-wrapping arithmetic, band
    candidates via band-signature equality (Spark buckets on
    xxhash64(slice) — equal buckets ⟺ equal slices modulo hash collision),
    then the same signature-agreement estimate."""
    import numpy as np

    rng = np.random.default_rng(42)
    P = np.uint64((1 << 61) - 1)
    A = rng.integers(1, P, size=64, dtype=np.uint64)
    B = rng.integers(0, P, size=64, dtype=np.uint64)
    perm_rows = ", ".join(
        f"({i}, {int(a)}, {int(b)})" for i, (a, b) in enumerate(zip(A, B))
    )
    gram_h = _H60.format(x="g")
    return f"""
        WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(length(t)-4, 1)+1)) AS i
                FROM norm),
        grams AS (SELECT DISTINCT doc_id, substr(t, i::int, 5) AS g
                  FROM idx),
        gh AS (SELECT doc_id, {gram_h} AS x FROM grams),
        perms(pi, a, b) AS (SELECT * FROM (VALUES {perm_rows})),
        m AS (
            SELECT doc_id, pi,
                   min(CAST((((CAST(a AS HUGEINT) * x) % {_W64} + b)
                             % {_W64}) % {_P61} AS BIGINT)) AS v
            FROM gh CROSS JOIN perms
            GROUP BY doc_id, pi),
        bsig AS (
            SELECT doc_id, CAST(pi // 4 AS INT) AS band,
                   list(v ORDER BY pi) AS bs
            FROM m GROUP BY doc_id, band),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bsig a JOIN bsig b
              ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id),
        est AS (
            SELECT c.doc_a, c.doc_b,
                   sum(CASE WHEN ma.v = mb.v THEN 1 ELSE 0 END) / 64.0 AS e
            FROM cand c
            JOIN m ma ON ma.doc_id = c.doc_a
            JOIN m mb ON mb.doc_id = c.doc_b AND mb.pi = ma.pi
            GROUP BY 1, 2)
        SELECT doc_a, doc_b, round(e, 6) AS jaccard_est
        FROM est WHERE e >= 0.5
    """


def _q22_oracle() -> str:
    """DuckDB twin of simhash_pairs(max_hamming=3): md5-60-bit token
    hashes, per-bit ±1 vote simhash, 16-bit chunk banding, exact hamming
    verify via bit_count(xor)."""
    tok_h = _H60.format(x="tok")
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(
                string_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '')) AS tok
            FROM documents),
        th AS (SELECT doc_id, {tok_h} AS h FROM toks),
        v AS (
            SELECT doc_id, bit,
                   sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM th CROSS JOIN (SELECT unnest(range(60)) AS bit)
            GROUP BY doc_id, bit),
        sh0 AS (
            SELECT doc_id,
                   sum(CASE WHEN v > 0
                            THEN CAST(1 AS BIGINT) << CAST(bit AS INT)
                            ELSE 0 END) AS simhash
            FROM v GROUP BY doc_id),
        sh AS (
            SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
            FROM documents d LEFT JOIN sh0 s USING (doc_id)),
        chunks AS (
            SELECT doc_id, simhash, i AS chunk_idx,
                   (simhash >> (i * 16)) & 65535 AS chunk_val
            FROM sh CROSS JOIN (SELECT unnest(range(4)) AS i)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sa, b.simhash AS sb
            FROM chunks a JOIN chunks b
              ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
             AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """


def _q23_oracle() -> str:
    """DuckDB twin of ann_topk_lsh(k=10, n_planes=12, seed=42): the
    seed-42 hyperplane matrix is a deterministic float64 literal (VALUES
    table, shortest-roundtrip repr so both engines parse the identical
    doubles); signature bit i = sign(v·h_i); the multi-probe set {qsig} ∪
    hamming-1 neighbors is exactly ``bit_count(bucket XOR qsig) <= 1``;
    then the same exact cosine top-k as q15 over the candidate slice."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((12, 64))
    plane_rows = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(float(x)) for x in planes[i]))
        for i in range(12)
    )
    return f"""
        WITH planes(pi, vec) AS (SELECT * FROM (VALUES {plane_rows})),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        sigs AS (
            SELECT e.vec_id,
                   sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[],
                                                    p.vec) > 0
                            THEN (CAST(1 AS BIGINT) << p.pi) ELSE 0 END)
                       AS bucket
            FROM embeddings e CROSS JOIN planes p
            WHERE e.vec_id <> 0
            GROUP BY e.vec_id),
        qsig AS (
            SELECT sum(CASE WHEN list_inner_product(p.vec, q.qv) > 0
                            THEN (CAST(1 AS BIGINT) << p.pi) ELSE 0 END) AS s
            FROM planes p, q),
        cand AS (
            SELECT s.vec_id FROM sigs s, qsig
            WHERE bit_count(xor(s.bucket, qsig.s)) <= 1)
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4)
                   AS cosine
        FROM embeddings e JOIN cand USING (vec_id), q
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                 e.vec_id
        LIMIT 10
    """


def _lloyd_assign_sql(prev: str) -> str:
    """One Lloyd assignment step over the CTE named ``corpus`` (argmin
    euclidean d2, ties to the lowest centroid id) — shared by the q29 /
    q49 oracles so the k-means replay cannot drift between them."""
    return f"""
          SELECT vec_id, embedding, centroid FROM (
            SELECT e.vec_id, e.embedding, c.centroid,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_sum(list_transform(
                                list_zip(e.embedding, c.vec),
                                x -> (x[1] - x[2])^2)),
                              c.centroid) AS rk
            FROM corpus e CROSS JOIN {prev} c) WHERE rk = 1"""


def _lloyd_update_sql(a: str, prev: str) -> str:
    """One Lloyd centroid update (per-dim mean over 64 dims; empty
    clusters carry the previous centroid) — shared by q29 / q49."""
    return f"""
          SELECT p.centroid, COALESCE(u.vec, p.vec) AS vec
          FROM {prev} p LEFT JOIN (
            SELECT centroid, list(s / n ORDER BY dim) AS vec FROM (
              SELECT centroid, t.i AS dim, SUM(embedding[t.i]) AS s,
                     COUNT(*) AS n
              FROM {a}, range(1, 65) t(i)
              GROUP BY centroid, t.i)
            GROUP BY centroid) u USING (centroid)"""


def _q29_oracle() -> str:
    """DuckDB twin of q29: replays kmeans_fit + ivf_topk exactly. The
    md5-hex init order is computable in both engines; each Lloyd
    iteration unrolls as an assignment CTE (argmin euclidean d2, ties to
    the lowest centroid id) and an update CTE (per-dim mean, empty
    clusters carry the previous centroid); the probe ranks the final
    centroids by d2 to the query and scans the 3 nearest posting lists;
    cosine top-k as in q23/q15."""
    assign, update = _lloyd_assign_sql, _lloyd_update_sql

    return f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS embedding
            FROM embeddings WHERE vec_id <> 0),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        c0 AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                       AS centroid,
                   embedding AS vec
            FROM corpus
            QUALIFY ROW_NUMBER() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
        a1 AS ({assign('c0')}),
        c1 AS ({update('a1', 'c0')}),
        a2 AS ({assign('c1')}),
        c2 AS ({update('a2', 'c1')}),
        a3 AS ({assign('c2')}),
        c3 AS ({update('a3', 'c2')}),
        a4 AS ({assign('c3')}),
        probe AS (
            SELECT centroid FROM (
                SELECT c.centroid,
                       ROW_NUMBER() OVER (
                         ORDER BY list_sum(list_transform(
                                    list_zip(c.vec, q.qv),
                                    x -> (x[1] - x[2])^2)),
                                  c.centroid) AS rk
                FROM c3 c, q) WHERE rk <= 3),
        cand AS (SELECT vec_id FROM a4
                 WHERE centroid IN (SELECT centroid FROM probe))
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding, q.qv), 4) AS cosine
        FROM corpus e JOIN cand USING (vec_id), q
        ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id
        LIMIT 10
    """


def _q49_oracle() -> str:
    """DuckDB twin of q49 (SemDeDup): replays kmeans_fit over the FULL
    embeddings table (q29's Lloyd unroll, shared helpers), generates
    cosine >= tau pairs only within a final-assignment cluster, then
    closes them into components with q30's recursive reachability CTE;
    keep = (vec_id == component min id)."""
    assign, update = _lloyd_assign_sql, _lloyd_update_sql
    cos = """list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                     x -> x[1] * x[2]))
             / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
                * sqrt(list_sum(list_transform(b.embedding, x -> x * x))))"""

    return f"""
        WITH RECURSIVE corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS embedding
            FROM embeddings),
        c0 AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                       AS centroid,
                   embedding AS vec
            FROM corpus
            QUALIFY ROW_NUMBER() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
        a1 AS ({assign('c0')}),
        c1 AS ({update('a1', 'c0')}),
        a2 AS ({assign('c1')}),
        c2 AS ({update('a2', 'c1')}),
        a3 AS ({assign('c2')}),
        c3 AS ({update('a3', 'c2')}),
        a4 AS ({assign('c3')}),
        near_pairs AS (
            SELECT a.vec_id AS va, b.vec_id AS vb
            FROM a4 a JOIN a4 b
              ON a.centroid = b.centroid AND a.vec_id < b.vec_id
            WHERE {cos} >= {SEMDEDUP_TAU}),
        edges AS (
            SELECT va AS src, vb AS dst FROM near_pairs
            UNION
            SELECT vb, va FROM near_pairs),
        reach(id, lab) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lab
            FROM reach r JOIN edges e ON e.src = r.id),
        comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
        SELECT c.vec_id,
               coalesce(comp.cluster_id, c.vec_id) AS cluster_id,
               coalesce(comp.cluster_id, c.vec_id) = c.vec_id AS keep
        FROM corpus c LEFT JOIN comp ON comp.id = c.vec_id
    """


def _q31_oracle() -> str:
    """DuckDB twin of q31: replays pq_fit + pq_encode + pq_adc_topk
    exactly. The md5-hex init order is computable in both engines; for
    each of the 4 subspaces the 2 Lloyd iterations unroll as assignment
    (argmin squared distance, ties to the lowest code id) and update
    (per-dim mean, empty codes carry the previous entry) CTEs over the
    16-dim subvector slices; ADC joins each vector's final code back to
    its trained codebook entry and sums the per-subspace squared
    distances to the query's subvectors."""
    m, n_codes, dim = 4, 8, 64
    sub = dim // m

    def assign(prev: str, s: int) -> str:
        return f"""
          SELECT vec_id, sv, code FROM (
            SELECT e.vec_id, e.sv, c.code,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_sum(list_transform(
                                list_zip(e.sv, c.sv),
                                x -> (x[1] - x[2])^2)),
                              c.code) AS rk
            FROM sub{s} e CROSS JOIN {prev} c) WHERE rk = 1"""

    def update(a: str, prev: str) -> str:
        return f"""
          SELECT p.code, COALESCE(u.sv, p.sv) AS sv
          FROM {prev} p LEFT JOIN (
            SELECT code, list(s / n ORDER BY dim) AS sv FROM (
              SELECT code, t.i AS dim, SUM(sv[t.i]) AS s, COUNT(*) AS n
              FROM {a}, range(1, {sub + 1}) t(i)
              GROUP BY code, t.i)
            GROUP BY code) u USING (code)"""

    per_sub = []
    d_terms = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        per_sub.append(f"""
        sub{s} AS (SELECT vec_id, embedding[{lo}:{hi}] AS sv FROM corpus),
        c0_{s} AS (SELECT code, vec[{lo}:{hi}] AS sv FROM init),
        a1_{s} AS ({assign(f'c0_{s}', s)}),
        c1_{s} AS ({update(f'a1_{s}', f'c0_{s}')}),
        a2_{s} AS ({assign(f'c1_{s}', s)}),
        c2_{s} AS ({update(f'a2_{s}', f'c1_{s}')}),
        enc_{s} AS ({assign(f'c2_{s}', s)}),
        d_{s} AS (
            SELECT a.vec_id,
                   list_sum(list_transform(
                       list_zip(c.sv, q.qv[{lo}:{hi}]),
                       x -> (x[1] - x[2])^2)) AS d2
            FROM enc_{s} a JOIN c2_{s} c USING (code), q)""")
        d_terms.append(f"d_{s}.d2")

    joins = " ".join(f"JOIN d_{s} USING (vec_id)" for s in range(1, m))
    total = " + ".join(d_terms)
    return f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS embedding
            FROM embeddings WHERE vec_id <> 0),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        init AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                       AS code,
                   embedding AS vec
            FROM corpus
            QUALIFY ROW_NUMBER() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {n_codes}),
        {','.join(per_sub)}
        SELECT vec_id, round({total}, 4) AS adc_d2
        FROM d_0 {joins}
        ORDER BY {total} ASC, vec_id
        LIMIT 10
    """


def _q33_oracle() -> str:
    """DuckDB twin of q33: chains the q29 Lloyd unroll (coarse IVF, 2
    iterations, 8 centroids) with the q31 per-subspace unroll trained on
    RESIDUAL vectors (v − final centroid), then scores the 3 probed
    posting lists by reconstruction ADC: per subspace,
    (q_sub − centroid_sub − codebook_sub)², summed."""
    n_cent, m, n_codes, dim = 8, 4, 8, 64
    sub = dim // m

    def assign(prev: str, corpus: str) -> str:
        return f"""
          SELECT vec_id, sv, code FROM (
            SELECT e.vec_id, e.sv, c.code,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY list_sum(list_transform(
                                list_zip(e.sv, c.sv),
                                x -> (x[1] - x[2])^2)),
                              c.code) AS rk
            FROM {corpus} e CROSS JOIN {prev} c) WHERE rk = 1"""

    def update(a: str, prev: str, ndim: int) -> str:
        return f"""
          SELECT p.code, COALESCE(u.sv, p.sv) AS sv
          FROM {prev} p LEFT JOIN (
            SELECT code, list(s / n ORDER BY dim) AS sv FROM (
              SELECT code, t.i AS dim, SUM(sv[t.i]) AS s, COUNT(*) AS n
              FROM {a}, range(1, {ndim + 1}) t(i)
              GROUP BY code, t.i)
            GROUP BY code) u USING (code)"""

    per_sub = []
    d_terms = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        per_sub.append(f"""
        rs{s} AS (SELECT vec_id, rv[{lo}:{hi}] AS sv FROM resid),
        pc0_{s} AS (SELECT p.code, r.rv[{lo}:{hi}] AS sv
                    FROM prank p JOIN resid r USING (vec_id)),
        pa1_{s} AS ({assign(f'pc0_{s}', f'rs{s}')}),
        pc1_{s} AS ({update(f'pa1_{s}', f'pc0_{s}', sub)}),
        pa2_{s} AS ({assign(f'pc1_{s}', f'rs{s}')}),
        pc2_{s} AS ({update(f'pa2_{s}', f'pc1_{s}', sub)}),
        penc_{s} AS ({assign(f'pc2_{s}', f'rs{s}')}),
        pd_{s} AS (
            SELECT e.vec_id,
                   list_sum(list_transform(
                       list_zip(q.qv[{lo}:{hi}], cv.sv[{lo}:{hi}], b.sv),
                       x -> (x[1] - x[2] - x[3])^2)) AS d2
            FROM penc_{s} e
            JOIN pc2_{s} b USING (code)
            JOIN resid r ON r.vec_id = e.vec_id
            JOIN c2 cv ON cv.code = r.centroid, q)""")
        d_terms.append(f"pd_{s}.d2")

    joins = " ".join(f"JOIN pd_{s} USING (vec_id)" for s in range(1, m))
    total = " + ".join(d_terms)
    rank = ("ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),"
            " vec_id)")
    return f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS sv
            FROM embeddings WHERE vec_id <> 0),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        c0 AS (
            SELECT {rank} - 1 AS code, sv
            FROM corpus
            QUALIFY {rank} <= {n_cent}),
        a1 AS ({assign('c0', 'corpus')}),
        c1 AS ({update('a1', 'c0', dim)}),
        a2 AS ({assign('c1', 'corpus')}),
        c2 AS ({update('a2', 'c1', dim)}),
        afin AS ({assign('c2', 'corpus')}),
        resid AS (
            SELECT a.vec_id, a.code AS centroid,
                   list_transform(list_zip(a.sv, c.sv),
                                  x -> x[1] - x[2]) AS rv
            FROM afin a JOIN c2 c USING (code)),
        prank AS (
            SELECT vec_id, {rank} - 1 AS code
            FROM corpus
            QUALIFY {rank} <= {n_codes}),
        probe AS (
            SELECT code AS centroid FROM (
                SELECT c.code,
                       ROW_NUMBER() OVER (
                         ORDER BY list_sum(list_transform(
                                    list_zip(c.sv, q.qv),
                                    x -> (x[1] - x[2])^2)),
                                  c.code) AS rk
                FROM c2 c, q) WHERE rk <= 3),
        {','.join(per_sub)}
        SELECT vec_id, round({total}, 4) AS adc_d2
        FROM pd_0 {joins}
        JOIN resid r USING (vec_id)
        WHERE r.centroid IN (SELECT centroid FROM probe)
        ORDER BY {total} ASC, vec_id
        LIMIT 10
    """


def _q27_oracle() -> str:
    """DuckDB twin of the with_category chain: same segment map, same
    per-category URL alternations (dict order), same 230 per-keyword
    \\b-regex counts with the ≥3 gate and dict-order argmax tie-break."""
    from spark_frontier.extract.category import (
        CATEGORY_KEYWORDS,
        CUSTOM_CATEGORIES,
        _KEYWORD_TO_CAT,
    )

    mapping: dict[str, str] = {}
    mapping.update(_KEYWORD_TO_CAT)
    for k in CATEGORY_KEYWORDS:
        mapping[k] = k
    for c in CUSTOM_CATEGORIES:
        mapping[c] = c
    seg_cases = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(mapping.items())
    )
    url_cases = " ".join(
        "WHEN regexp_matches(path, '{}') THEN '{}'".format(
            "|".join(
                [f"/{cat}", f"-{cat}"]
                + [kw.replace(" ", "[-_/]") for kw in CATEGORY_KEYWORDS[cat]]
            ),
            cat,
        )
        for cat in CATEGORY_KEYWORDS
    )
    score_exprs = ", ".join(
        " + ".join(
            f"len(regexp_extract_all(txt, '\\b{kw}\\b'))"
            for kw in CATEGORY_KEYWORDS[cat]
        )
        + f" AS s_{cat}"
        for cat in CATEGORY_KEYWORDS
    )
    argmax_cases = " ".join(
        f"WHEN s_{cat} = m THEN '{cat}'" for cat in CATEGORY_KEYWORDS
    )
    pool_a = ", ".join(f"'{s}'" for s in _Q27_SEG_A)
    pool_b = ", ".join(f"'{s}'" for s in _Q27_SEG_B)
    return f"""
        WITH base AS (
            SELECT doc_id,
                   [{pool_a}][CAST(doc_id % 10 AS INT) + 1] AS sega,
                   [{pool_b}][CAST((doc_id // 10) % 10 AS INT) + 1] AS segb,
                   'article-' || CAST(doc_id AS VARCHAR) AS segc,
                   CASE WHEN doc_id % 7 = 0 THEN 'specific'
                        ELSE 'general' END AS site_type,
                   CASE WHEN doc_id % 14 = 0 THEN 'tennis' END AS sport_focus,
                   lower(coalesce(source, '') || ' '
                         || substr(coalesce(text, ''), 1, 2000)) AS txt
            FROM documents),
        resolved AS (
            SELECT doc_id, txt,
                   coalesce(
                       CASE WHEN site_type = 'specific'
                                 AND sport_focus IS NOT NULL
                                 AND sport_focus <> ''
                            THEN sport_focus END,
                       list_filter(
                           list_transform([sega, segb, segc],
                               s -> CASE s {seg_cases} END),
                           h -> h IS NOT NULL)[1],
                       CASE {url_cases} END) AS r
            FROM (SELECT *, '/' || sega || '/' || segb || '/' || segc AS path
                  FROM base)),
        scored AS (
            SELECT doc_id, r, {score_exprs}
            FROM resolved),
        mx AS (
            SELECT *, greatest(s_nfl, s_soccer, s_basketball, s_cricket,
                               s_mlb) AS m
            FROM scored)
        SELECT doc_id,
               coalesce(r,
                        CASE WHEN m >= 3 THEN CASE {argmax_cases} END END,
                        'sports') AS sport_category
        FROM mx
    """


_Q26_ORACLE = """
    WITH coded AS (
        SELECT 'h' || CAST(user_id % 25 AS VARCHAR) AS host,
               CASE event_type WHEN 'error' THEN 429 WHEN 'purchase' THEN 403
                    WHEN 'click' THEN 500 ELSE 200 END AS code,
               ts, event_id
        FROM events),
    ordered AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY host ORDER BY ts, event_id)
                   AS pos,
               code BETWEEN 200 AND 399 AS ok
        FROM coded),
    runs AS (
        SELECT *, SUM(CASE WHEN ok THEN 1 ELSE 0 END)
                   OVER (PARTITION BY host ORDER BY pos) AS run_id
        FROM ordered),
    last_run AS (SELECT host, max(run_id) AS r FROM runs GROUP BY host),
    fin_fail AS (
        SELECT r.host, r.code, r.pos,
               ROW_NUMBER() OVER (PARTITION BY r.host ORDER BY r.pos) AS i
        FROM runs r JOIN last_run l ON r.host = l.host AND r.run_id = l.r
        WHERE NOT r.ok),
    agg AS (
        SELECT host,
               count(*) AS cf,
               bool_or(code IN (403, 429) AND (
                   SELECT count(*) FROM fin_fail s2
                   WHERE s2.host = s1.host AND s2.i BETWEEN s1.i - 9 AND s1.i
                     AND s2.code IN (403, 429)) >= 5) AS is_blocked,
               list(code ORDER BY i) AS codes
        FROM fin_fail s1 GROUP BY host),
    n429 AS (SELECT host, count(*) AS c FROM coded WHERE code = 429
             GROUP BY host),
    hosts AS (SELECT DISTINCT host FROM coded)
    SELECT h.host,
           CAST(COALESCE(a.cf, 0) AS INT) AS consecutive_failures,
           COALESCE(a.is_blocked, FALSE) AS is_blocked,
           round(greatest(0.1, 0.5 * power(0.5, COALESCE(n.c, 0))), 6)
               AS refill_rate,
           COALESCE(array_to_string(
               list_slice(a.codes,
                          greatest(len(a.codes) - 9, 1), len(a.codes)),
               ','), '') AS recent_codes_csv
    FROM hosts h
    LEFT JOIN agg a USING (host)
    LEFT JOIN n429 n USING (host)
"""
