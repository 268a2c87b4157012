"""Recursive sitemap-index expansion (F1) — distributed BFS with a seen-set.

Reference: /root/reference/src/sitemap/tracker.py:31-71 — a worklist BFS
over the sitemap tree with a ``processed`` set for cycle safety, collecting
url-entries in sitemap document order.

Spark shape: a driver-side fixpoint loop (one job per tree level — sitemap
trees are shallow, ≤ ~5 levels in practice); each level
  fetch (join vs the page table / fetch UDF) → parse (Arrow cascade)
  → split index-rows from url-rows → anti-join the processed set
  → enqueue children.
Every per-level DataFrame is materialize()d to truncate lineage so the
loop does not build an ever-deeper plan.

ORDERING CONTRACT (SURVEY.md §3): the reference appends children to the end
of its worklist, so sitemaps are processed in BFS level order, within a
level in (parent order, child position) order, and entries within a sitemap
in document order. We materialize that as orderable columns
``(site_seq, depth, path array<long>, sitemap_pos)`` — ``path`` is the
child-position chain from the root, arrays compare lexicographically in
Spark — which sorts identically to the reference's collection order without
ever needing a per-site global row_number (which would single-partition a
site at 10^10 scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_frontier.sitemap.parser import parse_sitemaps
from spark_frontier.storage.materialize import materialize


def expand_sitemap_tree(
    seeds: DataFrame,
    pages: DataFrame,
    max_depth: int = 10,
) -> DataFrame:
    """BFS-expand sitemap trees for every seed.

    seeds: (site_id string, site_seq int, sitemap_url string)
    pages: (sitemap_url string, content binary, http_code int) — the
        hermetic "web" table; in live mode substitute a mapInPandas
        fetcher producing the same shape (see fetch/fetcher.py).

    Returns url-entries with ordering + lineage columns:
    (site_id, site_seq, depth, path, sitemap_url, loc, lastmod, changefreq,
     priority, news_title, news_publication_date, news_publication_name,
     sitemap_pos, parse_mode)
    """
    spark = seeds.sparkSession
    worklist = (
        seeds.select(
            "site_id",
            "site_seq",
            "sitemap_url",
            F.lit(0).alias("depth"),
            F.array().cast("array<long>").alias("path"),
        )
        .transform(materialize)
    )
    # processed seen-set (tracker.py:49-51) — cycle safety. Lazy: it only
    # ever projects already-materialized worklists, so its own materialize
    # was a pure extra job per cycle
    processed = worklist.select("sitemap_url")
    results: list[DataFrame] = []

    n_pending = 1  # seeds are non-empty by construction
    # worklists are per-level SITEMAP URL lists — orders of magnitude
    # smaller than the pages table (which holds document bodies). Below
    # this count the docs join broadcasts the WORKLIST side: the pages
    # scan streams in parallel file splits and no content bytes enter a
    # broadcast build or a shuffle. (Catalyst's stats-based choice gets
    # this exactly backwards here: the pages FILE is small enough to
    # broadcast by size, but deserialized bodies made that a ~1 s serial
    # hash-relation build per BFS level.) Above the cap — the 10^8-sitemap
    # regime — the join falls back to Catalyst's plan.
    worklist_broadcast_cap = 4_000_000
    n_worklist = None  # unknown for the seed level; Observation-known after
    for depth in range(max_depth):
        if n_pending == 0:
            break
        wl = worklist
        if n_worklist is None or n_worklist <= worklist_broadcast_cap:
            wl = F.broadcast(wl)
        docs = wl.join(pages, on="sitemap_url", how="inner").filter(
            (F.col("http_code") == 200) | F.col("http_code").isNull()
        )
        # spread documents across all cores BEFORE the parse UDF — the
        # pages table is typically ONE parquet row group, so the scan's
        # nominal split count hides a single non-empty task (measured: a
        # partition-count heuristic here collapsed the whole level's parse
        # onto one core). The exchange moves compressed document bytes
        # once and is the only robust way to give the parse real fan-out.
        par = spark.sparkContext.defaultParallelism
        parsed = parse_sitemaps(
            docs.select("sitemap_url", "content").repartition(par, "sitemap_url")
        )
        # re-attach lineage (site, depth, path) lost through the parse UDF;
        # checkpoint ONCE per level (parse is the expensive stage) and
        # derive url-rows and children lazily from the checkpointed level
        from pyspark.sql import Observation as _Obs2

        obs_idx = _Obs2(f"expand_nindex_d{depth}")
        entries = parsed.join(
            F.broadcast(
                worklist.select("sitemap_url", "site_id", "site_seq", "depth", "path")
            ),
            on="sitemap_url",
            how="inner",
        ).observe(
            obs_idx,
            F.sum(F.when(F.col("is_index"), 1).otherwise(0)).alias("ni"),
        ).transform(materialize)
        results.append(entries.filter(~F.col("is_index")).drop("is_index"))

        # leaf level (no index children) → done; skip the would-be-empty
        # children materialize+count job entirely (one less serial job on
        # the common ≤2-level sitemap tree)
        if int(obs_idx.get["ni"] or 0) == 0:
            break

        children = (
            entries.filter(F.col("is_index"))
            .select(
                "site_id",
                "site_seq",
                F.col("loc").alias("sitemap_url"),
                (F.col("depth") + 1).alias("depth"),
                F.concat(F.col("path"), F.array(F.col("sitemap_pos"))).alias("path"),
            )
            .join(processed, on="sitemap_url", how="left_anti")
            .dropDuplicates(["sitemap_url"])
        )
        # fuse the pending-count into the checkpoint job itself (Observation)
        # instead of running a separate count job per BFS level — the
        # per-level job latency is pure serial tail at any core count
        from pyspark.sql import Observation as _Obs

        obs = _Obs(f"expand_pending_d{depth}")
        worklist = children.observe(obs, F.count(F.lit(1)).alias("n")).transform(
            materialize
        )
        n_pending = int(obs.get["n"])
        n_worklist = n_pending
        # processed stays lazy: built from checkpointed levels only, so its
        # lineage is one union per level (no extra materialization job)
        processed = processed.unionByName(worklist.select("sitemap_url"))

    if not results:
        return _empty_entries(spark)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def _empty_entries(spark) -> DataFrame:
    from spark_frontier.sitemap.parser import ENTRY_SCHEMA
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StringType, StructField, StructType

    fields = [f for f in ENTRY_SCHEMA.fields if f.name != "is_index"]
    schema = StructType(
        fields
        + [
            StructField("site_id", StringType()),
            StructField("site_seq", IntegerType()),
            StructField("depth", IntegerType()),
            StructField("path", ArrayType(LongType())),
        ]
    )
    return spark.createDataFrame([], schema)


def entry_order_key_cols() -> list:
    """The columns that, ordered ascending, reproduce the reference's
    per-site entry collection order (BFS levels, then path, then doc pos)."""
    return [F.col("depth"), F.col("path"), F.col("sitemap_pos")]
