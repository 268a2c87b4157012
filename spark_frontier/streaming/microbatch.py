"""Structured Streaming crawl path (T8/T9, SURVEY.md §2.4) + K5 trigger.

Reference: the crawler re-runs every 10 minutes via APScheduler
(/root/reference/src/scheduler/crawl_scheduler.py:57-76) with per-site
``last_crawl_at`` watermarks (repository.py:173-181) dropping already-seen
time ranges, and every saved article firing a webhook / Redis queue push
(/root/reference/src/pipeline/trigger.py:29-116).

Spark shape: frontier *candidates* (parsed sitemap url-rows) arrive as a
file stream; each micro-batch runs the dedup → politeness → fetch →
validate → append tail through ``foreachBatch`` (the sinks are
table-commit-shaped, so foreachBatch is the correct sink primitive — the
same pattern drives streaming MERGE on Iceberg).

RECENCY: a ``withWatermark`` on the source would be a NO-OP here —
watermarks only drop rows at *stateful* operators, and this query is
stateless foreachBatch. F2's cutoff parity is therefore an EXPLICIT filter
inside the micro-batch (``filter_recent`` — the same operator the batch
cycle uses), against ``batch_ts - days``.

SINK INVARIANT (same as the batch cycle): each micro-batch is exactly
deduped against the committed seen set before fetching, so every valid row
is NEW and the upsert degenerates to an APPEND — no O(table) copy-on-write
MERGE per micro-batch. Crash-replay of a micro-batch re-reads the seen set
(now containing its own earlier commit) and the anti-join removes the
replayed keys: idempotent.

Triggers:
- ``availableNow=True``  → drain-what-exists (tests, catch-up runs)
- ``processingTime='10 minutes'`` → the reference's cycle cadence, live

K5: ``on_saved(saved_rows, batch_id)`` fires after each commit with the
batch's saved (valid) rows collected — the webhook / queue-push seam. The
reference POSTs per article and LPUSHes a Redis queue; a deployment drops
``requests.post`` / ``redis.lpush`` into the callback. Failures in the
hook must not poison the stream (reference logs-and-continues,
trigger.py:60-66), so exceptions are swallowed after counting.
"""

from __future__ import annotations

from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_frontier.frontier.priority import build_candidates
from spark_frontier.frontier.recency import filter_recent
from spark_frontier.functions.bloom import dedup_unseen
from spark_frontier.functions.seen_filter import SEGMENTS, SeenFilter
from spark_frontier.pipeline.crawl import (
    build_link_rows,
    fetch_and_validate,
)
from spark_frontier.politeness.backoff import blocked_hosts, empty_host_state
from spark_frontier.politeness.ratelimit import assign_deadlines
from spark_frontier.storage import SnapStore
from spark_frontier.storage.materialize import materialize

# the parsed-entry schema as it lands in the candidate stream directory
CANDIDATE_DDL = (
    "sitemap_url string, loc string, lastmod timestamp, changefreq string, "
    "priority double, news_title string, news_publication_date timestamp, "
    "news_publication_name string, sitemap_pos long, parse_mode string, "
    "site_id string, site_seq int, depth int, path array<long>"
)

# per-batch fetch results handed to the companion stateful query (T2/T3)
RESULTS_DDL = "host string, politeness_deadline timestamp, http_code int"


class CrawlStreamHandle:
    """Returned by ``start_stream_crawl``: delegates to the main crawl
    StreamingQuery, and on ``awaitTermination`` also drains the background
    bloom-maintenance lane and the companion host-state query so callers
    observe fully-committed state (the old single-query contract)."""

    def __init__(self, main_q, state_q, bloom_pool, bloom_futs):
        self._main = main_q
        self._state = state_q
        self._bloom_pool = bloom_pool
        self._bloom_futs = bloom_futs

    def awaitTermination(self, timeout=None):  # noqa: N802 (Spark API name)
        res = self._main.awaitTermination(timeout)
        for f in list(self._bloom_futs):
            f.result()
        if self._state is not None:
            self._state.processAllAvailable()
            self._state.stop()
            self._state.awaitTermination(60)
        return res

    def stop(self):
        self._main.stop()
        for f in list(self._bloom_futs):
            f.result()
        if self._state is not None:
            self._state.stop()

    def __getattr__(self, name):
        return getattr(self._main, name)


def start_stream_crawl(
    spark: SparkSession,
    candidates_dir: str,
    world: dict[str, DataFrame],
    store: SnapStore,
    checkpoint_dir: str,
    batch_ts: datetime,
    days: int = 7,
    max_per_host: int = 64,
    available_now: bool = True,
    trigger_interval: str = "10 minutes",
    on_saved: Callable[[list, int], None] | None = None,
    on_saved_partition: Callable | None = None,
    use_bloom: bool = True,
):
    """Start the streaming crawl; returns the StreamingQuery.

    ``on_saved``: K5 hook — called with (saved_rows, batch_id) after each
    micro-batch commit; saved_rows is the collected list of valid link
    rows (url, url_key, sport_category, caption, published_at). Driver-side
    collect — right for reference-scale webhook batches.

    ``on_saved_partition``: the EXECUTOR-SIDE K5 variant — called once per
    partition with an iterator of the same rows, via ``foreachPartition``,
    so notifications never funnel through a driver collect (the
    training-pipeline micro-batch shape). Exceptions are swallowed per
    partition (trigger.py:60-66 parity: notification failure never fails
    the crawl). Both hooks may be set; each fires after the commit.

    HOST STATE is carried by Spark-managed state, not a per-batch
    read-fold-overwrite: each micro-batch lands its fetch results in a
    results directory consumed by a COMPANION streaming query running the
    ``applyInPandasWithState`` backoff operator (streaming/stateful.py —
    the reference keeps this state resident across its loop,
    backoff.py:16-23; Spark's resident-across-micro-batches is exactly
    this operator). Its update-mode rows merge into the host_state table,
    which the crawl batch reads for gating/deadlines; the crawl batch
    blocks on ``processAllAvailable`` after landing results, so batch N+1
    always gates on state through batch N (the old synchronous
    visibility). Crash-replay may re-land one batch's results — a
    double-fold only ever OVER-throttles.

    BLOOM maintenance is NON-BLOCKING: ``SeenFilter.refresh`` (catch-up
    or rebuild) runs on a single-worker background lane, so a stale bloom
    never stalls the micro-batch (links commit first; a batch that arrives
    before the bloom lands just skips the probe and pays the exact
    anti-join once). Commits serialize in batch
    order, and each records the links head it covers.
    """
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    from spark_frontier.streaming.stateful import stateful_host_backoff

    src = (
        spark.readStream.schema(CANDIDATE_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(candidates_dir)
    )
    sites = world["sites"]

    # --- companion stateful host-state query -----------------------------
    results_dir = checkpoint_dir.rstrip("/") + "_results"
    state_ckpt = checkpoint_dir.rstrip("/") + "_hoststate"
    _os.makedirs(results_dir, exist_ok=True)
    # seed one empty batch dir so the glob matches at query start
    init_dir = _os.path.join(results_dir, "batch_init")
    if not _os.path.exists(init_dir):
        spark.createDataFrame([], RESULTS_DDL).write.mode(
            "overwrite"
        ).parquet(init_dir)

    results_stream = spark.readStream.schema(RESULTS_DDL).parquet(
        results_dir + "/*"
    )

    def _commit_state(bdf: DataFrame, bid: int) -> None:
        if bdf.isEmpty():
            return
        store.table("host_state").merge(
            bdf, ["host"],
            summary={"op": "host_state_stream", "state_batch": int(bid)},
        )

    state_q = (
        stateful_host_backoff(results_stream, batch_ts)
        .writeStream.foreachBatch(_commit_state)
        .outputMode("update")
        .option("checkpointLocation", state_ckpt)
        .start()
    )

    # --- background bloom lane (single worker ⇒ commits serialize) -------
    bloom_pool = ThreadPoolExecutor(max_workers=1)
    bloom_futs: list = []

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # F2 recency parity — EXPLICIT filter (see module docstring)
        recent = filter_recent(batch_df, sites, days=days, now=batch_ts)
        candidates = build_candidates(recent)
        # ROBOTS GATE — stream==batch parity: the reference checks robots
        # before EVERY article fetch (http_client.py:129-133) regardless of
        # entry point; round 2's streaming path skipped it entirely.
        if "robots_docs" in world:
            from spark_frontier.politeness.robots import (
                build_rules_df_distributed,
                robots_allowed,
            )

            candidates = robots_allowed(
                candidates, build_rules_df_distributed(world["robots_docs"])
            ).filter(F.col("robots_allowed"))
        links_tbl = store.table("links")
        seen = links_tbl.read(spark)
        if seen is None:
            seen = spark.createDataFrame([], "url_key long")
        # BLOOM short-circuit: probe the committed segments only when
        # they cover the links HEAD (a stale bloom is skipped, never
        # trusted); without it every micro-batch pays an O(seen)
        # anti-join shuffle.
        seen_f = SeenFilter(store.table("bloom"), links_tbl)
        unseen = dedup_unseen(
            candidates, seen.select("url_key"),
            segments=seen_f.current(spark) if use_bloom else None,
            n_segments=SEGMENTS,
        )
        host_tbl = store.table("host_state")
        from spark_frontier.politeness.backoff import read_host_state

        # pending-fold-aware: a batch cycle may have deferred its final
        # wave's fold; the stream must start from the folded view
        hs = read_host_state(host_tbl, spark) or empty_host_state(spark)
        unseen = unseen.join(
            F.broadcast(blocked_hosts(hs)), on="host", how="left_anti"
        )
        wave = assign_deadlines(unseen, hs, batch_ts, max_per_host=max_per_host)
        rows_full = build_link_rows(
            fetch_and_validate(wave, world, batch_ts),
            batch_ts,
            sites=sites,
            keep=["politeness_deadline"],
        ).transform(materialize)
        n = rows_full.count()
        if n == 0:
            return
        from spark_frontier.pipeline.crawl import LINK_COLUMNS

        valid_rows = rows_full.filter(F.col("is_valid")).select(*LINK_COLUMNS)
        # dedup-before-fetch ⇒ every valid key is new ⇒ APPEND, not MERGE
        links_tbl.append(
            valid_rows,
            summary={"op": "stream_batch", "batch_id": int(batch_id),
                     "rows": n},
        )

        # --- host state: land results, let the stateful query fold them --
        # (rows_full is checkpointed, so this select re-reads memory, not
        # the fetch pipeline). processAllAvailable blocks until the
        # companion query merged the update rows — the next micro-batch
        # gates on state through THIS batch, same as the old inline fold.
        import os as _os

        rows_full.select("host", "politeness_deadline", "http_code").write.mode(
            "overwrite"
        ).parquet(_os.path.join(results_dir, f"batch_{int(batch_id)}"))
        state_q.processAllAvailable()

        if use_bloom:
            # NON-BLOCKING bloom maintenance: the links append above is
            # already durable; the lane folds it into the bloom
            bloom_futs.append(bloom_pool.submit(seen_f.refresh, spark))
        notify_cols = ["url", "url_key", "sport_category", "caption",
                       "published_at"]
        if on_saved_partition is not None:
            # executor-side push: each partition notifies directly (the
            # webhook POST / queue LPUSH happens where the data is); the
            # driver never materializes the batch
            cb = on_saved_partition

            def _push(rows_iter):
                try:
                    cb(rows_iter)
                except Exception:
                    pass  # K5 parity: never fails the crawl

            valid_rows.select(*notify_cols).foreachPartition(_push)
        if on_saved is not None:
            saved = valid_rows.select(*notify_cols).collect()
            if saved:
                try:
                    on_saved(saved, int(batch_id))
                except Exception:
                    # K5 parity: notification failure never fails the crawl
                    # (trigger.py:60-66 logs and continues)
                    pass

    writer = (
        src.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return CrawlStreamHandle(writer.start(), state_q, bloom_pool, bloom_futs)
