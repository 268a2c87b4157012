"""Streaming corpus ingest: the document-side twin of the streaming
crawl path (``streaming/microbatch.py``).

Documents land as parquet files in a drop directory (the shape a fleet
of extraction workers produces); each micro-batch runs the SAME cheap
gates as the batch funnel (``pipeline.corpus.cheap_signals`` — one
shared code path, so stream and batch can never disagree on gate
semantics), exact-dedups within the batch, anti-joins against the
COMMITTED corpus's fingerprints, and appends only genuinely new
documents.

Sink invariant (same as the crawl stream): every appended row is new,
so the upsert degenerates to an append — no O(table) MERGE per
micro-batch. Crash-replay of a micro-batch re-reads the committed
fingerprint set (now containing its own earlier commit) and the
anti-join drops the replayed rows: idempotent.

Bloom short-circuit (the crawl stream's topology, fingerprint-keyed):
a ``corpus_bloom`` seen filter (``functions/seen_filter.py``) keyed on
xxhash64(fingerprint) rides snapshot provenance (``covers`` = the
corpus_docs head it covers). When current, the probe drops the
definitely-unseen slice before the anti-join, and the EXACT join — on
the full 128-bit fingerprint string, so bloom-key collisions can only
cost a probe, never a dropped document — sees only the maybe-seen rows.
A stale or missing bloom is skipped, never trusted, and caught up or
rebuilt after the append.

The heavy set-based stages (MinHash clusters, SemDeDup, packing) stay
batch jobs over the accumulated table — dedup across the WHOLE corpus
is a global property no single micro-batch can decide, which is why
production pipelines run ingest-gating streaming and global dedup as
periodic compaction. ``run_corpus_filter`` is that compaction pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_frontier.functions.bloom import might_contain_udf
from spark_frontier.functions.seen_filter import SEGMENTS, SeenFilter
from spark_frontier.storage import SnapStore
from spark_frontier.storage.materialize import materialize

DOC_SCHEMA = "doc_id long, text string, source string"


def _fingerprint_keys(docs: DataFrame) -> DataFrame:
    return docs.select(F.xxhash64("fingerprint").alias("url_key"))


def start_corpus_stream(
    spark: SparkSession,
    source_dir: str,
    store_root: str,
    checkpoint_dir: str,
    *,
    allowed_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    max_dup_word_frac: float = 0.30,
    max_top_bigram_frac: float = 0.18,
    safety_keywords: dict[str, list[str]] | None = None,
    safety_max_hit_frac: float = 0.05,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    use_bloom: bool = True,
):
    """Start the streaming ingest; returns the StreamingQuery. With
    ``available_now`` (default) it drains the existing files and stops —
    the test/catch-up mode; pass ``processing_time='10 minutes'`` for a
    live trigger."""
    from concurrent.futures import ThreadPoolExecutor

    from spark_frontier.analytics.dedup import exact_dedup, normalize_text
    from spark_frontier.pipeline.corpus import cheap_signals

    store = SnapStore(store_root)
    bloom_pool = ThreadPoolExecutor(max_workers=1)  # commits serialize

    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        sig = cheap_signals(
            batch_df,
            allowed_langs=allowed_langs,
            min_quality=min_quality,
            max_dup_word_frac=max_dup_word_frac,
            max_top_bigram_frac=max_top_bigram_frac,
            safety_keywords=safety_keywords,
            safety_max_hit_frac=safety_max_hit_frac,
        ).filter("lang_ok AND quality_ok AND rep_ok AND safety_ok").drop(
            "lang_ok", "quality_ok", "rep_ok", "safety_ok"
        )
        # materialize: the signal projection feeds BOTH the exact-dedup
        # keeper set and the semi-join back onto itself — without the
        # cut the cheap_signals chain (incl. the repetition explode)
        # runs twice per micro-batch
        sig = materialize(
            sig.withColumn(
                "fingerprint", F.md5(normalize_text(F.col("text")))
            ).withColumn("url_key", F.xxhash64("fingerprint"))
        )
        # within-batch exact dedup (keep the min doc_id per fingerprint)
        keep = exact_dedup(sig).select(F.col("keep_doc_id").alias("doc_id"))
        fresh = sig.join(keep, "doc_id", "semi")

        spark_b = batch_df.sparkSession
        tbl = store.table("corpus_docs")
        seen_f = SeenFilter(store.table("corpus_bloom"), tbl,
                            covers="covers", keys=_fingerprint_keys)
        committed = tbl.read(spark_b)

        # bloom probe: only when it covers the CURRENT head — stale
        # blooms are skipped (superset invariant), never trusted
        segments = seen_f.current(spark_b) if use_bloom else None
        if committed is not None:
            if segments is not None:
                probe = might_contain_udf(spark_b, segments, SEGMENTS)
                fresh = materialize(fresh)  # two consumers below
                flagged = fresh.withColumn(
                    "_maybe", probe(F.col("url_key"))
                )
                maybe = flagged.filter(F.col("_maybe")).drop("_maybe")
                # EXACT join on the 128-bit fingerprint: a bloom-key
                # collision costs a probe here, never a dropped doc
                survived = maybe.join(
                    committed.select("fingerprint").distinct(),
                    "fingerprint",
                    "anti",
                )
                fresh = flagged.filter(~F.col("_maybe")).drop(
                    "_maybe"
                ).unionByName(survived)
            else:
                fresh = fresh.join(
                    committed.select("fingerprint").distinct(),
                    "fingerprint",
                    "anti",
                )
        n_in = batch_df.count()
        tbl.append(
            fresh.drop("url_key"),
            summary={"op": "corpus_stream", "stream_batch_id": int(batch_id),
                     "n_batch_input": n_in},
        )

        if use_bloom:
            if available_now:
                # drain/catch-up mode: run inline so the query's
                # termination implies the bloom is current (tests and
                # backfills read it immediately after)
                seen_f.refresh(spark_b)
            else:
                # live mode: background single-worker lane — a stale
                # bloom only costs the next batch its probe, never a
                # stall (the crawl stream's non-blocking rule)
                bloom_pool.submit(seen_f.refresh, spark_b)

    writer = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
