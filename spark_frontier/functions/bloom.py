"""Segmented bloom filter over xxhash64 URL keys.

North_rule: "a broadcast bloom/cuckoo URL-seen filter over
canonicalized-and-hashed URLs". The filter is built DISTRIBUTED — the seen
table is grouped by ``seg_id = pmod(url_key, n_segments)`` and each segment's
bitmap is built by an Arrow ``applyInPandas`` batch (numpy bit ops, no
per-row Python) — then the segment bitmaps are collected and broadcast,
and the frontier probes them in a vectorized pandas UDF. Memory is bounded
by ``bits_per_key * n_seen / 8`` bytes total.

EXACTNESS (SURVEY.md §4.3): bloom false positives must never drop URLs, so
the filter only short-circuits NEGATIVES: rows whose bits miss are
definitely-unseen and bypass the exact anti-join; rows whose bits hit are
only *possibly* seen and still go through the exact anti-join. The union of
both slices is exactly ``frontier ANTI JOIN seen`` — the bloom just shrinks
the join's probe side (usually >95% of a fresh crawl batch is unseen-new).

Bitmaps persist to a SnapTable (Iceberg in production) with snapshot
provenance, so a restarted stream does not rebuild them: see
``functions/seen_filter.py``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_K = 7  # hash probes; with bits_per_key=14 → FPR ≈ 0.1%


def _derive_hashes(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Double hashing: h_i = h1 + i*h2 (Kirsch-Mitzenmacher). keys are
    already xxhash64 output, i.e. well-mixed 64-bit values."""
    h1 = keys.view(np.uint64) if keys.dtype == np.int64 else keys.astype(np.uint64)
    h2 = (h1 >> np.uint64(33)) ^ (h1 << np.uint64(29))
    h2 = (h2 * np.uint64(0xFF51AFD7ED558CCD)) | np.uint64(1)  # odd → full cycle
    return h1, h2


def _set_bits(bitmap: np.ndarray, keys: np.ndarray, m_bits: int) -> None:
    h1, h2 = _derive_hashes(keys)
    m = np.uint64(m_bits)
    for i in range(_K):
        idx = (h1 + np.uint64(i) * h2) % m
        np.bitwise_or.at(bitmap, (idx >> np.uint64(3)).astype(np.int64),
                         (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)))


def _test_bits(bitmap: np.ndarray, keys: np.ndarray, m_bits: int) -> np.ndarray:
    h1, h2 = _derive_hashes(keys)
    m = np.uint64(m_bits)
    hit = np.ones(len(keys), dtype=bool)
    for i in range(_K):
        idx = (h1 + np.uint64(i) * h2) % m
        bits = bitmap[(idx >> np.uint64(3)).astype(np.int64)]
        hit &= (bits & (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))) != 0
    return hit


SEGMENT_SCHEMA = StructType(
    [
        StructField("seg_id", IntegerType()),
        StructField("m_bits", LongType()),
        StructField("n_items", LongType()),
        StructField("bitmap", BinaryType()),
    ]
)


def build_bloom_segments(
    seen_keys: DataFrame,
    key_col: str = "url_key",
    n_segments: int = 32,
    bits_per_key: int = 14,
    m_bits: int | None = None,
) -> DataFrame:
    """Build per-segment bitmaps from a DataFrame of 64-bit keys.

    Distributed: one Arrow batch group per segment. Segment count scales
    with seen-set size so each bitmap stays a few MB (at 10^10 keys pick
    n_segments so m_bits/8 ≈ 8-32 MB per segment).

    ``m_bits``: fix the bitmap size (must be a power of two) so segments
    built later from DELTA keys can be OR-merged with these
    (merge_bloom_segments). Default: auto-size from the segment's count
    with 2× headroom.
    """

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[key_col].to_numpy(dtype=np.int64)
        n = max(len(keys), 1)
        mb = m_bits or max(64, 1 << math.ceil(math.log2(n * bits_per_key * 2)))
        bitmap = np.zeros(mb // 8, dtype=np.uint8)
        _set_bits(bitmap, keys, mb)
        return pd.DataFrame(
            {
                "seg_id": [int(pdf["seg_id"].iloc[0])],
                "m_bits": [mb],
                "n_items": [len(keys)],
                "bitmap": [bitmap.tobytes()],
            }
        )

    with_seg = seen_keys.select(key_col).withColumn(
        "seg_id", F.pmod(F.col(key_col), F.lit(n_segments)).cast("int")
    )
    return with_seg.groupBy("seg_id").applyInPandas(_build, SEGMENT_SCHEMA)


def merge_bloom_segments(old: DataFrame, delta: DataFrame) -> DataFrame:
    """OR-merge two segment tables (same seg_id space, SAME m_bits per
    segment — build deltas with ``m_bits`` pinned to the old table's).

    The engine's dedup-exactness invariant is *bloom ⊇ seen keys* (a miss
    skips the exact anti-join, so a false NEGATIVE would leak a duplicate).
    Mismatched sizes can't be merged without the original keys, so this
    RAISES inside the task rather than silently dropping bits; the caller
    rebuilds from the full seen set instead. FPR (false positives) may
    degrade as n_items outgrows capacity — that only costs extra anti-join
    probes, never correctness."""

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["seg_id"].iloc[0])
        sizes = pdf["m_bits"].unique()
        if len(sizes) != 1:
            raise ValueError(
                f"bloom segment {seg}: mismatched m_bits {sizes}; rebuild "
                "the filter from the full seen set"
            )
        acc = np.zeros(int(sizes[0]) // 8, dtype=np.uint8)
        for b in pdf["bitmap"]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            {"seg_id": [seg], "m_bits": [int(sizes[0])],
             "n_items": [int(pdf["n_items"].sum())], "bitmap": [acc.tobytes()]}
        )

    return old.unionByName(delta).groupBy("seg_id").applyInPandas(
        _merge, SEGMENT_SCHEMA
    )


def might_contain_udf(spark, segments: DataFrame, n_segments: int):
    """Broadcast the segment bitmaps and return a vectorized probe column
    function: ``col(url_key) -> boolean`` (true = POSSIBLY seen)."""
    seg_rows = segments.collect()
    seg_map = {r["seg_id"]: (np.frombuffer(r["bitmap"], dtype=np.uint8), r["m_bits"])
               for r in seg_rows}
    bc = spark.sparkContext.broadcast(seg_map)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BooleanType())
    def might_contain(keys: pd.Series) -> pd.Series:
        arr = keys.to_numpy(dtype=np.int64)
        segs = np.mod(np.mod(arr, n_segments) + n_segments, n_segments)  # pmod
        out = np.zeros(len(arr), dtype=bool)
        m = bc.value
        for s in np.unique(segs):
            entry = m.get(int(s))
            if entry is None:
                continue  # segment absent → nothing seen there → stays False
            bitmap, m_bits = entry
            mask = segs == s
            out[mask] = _test_bits(bitmap, arr[mask], int(m_bits))
        return pd.Series(out)

    return might_contain


# Above this many seen keys the bloom path stops force-broadcasting
# the exact-check side: 8 M × 8 B keys ≈ 64 MB raw (~2-3× that as a JVM
# hash relation) — past the point where shipping it whole to every
# executor per wave beats a shuffle of only the maybe-seen slice.
BROADCAST_SEEN_CAP = 8_000_000


def dedup_unseen(
    frontier: DataFrame,
    seen: DataFrame,
    key_col: str = "url_key",
    segments: DataFrame | None = None,
    n_segments: int = 32,
    seen_count: int | None = None,
    broadcast_seen_cap: int = BROADCAST_SEEN_CAP,
    probe_fn=None,
) -> DataFrame:
    """Return frontier rows NOT in seen — exactly — using the bloom to
    shrink the anti-join probe side (reference dedup: repository.py:352-369
    batched IN-queries; here one anti-join). The bitmaps are collected to
    the driver and probed via a broadcast.

    ``seen_count`` (if the caller knows it, e.g. from the filter's
    committed ``n_keys``) gates the exact-side broadcast: above
    ``broadcast_seen_cap`` keys the anti-join runs as a plain shuffle join
    of only the maybe-seen slice instead of force-shipping the whole seen
    key set to every executor (OOM cliff as links grows).

    With ``segments=None`` falls back to the plain exact anti-join.
    """
    if segments is None:
        return frontier.join(seen.select(key_col), on=key_col, how="left_anti")

    # SINGLE-PASS negative-pass-through. A union of two filtered branches
    # over a LAZY frontier physically duplicates the whole upstream
    # (Catalyst does not common-subexpression two python-UDF subtrees,
    # measured as twin ~35-core-s stages in the fused wave job); instead
    # the probe verdict becomes a conditional join key — NULL for
    # definitely-unseen rows, which can never match, so they pass the
    # anti-join unconditionally while maybe-seen rows get the exact check.
    # One consumer, zero recompute, same exact result.
    # ``probe_fn``: a prebuilt might_contain_udf — callers on a hot path
    # build it once (bitmap collect + broadcast are driver-blocking jobs)
    # on a background thread instead of per dedup call
    fn = probe_fn or might_contain_udf(
        frontier.sparkSession, segments, n_segments
    )
    flagged = frontier.withColumn("_maybe_seen", fn(F.col(key_col)))
    seen_k = seen.select(F.col(key_col).alias("_probe_key"))
    if seen_count is None or seen_count <= broadcast_seen_cap:
        seen_k = F.broadcast(seen_k)
    return (
        flagged.withColumn(
            "_probe_key", F.when(F.col("_maybe_seen"), F.col(key_col))
        )
        .join(seen_k, on="_probe_key", how="left_anti")
        .drop("_probe_key", "_maybe_seen")
    )
