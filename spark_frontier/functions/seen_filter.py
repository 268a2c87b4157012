"""The streams' persisted seen filter's lifecycle, in one place.

A seen filter is a segment table — ``SEGMENTS`` bloom bitmaps, keyed by
``pmod(key, SEGMENTS)`` — over the keys of a SOURCE table (``links`` for
the crawl stream, ``corpus_docs`` for the corpus stream). It sits in
front of an exact anti-join: a filter miss skips the exact check, so the
filter must hold a SUPERSET of the source's keys. Extra keys are harmless
(one extra exact probe each).

That superset invariant is enforced by provenance alone, never by commit
ordering. Every commit records in its snapshot summary:

- the source snapshot it covers (``covers_links``, or ``covers`` for the
  corpus),
- the segment modulus (``n_segments``) — a probe with another modulus
  reads the wrong segment, i.e. false negatives,
- its size and fill: ``m_bits`` and ``n_keys``.

``SeenFilter.current`` trusts a filter only when it covers the source
head under this modulus. ``SeenFilter.refresh`` brings any other filter
up to the source head: it folds in the rows the source appended since
(``read_changes``), or rebuilds in full when it can't — a rewrite in the
range (retention, compaction), another or an unrecorded modulus or size,
or a filter that would pass its load bound.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from spark_frontier.functions import bloom
from spark_frontier.storage.materialize import materialize
from spark_frontier.storage.snapstore import SnapTable

SEGMENTS = 16
BITS_PER_KEY = 14


def bloom_bits(n_keys: int) -> int:
    """Per-segment bitmap size: 14 bits per key with 2x growth headroom,
    a power of two and UNIFORM across segments, so delta segments built
    later with the same size OR-merge into it."""
    per_seg = max(n_keys // SEGMENTS, 1)
    return max(64, 1 << math.ceil(math.log2(per_seg * BITS_PER_KEY * 2)))


def url_keys(rows: DataFrame) -> DataFrame:
    return rows.select("url_key")


def _counted(keys: DataFrame) -> tuple[DataFrame, int]:
    """Materialize ``keys`` and count them in the same job: one source
    scan, no separate count job."""
    obs = Observation()
    keys = materialize(keys.observe(obs, F.count(F.lit(1)).alias("n")))
    return keys, int(obs.get["n"])


@dataclass
class FilterState:
    """A filter that covers its source at a known snapshot."""
    segments: DataFrame
    n_keys: int
    m_bits: int  # per segment
    op: str | None = None  # the commit it still needs; None: committed


@dataclass
class SeenFilter:
    """One persisted bloom filter (``table``) over ``source``'s keys.

    ``covers``: the summary key that records the covered source snapshot.
    ``keys``: source rows → a single ``url_key`` column of 64-bit keys."""
    table: SnapTable
    source: SnapTable
    covers: str = "covers_links"
    keys: Callable[[DataFrame], DataFrame] = url_keys

    def current(self, spark: SparkSession) -> DataFrame | None:
        """The committed segments if they cover the source's head under
        this modulus, else None: a stale filter is skipped, never
        trusted."""
        meta = self.table.summary()
        head = self.source.snapshot_id
        if (head is None or meta.get(self.covers) != head
                or meta.get("n_segments") != SEGMENTS):
            return None
        return self.table.read(spark)

    def catch_up(self, spark: SparkSession, at: str) -> FilterState | None:
        """The committed filter folded forward to cover source snapshot
        ``at`` (uncommitted), or None when only a full rebuild can:
        no filter, another or an unrecorded modulus or size, a rewrite
        in the range, or a fill past the load bound."""
        meta = self.table.summary()
        covers, m_bits = meta.get(self.covers), meta.get("m_bits")
        n_keys = meta.get("n_keys")
        if (not covers or not m_bits or n_keys is None
                or meta.get("n_segments") != SEGMENTS):
            return None
        capacity = m_bits * SEGMENTS / BITS_PER_KEY
        segments, op = self.table.read(spark), None
        if covers != at:
            op = "bloom_catchup"
            try:
                delta = self.source.read_changes(spark, covers)
            except ValueError:
                return None  # the range holds a rewrite
            if delta is not None:
                keys, n_new = _counted(self.keys(delta))
                n_keys += n_new
                if n_keys > capacity:
                    return None
                segments = materialize(bloom.merge_bloom_segments(
                    segments, bloom.build_bloom_segments(
                        keys, n_segments=SEGMENTS, m_bits=m_bits)))
        elif n_keys > capacity:
            return None
        return FilterState(segments, n_keys, m_bits, op)

    def build(self, seen: DataFrame) -> FilterState:
        """A full rebuild over ``seen`` (source rows), sized for its key
        count with growth headroom."""
        keys, n = _counted(self.keys(seen))
        m_bits = bloom_bits(n)
        segments = bloom.build_bloom_segments(
            keys, n_segments=SEGMENTS, m_bits=m_bits)
        return FilterState(materialize(segments), n, m_bits, "bloom_build")

    def summary(self, state: FilterState, at: str) -> dict:
        """The provenance a commit of ``state`` records."""
        return {"op": state.op, self.covers: at,
                "n_segments": SEGMENTS, "m_bits": state.m_bits,
                "n_keys": state.n_keys}

    def refresh(self, spark: SparkSession) -> FilterState | None:
        """Make the filter cover the source head and commit it if it
        changed. Catches up when it can and rebuilds otherwise. Returns
        None for an empty source."""
        at = self.source.snapshot_id  # BEFORE any read: superset
        if at is None:
            return None
        state = self.catch_up(spark, at)
        if state is None:
            seen = self.source.read(spark)
            if seen is None:
                return None
            state = self.build(seen)
        if state.op:
            self.table.overwrite(state.segments,
                                 summary=self.summary(state, at), small=True)
        return state
