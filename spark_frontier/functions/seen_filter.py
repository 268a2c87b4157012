"""The persisted URL-seen filter's lifecycle, in one place.

A seen filter is a segment table — ``SEGMENTS`` bloom bitmaps or cuckoo
bucket arrays, keyed by ``pmod(key, SEGMENTS)`` — over the keys of a
SOURCE table (``links`` for the crawl cycle and the crawl stream,
``corpus_docs`` for the corpus stream). It sits in front of an exact
anti-join: a filter miss skips the exact check, so the filter must hold a
SUPERSET of the source's keys. Extra keys are harmless (one extra exact
probe each).

That superset invariant is enforced by provenance alone, never by commit
ordering. Every commit records in its snapshot summary:

- the source snapshot it covers (``covers_links``, or ``covers`` for the
  corpus),
- the segment modulus (``n_segments``) — a probe with another modulus
  reads the wrong segment, i.e. false negatives,
- its size and fill: ``m_bits`` (bloom) or ``n_buckets`` (cuckoo), and
  ``n_keys``.

``SeenFilter.current`` trusts a filter only when it covers the source
head under this modulus. ``SeenFilter.refresh`` brings any other filter
up to a source snapshot: it folds in the rows the source appended since
(``read_changes``), or rebuilds in full when it can't — a rewrite in the
range (retention, compaction), another or an unrecorded modulus or size,
or a filter that would pass its load bound.

The cuckoo also supports DELETE: ``retention_cleanup`` catches it up and
then removes the expired keys in place, the sliding-window membership
case, instead of an O(seen) rebuild.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

from pyspark.errors import PythonException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from spark_frontier.functions import bloom, cuckoo
from spark_frontier.storage.materialize import materialize
from spark_frontier.storage.snapstore import SnapTable

SEGMENTS = 16
CUCKOO_MAX_LOAD = 0.8  # a fuller cuckoo is rebuilt bigger before inserts fail


def bloom_bits(n_keys: int) -> int:
    """Per-segment bitmap size: 14 bits per key with 2x growth headroom,
    a power of two and UNIFORM across segments, so delta segments built
    later with the same size OR-merge into it."""
    per_seg = max(n_keys // SEGMENTS, 1)
    return max(64, 1 << math.ceil(math.log2(per_seg * 14 * 2)))


def cuckoo_buckets(n_keys: int) -> int:
    """Per-segment bucket count: 2x growth headroom at load 0.7 (4 slots a
    bucket), with a floor, so a fresh store's filter absorbs whole cycles
    of inserts before the load bound forces a rebuild."""
    per_seg = max(2 * n_keys / (SEGMENTS * cuckoo.SLOTS * 0.7), 1)
    return max(1024, 1 << math.ceil(math.log2(per_seg)))


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
    size: int  # m_bits (bloom) or n_buckets (cuckoo), per segment
    op: str | None = None  # the commit it still needs; None: committed


@dataclass
class SeenFilter:
    """One persisted filter (``table``) over ``source``'s keys.

    ``layout``: 'bloom' or 'cuckoo'. ``covers``: the summary key that
    records the covered source snapshot. ``keys``: source rows → a
    single ``url_key`` column of 64-bit keys."""
    table: SnapTable
    source: SnapTable
    layout: str = "bloom"
    covers: str = "covers_links"
    keys: Callable[[DataFrame], DataFrame] = url_keys

    # -- probes ---------------------------------------------------------

    def probe_udf(self, spark: SparkSession, segments: DataFrame):
        """Broadcast probe column function, ``url_key -> maybe seen``."""
        make = (bloom.might_contain_udf if self.layout == "bloom"
                else cuckoo.cuckoo_contains_udf)
        return make(spark, segments, SEGMENTS)

    @property
    def distributed_prober(self):
        """The layout's cogroup probe for ``dedup_unseen``."""
        return (bloom.probe_distributed if self.layout == "bloom"
                else cuckoo.probe_distributed)

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

    # -- lifecycle ------------------------------------------------------

    def _size_key(self) -> str:
        return "m_bits" if self.layout == "bloom" else "n_buckets"

    def _capacity(self, size: int) -> float:
        if self.layout == "bloom":
            return size * SEGMENTS / 14  # 14 bits per key
        return size * cuckoo.SLOTS * SEGMENTS * CUCKOO_MAX_LOAD

    def catch_up(self, spark: SparkSession, at: str) -> FilterState | None:
        """The committed filter folded forward to cover source snapshot
        ``at`` (uncommitted), or None when only a full rebuild can:
        no filter, another or an unrecorded modulus or size, a rewrite
        in the range, or a fill past the load bound."""
        meta = self.table.summary()
        covers, size = meta.get(self.covers), meta.get(self._size_key())
        n_keys = meta.get("n_keys")
        if (not covers or not size or n_keys is None
                or meta.get("n_segments") != SEGMENTS):
            return None
        segments, op = self.table.read(spark), None
        if covers != at:
            op = f"{self.layout}_catchup"
            try:
                delta = self.source.read_changes(spark, covers)
            except ValueError:
                return None  # the range holds a rewrite
            if delta is not None:
                keys, n_new = _counted(self.keys(delta))
                n_keys += n_new
                if n_keys > self._capacity(size):
                    return None
                if self.layout == "bloom":
                    segments = materialize(bloom.merge_bloom_segments(
                        segments, bloom.build_bloom_segments(
                            keys, n_segments=SEGMENTS, m_bits=size)))
                else:
                    try:
                        segments = materialize(cuckoo.insert_cuckoo_keys(
                            segments, keys, n_segments=SEGMENTS))
                    except PythonException:
                        return None  # a segment filled up before the bound
        elif n_keys > self._capacity(size):
            return None
        return FilterState(segments, n_keys, size, op)

    def build(self, seen: DataFrame) -> FilterState:
        """A full rebuild over ``seen`` (source rows), sized for its key
        count with growth headroom."""
        keys, n = _counted(self.keys(seen))
        if self.layout == "bloom":
            size = bloom_bits(n)
            segments = bloom.build_bloom_segments(
                keys, n_segments=SEGMENTS, m_bits=size)
        else:
            size = cuckoo_buckets(n)
            segments = cuckoo.build_cuckoo_segments(
                keys, n_segments=SEGMENTS, n_buckets=size)
        return FilterState(materialize(segments), n, size,
                           f"{self.layout}_build")

    def summary(self, state: FilterState, at: str) -> dict:
        """The provenance a commit of ``state`` records."""
        return {"op": state.op, self.covers: at,
                "n_segments": SEGMENTS, self._size_key(): state.size,
                "n_keys": state.n_keys}

    def commit_small(self, segments: DataFrame, summary: dict) -> None:
        self.table.overwrite(segments, summary=summary, small=True)

    def refresh(self, spark: SparkSession, at: str | None = None,
                seen: DataFrame | None = None,
                commit: Callable[[DataFrame, dict], object] | None = None,
                ) -> FilterState | None:
        """Make the filter cover source snapshot ``at`` (default: the
        head now) and commit it if it changed, through ``commit``
        (default: a synchronous overwrite). Catches up when it can and
        rebuilds otherwise, from ``seen`` (the source read at ``at``;
        read here when not given). Returns None for an empty source."""
        if at is None:
            at = self.source.snapshot_id  # BEFORE any read: superset
        if at is None:
            return None
        state = self.catch_up(spark, at)
        if state is None:
            seen = seen if seen is not None else self.source.read(spark)
            if seen is None:
                return None
            state = self.build(seen)
        if state.op:
            (commit or self.commit_small)(
                state.segments, self.summary(state, at))
        return state
