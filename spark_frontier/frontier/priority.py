"""Frontier candidate construction and priority.

The frontier's priority contract (SURVEY.md §3): selection order is
``(site_seq, depth, path, sitemap_pos)`` — sites in get_active_sites()
order, sitemaps in BFS order, entries in document order. That tuple IS the
min-heap key; we never materialize a global row_number (it would
single-partition the sort at 10^10 rows) — every consumer orders or
windows by the tuple directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_frontier.functions.urls import (
    canonicalize_url,
    host_of,
    sha256_hex,
    url_key_canonical,
)
from spark_frontier.frontier.recency import url_pattern_ok
from spark_frontier.frontier.traps import trap_ok

PRIORITY_COLS = ["site_seq", "depth", "path", "sitemap_pos"]


def build_candidates(entries: DataFrame) -> DataFrame:
    """sitemap url-rows → frontier candidate rows with engine keys.

    Adds: url (=loc), canon_url, url_key (xxhash64(canon)), host. Drops
    reject-pattern URLs (F9) — the cheap filter runs BEFORE any join or
    UDF (§4 staging) — and the entry columns nothing downstream reads
    (changefreq/priority/news_publication_name/parse_mode): candidate rows
    ride through every frontier shuffle (dedupe window, politeness window,
    fetch join), so each dropped byte is paid back 3-4×. The sha256 parity
    hash (url_hash) is likewise computed LATE, in build_link_rows, where
    only the fetched wave carries it."""
    return (
        entries.withColumnRenamed("loc", "url")
        .filter(url_pattern_ok(F.col("url")))
        # structural spider-trap gate (frontier/traps.py): mirrors,
        # calendar loops, param explosions — same staging rationale as
        # the reject filter above
        .filter(trap_ok(F.col("url")))
        .drop("changefreq", "priority", "news_publication_name", "parse_mode")
        .withColumn("canon_url", canonicalize_url(F.col("url")))
        .withColumn("url_key", url_key_canonical(F.col("canon_url")))
        .withColumn("host", host_of(F.col("url")))
    )

