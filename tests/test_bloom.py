import numpy as np
from pyspark.sql import functions as F

from spark_frontier.functions.bloom import (
    build_bloom_segments,
    dedup_unseen,
    might_contain_udf,
)


def _keys_df(spark, keys, name="url_key"):
    return spark.createDataFrame([(int(k),) for k in keys], f"{name} long")


def test_bloom_no_false_negatives(spark):
    rng = np.random.default_rng(7)
    seen_keys = rng.integers(-(2**62), 2**62, size=5000).tolist()
    seen = _keys_df(spark, seen_keys)
    segments = build_bloom_segments(seen, n_segments=8)
    probe = might_contain_udf(spark, segments, n_segments=8)
    out = seen.withColumn("hit", probe(F.col("url_key"))).collect()
    assert all(r["hit"] for r in out)  # a bloom NEVER misses a member


def test_bloom_fpr_reasonable(spark):
    rng = np.random.default_rng(8)
    seen = _keys_df(spark, rng.integers(-(2**62), 2**62, size=20000).tolist())
    fresh = _keys_df(spark, rng.integers(-(2**62), 2**62, size=20000).tolist())
    segments = build_bloom_segments(seen, n_segments=8)
    probe = might_contain_udf(spark, segments, n_segments=8)
    fp = fresh.withColumn("hit", probe(F.col("url_key"))).filter("hit").count()
    assert fp / 20000 < 0.02  # k=7, 14 bits/key → ~0.1% expected


def test_dedup_exactness_with_and_without_bloom(spark):
    rng = np.random.default_rng(9)
    seen_keys = set(rng.integers(0, 10**12, size=3000).tolist())
    frontier_keys = set(rng.integers(0, 10**12, size=3000).tolist())
    overlap = list(seen_keys)[:500]
    frontier_keys.update(overlap)

    seen = _keys_df(spark, sorted(seen_keys))
    frontier = _keys_df(spark, sorted(frontier_keys))
    expected = sorted(frontier_keys - seen_keys)

    plain = dedup_unseen(frontier, seen)
    assert sorted(r["url_key"] for r in plain.collect()) == expected

    segments = build_bloom_segments(seen, n_segments=8)
    bloomed = dedup_unseen(frontier, seen, segments=segments, n_segments=8)
    assert sorted(r["url_key"] for r in bloomed.collect()) == expected


def test_broadcast_gate_falls_back_to_shuffle_above_cap(spark):
    """ADVICE r3: the bloom path must stop force-broadcasting the whole
    seen key set once it outgrows the cap — the anti-join then shuffles
    only the maybe-seen slice. Same exact result either way."""
    rng = np.random.default_rng(11)
    seen_keys = set(rng.integers(0, 10**12, size=2000).tolist())
    frontier_keys = set(rng.integers(0, 10**12, size=2000).tolist())
    frontier_keys.update(list(seen_keys)[:300])
    seen = _keys_df(spark, sorted(seen_keys))
    frontier = _keys_df(spark, sorted(frontier_keys))
    expected = sorted(frontier_keys - seen_keys)
    segments = build_bloom_segments(seen, n_segments=8)

    def _plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    small = dedup_unseen(frontier, seen, segments=segments, n_segments=8,
                         seen_count=len(seen_keys))
    assert "broadcast" in _plan(small).lower()  # under the cap: hint kept
    big = dedup_unseen(frontier, seen, segments=segments, n_segments=8,
                       seen_count=len(seen_keys), broadcast_seen_cap=100)
    assert "broadcast" not in _plan(big).lower()  # over the cap: no hint
    assert sorted(r["url_key"] for r in big.collect()) == expected
    assert sorted(r["url_key"] for r in small.collect()) == expected
