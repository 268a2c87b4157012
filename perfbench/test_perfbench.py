"""The benchmark's own tests.

    python -m pytest perfbench/ -q

The helper tests need no Spark. ``test_smoke`` runs every workload on
tiny inputs, untraced and traced, through ``run.py --smoke`` (a few
minutes on 4 CPUs).
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from measure import Job, Stage, _covered, window_metrics  # noqa: E402


def _stage(sid, run_s, pool="default", tasks=2):
    return Stage(sid, tasks, run_s, run_s / 2, 0, 1 << 20, pool)


def test_covered_merges_overlaps():
    assert _covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert _covered([]) == 0.0


def test_window_metrics_hand_computed():
    # window [0, 10] on 2 cores: jobs cover [1,4] and [3,6] (main pool)
    # and [8,9] (commits pool); 4 s of gaps, tail after the main jobs 4 s
    jobs = [
        Job(1, None, 1.0, 4.0, [_stage(1, 2.0)]),
        Job(2, None, 3.0, 6.0, [_stage(2, 4.0, "init")]),
        Job(3, None, 8.0, 9.0, [_stage(3, 1.0, "commits")]),
    ]
    m = window_metrics(jobs, 0.0, 10.0, cores=2)
    assert m["pipeline.jobs"] == 3
    assert m["pipeline.tasks"] == 6
    assert m["pipeline.driver_gap_s"] == pytest.approx(4.0)
    assert m["pipeline.busy_frac"] == pytest.approx(7.0 / 20.0)
    assert m["pipeline.commit_tail_s"] == pytest.approx(4.0)
    assert m["pipeline.init_core_s"] == pytest.approx(4.0)
    assert m["pipeline.commits_core_s"] == pytest.approx(1.0)


def test_uniform_is_per_article():
    art = np.arange(1000, 2000)
    a = gen._uniform(7, 3, art, 1)
    b = gen._uniform(7, 3, art[500:], 1)
    assert np.array_equal(a[500:], b)
    assert 0.0 <= a.min() and a.max() < 1.0
    assert not np.array_equal(a, gen._uniform(8, 3, art, 1))


def test_recrawl_snapshots_in_order(tmp_path):
    spec = gen.RecrawlSpec(n_sites=8, hot_rate=150, rate_lo=10, rate_hi=30,
                           window_h=6, history_h=40, urlset_size=100)
    w = gen.RecrawlWorld(str(tmp_path), 3, spec)
    _, ts0, c0 = w.snapshot(0)
    _, ts1, c1 = w.snapshot(1)
    assert (ts1 - ts0).total_seconds() == 3600
    # the hot host's new slice needs several 64-URL waves
    assert c0["waves"] >= 3 and c0["scheduled"] == c0["new_urls_found"]
    assert c1["saved"] <= c1["fetched"] <= c1["scheduled"]
    with pytest.raises(ValueError):
        w.snapshot(5)


@pytest.mark.parametrize("n", [1000, 5000])
def test_corpus_role_fractions(tmp_path, n):
    path, exp = gen.corpus(str(tmp_path), 5, gen.CorpusSpec(n_docs=n))
    text = pd.read_parquet(path)["text"]
    # 5% exact copies of an earlier document, 8% near duplicates
    assert int(text.duplicated().sum()) == n * 5 // 100
    assert int(text.str.contains(" tiny drift ").sum()) == n * 8 // 100
    # 4% Spanish and 3% spam fail the gates; copies and variants fold
    # into their sources
    assert exp["n_input"] == n
    assert exp["n_exact"] == n * 88 // 100
    assert exp["n_kept"] == exp["n_neardup"] == n * 80 // 100
    assert exp["n_sequences"] >= 1


def test_smoke():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        capture_output=True, text=True, timeout=1800,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-4000:]
