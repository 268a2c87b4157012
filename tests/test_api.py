"""EP3 control surface (reference src/api/server.py parity) + run-once
processing window."""

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from spark_frontier.api import CrawlController, serve_http
from spark_frontier.pipeline.crawl import load_world, run_crawl_cycle, seed_seen_store
from spark_frontier.pipeline.synth import NOW, gen_world
from spark_frontier.storage import SnapStore


@pytest.fixture(scope="module")
def world_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("apiworld"))
    gen_world(d, n_sites=4, urlsets_per_site=2, urls_per_urlset=20)
    return d


def test_controller_trigger_status_history(spark, world_dir, tmp_path_factory):
    world = load_world(spark, world_dir)
    store = SnapStore(str(tmp_path_factory.mktemp("apistore")))
    seed_seen_store(store, world["url_seen"])
    ctl = CrawlController(spark, world, store, max_per_host=10_000)

    out = ctl.start(days=7, batch_ts=NOW)
    assert out["accepted"] and out["run_id"] == 1
    # 409 parity: second trigger while running is rejected (or the first
    # finished already on a fast box — then it must be accepted as run 2)
    second = ctl.start(days=7, batch_ts=NOW)
    if not second["accepted"]:
        assert second["reason"] == "crawl already in progress"
    assert ctl.wait(timeout=300)
    st = ctl.status()
    assert not st["is_running"] and st["error"] is None
    assert st["progress"]["saved"] > 0
    hist = ctl.history()
    assert hist and "summary" in hist[0]


def test_controller_site_filter_and_http(spark, world_dir, tmp_path_factory):
    world = load_world(spark, world_dir)
    store = SnapStore(str(tmp_path_factory.mktemp("apistore2")))
    seed_seen_store(store, world["url_seen"])
    ctl = CrawlController(spark, world, store, max_per_host=10_000)
    server = serve_http(ctl, port=0)
    try:
        port = server.server_address[1]
        base = f"http://127.0.0.1:{port}"
        req = urllib.request.Request(
            base + "/crawl/start",
            data=json.dumps({"days": 7, "site_ids": ["site-0"],
                             "batch_ts": NOW.isoformat()}).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 202
            assert json.loads(r.read())["accepted"]
        assert ctl.wait(timeout=300)
        with urllib.request.urlopen(base + "/status") as r:
            st = json.loads(r.read())
        assert st["is_running"] is False and st["error"] is None
        # only site-0's links were crawled
        links = store.table("links").read(spark)
        crawled = links.filter(F.col("site_id").isNotNull())
        assert crawled.count() > 0
        assert crawled.filter(F.col("site_id") != "site-0").count() == 0
        with urllib.request.urlopen(base + "/history") as r:
            assert json.loads(r.read())
    finally:
        server.shutdown()


def test_run_once_processing_window(spark, world_dir, tmp_path_factory):
    """Reference run_once (crawl_scheduler.py:367-372): discover 7 d,
    process ≤ 2 d; undated entries pass (F3 unparseable→True)."""
    world = load_world(spark, world_dir)
    full = SnapStore(str(tmp_path_factory.mktemp("ro_full")))
    seed_seen_store(full, world["url_seen"])
    r_full = run_crawl_cycle(spark, world, full, batch_ts=NOW, days=7,
                             max_per_host=10_000)

    windowed = SnapStore(str(tmp_path_factory.mktemp("ro_win")))
    seed_seen_store(windowed, world["url_seen"])
    r_win = run_crawl_cycle(spark, world, windowed, batch_ts=NOW, days=7,
                            max_per_host=10_000, process_within_days=2)

    assert 0 < r_win.scheduled < r_full.scheduled
    links = windowed.table("links").read(spark).filter(
        F.col("site_id").isNotNull()
    )
    # every processed dated row is within 2 days of batch_ts
    dated = links.filter(F.col("lastmod").isNotNull())
    late = dated.filter(
        F.datediff(F.lit(NOW).cast("date"), F.to_date("lastmod")) > 2
    )
    assert late.count() == 0


def test_auto_loop_cleanup_cadence(spark, world_dir, tmp_path_factory):
    """T10 cadence (crawl_scheduler.py:71-76 daily _cleanup_job): the auto
    loop runs retention_cleanup every Nth tick; expired links leave the
    seen store, and neither the crawls nor the cleanup create a seen
    filter table."""
    import time
    from datetime import timedelta

    world = load_world(spark, world_dir)
    store = SnapStore(str(tmp_path_factory.mktemp("cleanstore")))
    seed_seen_store(store, world["url_seen"])
    ctl = CrawlController(spark, world, store, max_per_host=10_000)
    # crawl once so links exist, with first_seen_at == NOW (old
    # relative to the wall-clock 'now' the auto-loop cleanup uses)
    ctl.start(days=7, batch_ts=NOW)
    assert ctl.wait(timeout=300)
    n_before = store.table("links").read(spark).count()
    assert n_before > 0

    # every 2nd tick → cleanup with ttl 0 days (everything is older than
    # wall-clock now) fires within a few fast ticks
    ctl.start_auto_loop(interval_s=0.2, days=7, cleanup_every_n_ticks=2,
                        cleanup_ttl_days=0)
    deadline = time.time() + 120
    while ctl.cleanups_run == 0 and time.time() < deadline:
        time.sleep(0.5)
    ctl.stop_auto_loop()
    ctl.wait(timeout=300)  # let any in-flight crawl finish
    assert ctl.cleanups_run >= 1
    assert not {"bloom", "cuckoo"} & set(store.table_names())


def test_sites_endpoint_and_cli_surface(spark, world_dir, tmp_path_factory):
    """Reference cli.py show_sites/status/init_db parity: GET /sites over
    HTTP, and the jobs/run_crawl.py --sites/--status/--init-db flags."""
    import sys

    world = load_world(spark, world_dir)
    store = SnapStore(str(tmp_path_factory.mktemp("sitesstore")))
    ctl = CrawlController(spark, world, store, max_per_host=10_000)
    server = serve_http(ctl, port=0)
    try:
        port = server.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/sites") as r:
            sites = json.loads(r.read())["sites"]
        assert len(sites) == 4
        assert sites[0]["site_id"] == "site-0"
        assert any(not s["is_active"] for s in sites)  # last site inactive
    finally:
        server.shutdown()

    # CLI flags (reuse the active session via getOrCreate)
    import jobs.run_crawl as cli
    import io
    from contextlib import redirect_stdout

    store2 = str(tmp_path_factory.mktemp("clistore"))

    def run_cli(*argv):
        old = sys.argv
        sys.argv = ["run_crawl.py", "--world", world_dir, "--store", store2,
                    *argv]
        buf = io.StringIO()
        try:
            with redirect_stdout(buf):
                rc = cli.main()
        finally:
            sys.argv = old
        return rc, json.loads(buf.getvalue().strip().splitlines()[-1])

    rc, out = run_cli("--init-db")
    assert rc == 0 and out["init_db"] and "links" in out["tables"]
    assert SnapStore(store2).table("links").exists()
    rc, out = run_cli("--sites")
    assert rc == 0 and len(out["sites"]) == 4
    rc, out = run_cli("--status")
    assert rc == 0 and out["blocked_hosts"] == []
