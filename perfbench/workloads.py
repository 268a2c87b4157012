"""The perfbench workloads: one closed-loop client (this process) driving
the engine on ``local[nproc]``.

Each workload has an untraced mode, which times whole units (crawl
cycles, funnel runs) through the same entry points production callers
use, and a traced mode, which additionally runs a unit by calling each
layer's public function in pipeline order inside a span, forcing its
output, so every layer's wall, executor time and shuffle bytes can be
read. Inputs come from ``gen``; every unit's output is checked.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import gen
from measure import (
    StatusStore,
    TreeSampler,
    Tracer,
    tree_cpu_s,
    window_metrics,
)

CORES = len(os.sched_getaffinity(0))
UNIT_TIMEOUT_S = 120.0  # a unit still running after this is cancelled
CYCLE_KW = {"use_bloom": True, "salt_buckets": 8}  # the crawl CLI's defaults
SEEN_SEGMENTS = 16  # run_crawl_cycle's default bloom_segments
TRACE_CONF = {"spark.ui.retainedJobs": "100000",
              "spark.ui.retainedStages": "100000"}


class CheckFailed(Exception):
    """A unit's output differs from what its inputs imply."""


def _expect(got: dict, want: dict, what: str) -> None:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    if bad:
        raise CheckFailed(f"{what}: (got, expected) {bad}")


@dataclass
class Bench:
    """One run: its arguments, the Spark session and the tallies."""
    root: str
    work: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    t_proc: float  # process start, epoch seconds
    spark: object = None
    status: StatusStore | None = None
    attempted: int = 0
    failed: int = 0
    session_s: float = 0.0
    gen_s: float = 0.0
    prep_s: list = field(default_factory=list)
    walls: list = field(default_factory=list)
    items: list = field(default_factory=list)
    cpus: list = field(default_factory=list)
    pipes: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
    first_unit_at: float | None = None
    last_window: tuple = (0.0, 0.0)  # (start, end) of the last timed call
    setup_s: float = 0.0
    sampler: TreeSampler | None = None

    @property
    def cache(self) -> str:
        return os.path.join(self.work, "cache")

    def scratch(self, name: str) -> str:
        d = os.path.join(self.work, "tmp", f"{os.getpid()}-{name}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def cleanup(self) -> None:
        """Remove this run's stores and scratch files."""
        tmp = os.path.join(self.work, "tmp")
        for name in os.listdir(tmp) if os.path.isdir(tmp) else ():
            if name.startswith(f"{os.getpid()}-"):
                shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)

    def start_session(self, extra_conf: dict | None = None) -> None:
        from spark_frontier.session import get_spark

        t = time.time()
        conf = {**(TRACE_CONF if self.trace else {}), **(extra_conf or {})}
        self.spark = get_spark(f"perfbench-{self.workload}", cores=CORES,
                               extra_conf=conf or None)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()  # executor up before timing
        self.session_s = time.time() - t
        self.status = StatusStore(self.spark)

    def run_unit(self, fn, timed: bool):
        """Run one unit; count it, and count it failed if it raises,
        overruns UNIT_TIMEOUT_S or fails its output check. Returns fn's
        result, or None when the unit failed."""
        self.attempted += 1
        if timed and self.first_unit_at is None:
            self.first_unit_at = time.time()
            # set-up: process start to the first timed unit, less the time
            # this benchmark spent generating inputs
            self.setup_s = self.first_unit_at - self.t_proc - self.gen_s
            self.sampler = TreeSampler().__enter__()
        sc = self.spark.sparkContext
        timer = threading.Timer(UNIT_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            return fn()
        except Exception:  # the run boundary: record, count, go on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            timer.cancel()

    def loop(self, unit, traced) -> None:
        """Time ``unit`` until --seconds have passed (at least once); a
        traced run times one ``unit`` and then runs ``traced(tracer)``
        once. There is no warm-up: a run is one process, as a production
        job is (the crawl and corpus CLIs run one unit per spark-submit),
        so the first unit pays the process's one-off costs (Python worker
        start, imports, plan code generation, JIT) as the job's does.
        ``unit`` returns (items, wall, cpu, pipeline layer). Stops at the
        first failed unit: the later units of a stateful workload would
        start from a state the checks no longer describe."""
        while True:
            out = self.run_unit(unit, timed=True)
            if out is None:
                return
            self.record(*out)
            if self.trace or time.time() - self.first_unit_at >= self.seconds:
                break
        if self.trace:
            self._traced(traced, out)

    def _traced(self, traced, untraced_out) -> None:
        _, wall, _, pipe = untraced_out
        tr = Tracer(self.spark)
        tr.trace_id = f"{self.workload}-{self.seed}"
        t0 = time.time()
        if self.run_unit(lambda: traced(tr), timed=False) is None:
            return
        traced_s = time.time() - t0
        self.spans = tr.dump()
        self.layers.update(_layer_metrics(tr, self.workload))
        self.layers.update(pipe)
        self.layers["trace.traced_s"] = traced_s
        self.layers["trace.untraced_s"] = wall
        self.layers["trace.overhead_frac"] = traced_s / wall - 1.0

    def record(self, items: int, wall: float, cpu: float, pipe: dict) -> None:
        self.walls.append(wall)
        self.items.append(items)
        self.cpus.append(cpu)
        self.pipes.append(pipe)

    def finish(self) -> dict:
        """End-to-end metrics over the timed units."""
        if self.sampler is not None:
            self.sampler.__exit__(None, None, None)
        if not self.walls:
            raise CheckFailed("no timed unit completed")
        mem = self.sampler.result()
        self.detail.update({
            "walls_s": self.walls, "items": self.items, "cpu_s": self.cpus,
            "session_s": self.session_s, "prep_s": self.prep_s,
            "gen_s": self.gen_s, "sampler": mem,
            "process_to_first_unit_s": self.first_unit_at - self.t_proc,
        })
        if self.pipes:
            self.detail["pipeline"] = {
                k: statistics.median(p[k] for p in self.pipes)
                for k in self.pipes[0]}
        return {
            "items_per_s": (sum(self.items) / sum(self.walls), "1/s"),
            "unit_wall_s": (statistics.median(self.walls), "s"),
            "cpu_s": (statistics.median(self.cpus), "s"),
            "setup_s": (self.setup_s, "s"),
        }


def _timed(b: Bench, fn):
    """Wall and process-tree CPU of fn(), plus the pipeline layer read
    from the status store for exactly that window."""
    t0, c0 = time.time(), tree_cpu_s()
    out = fn()
    t1, c1 = time.time(), tree_cpu_s()
    b.last_window = (t0, t1)
    jobs = b.status.jobs(since=t0 - 1.0)
    if len(jobs) > 900:  # near spark.ui.retainedJobs: the window may be cut
        raise CheckFailed(f"{len(jobs)} jobs in one unit; store may evict")
    return out, t1 - t0, c1 - c0, window_metrics(jobs, t0, t1, CORES)


# ------------------------------------------------------------- crawl

def _links_check(b: Bench, store, before: str | None, saved: int) -> None:
    """links grew by exactly ``saved`` rows, all with new url_keys."""
    from pyspark.sql import functions as F

    links = store.table("links")
    delta = links.read_changes(b.spark, before)
    n, nd = (0, 0) if delta is None else tuple(delta.agg(
        F.count("*"), F.countDistinct("url_key")).first())
    if n != saved or nd != saved:
        raise CheckFailed(f"links grew by {n} rows / {nd} keys, saved {saved}")


def _links_unique(b: Bench, store) -> None:
    from pyspark.sql import functions as F

    n, nd = store.table("links").read(b.spark).agg(
        F.count("*"), F.countDistinct("url_key")).first()
    if n != nd:
        raise CheckFailed(f"links has {n - nd} duplicate url_keys")


SMOKE_RECRAWL = gen.RecrawlSpec(n_sites=8, hot_rate=150, rate_lo=10,
                                rate_hi=30, window_h=6, history_h=40,
                                urlset_size=100)


class _Recrawl:
    """One store recrawled hour after hour over a RecrawlWorld."""

    def __init__(self, b: Bench, spec: gen.RecrawlSpec):
        from spark_frontier.pipeline.crawl import load_world, seed_seen_store
        from spark_frontier.storage import SnapStore

        self.b = b
        t = time.time()
        self.rw = gen.RecrawlWorld(b.cache, b.seed, spec)
        b.gen_s += time.time() - t
        self.world = load_world(b.spark, self.rw.base_dir)
        t = time.time()
        self.store = SnapStore(b.scratch("store"))
        seed_seen_store(self.store, self.world.pop("url_seen"))
        b.prep_s.append(time.time() - t)
        self.hour = 0

    def advance(self):
        """Generate the next hourly snapshot and point the world at it
        (outside any timer)."""
        t = time.time()
        d, batch_ts, exp = self.rw.snapshot(self.hour)
        self.hour += 1
        for name in ("sitemap_pages", "web_pages"):
            self.world[name] = self.b.spark.read.parquet(
                os.path.join(d, f"{name}.parquet"))
        self.b.gen_s += time.time() - t
        return batch_ts, exp

    def cycle(self):
        from spark_frontier.pipeline.crawl import run_crawl_cycle

        batch_ts, exp = self.advance()
        before = self.store.table("links").snapshot_id
        rep, wall, cpu, pipe = _timed(self.b, lambda: run_crawl_cycle(
            self.b.spark, self.world, self.store, batch_ts=batch_ts,
            days=gen.DAYS, max_per_host=gen.MAX_PER_HOST, **CYCLE_KW))
        _expect(rep.as_dict(), exp, f"cycle report, hour {self.hour - 1}")
        _links_check(self.b, self.store, before, rep.saved)
        _links_unique(self.b, self.store)
        pipe["pipeline.waves"] = rep.waves
        return rep.scheduled, wall, cpu, pipe

    def traced(self, tr: Tracer) -> dict:
        batch_ts, exp = self.advance()
        return _traced_cycle(self.b, tr, self.world, self.store, batch_ts,
                             gen.MAX_PER_HOST, exp)


def crawl_recrawl(b: Bench) -> None:
    b.start_session()
    main = _Recrawl(b, SMOKE_RECRAWL if b.smoke else gen.RecrawlSpec())
    b.detail["seeded"] = main.rw.expected["seeded"]
    b.loop(main.cycle, main.traced)


def _traced_cycle(b: Bench, tr: Tracer, world: dict, store, batch_ts,
                  max_per_host: int, exp: dict) -> dict:
    """One crawl cycle rebuilt from the layers' public functions, in
    run_crawl_cycle's order, each call forced inside its span. The seen
    filter is built from the full links table (the cycle's rebuild path);
    commits run inline rather than on background lanes, so the traced
    cycle serialises what the untraced one overlaps."""
    import math

    from pyspark.sql import functions as F

    from spark_frontier.fetch.fetcher import hermetic_fetch
    from spark_frontier.frontier.priority import build_candidates
    from spark_frontier.frontier.recency import filter_recent
    from spark_frontier.functions.bloom import (
        build_bloom_segments,
        dedup_unseen,
        might_contain_udf,
    )
    from spark_frontier.payload.validate import validate_fetched
    from spark_frontier.pipeline.crawl import (
        LINK_COLUMNS,
        build_link_rows,
        first_per_key,
    )
    from spark_frontier.politeness.backoff import (
        empty_host_state,
        read_host_state,
        update_host_state,
    )
    from spark_frontier.politeness.ratelimit import assign_deadlines
    from spark_frontier.politeness.robots import (
        build_rules_df_distributed,
        robots_allowed,
    )
    from spark_frontier.sitemap.expand import expand_sitemap_tree
    from spark_frontier.storage.materialize import materialize

    spark = b.spark
    sites = world["sites"].filter(F.col("is_active")).orderBy("site_seq")
    links_tbl, host_tbl = store.table("links"), store.table("host_state")
    links_before = links_tbl.snapshot_id

    with tr.span("sitemap.expand") as sp:
        entries = materialize(expand_sitemap_tree(
            sites.select("site_id", "site_seq", "sitemap_url"),
            world["sitemap_pages"]))
        sp.counts["entries"] = entries.count()
    with tr.span("frontier.admit"):
        cand = materialize(build_candidates(
            filter_recent(entries, sites, days=gen.DAYS, now=batch_ts)))
    with tr.span("politeness.robots") as sp:
        rules = build_rules_df_distributed(world["robots_docs"])
        judged = materialize(robots_allowed(
            cand, rules, n_hosts=world["robots_docs"].count()))
        sp.counts["denied"] = judged.filter(~F.col("robots_allowed")).count()
    with tr.span("frontier.admit") as sp:
        cand = materialize(first_per_key(
            judged.filter(F.col("robots_allowed"))))
        sp.counts["candidates"] = cand.count()
    with tr.span("functions.seen_load") as sp:
        seen = links_tbl.read(spark).select("url_key")
        n_seen = seen.count()
        per_seg = max(n_seen // SEEN_SEGMENTS, 1)
        m_bits = max(64, 1 << math.ceil(math.log2(per_seg * 14 * 2)))
        segments = materialize(build_bloom_segments(
            seen, n_segments=SEEN_SEGMENTS, m_bits=m_bits))
        probe_fn = might_contain_udf(spark, segments, SEEN_SEGMENTS)
        sp.counts["keys"] = n_seen
    with tr.span("functions.seen_probe") as sp:
        unseen_all = materialize(dedup_unseen(
            cand, seen, segments=segments, n_segments=SEEN_SEGMENTS,
            seen_count=n_seen, probe_fn=probe_fn))
        sp.counts["unseen"] = unseen_all.count()
    # outside any layer span: how many candidates the bloom passes on to
    # the exact check (the probe's wasted work)
    sp.counts["exact_checked"] = cand.filter(
        probe_fn(F.col("url_key"))).count()

    hs = read_host_state(host_tbl, spark)
    hs = materialize(hs if hs is not None else empty_host_state(spark))
    report = {"scheduled": 0, "saved": 0, "waves": 0}
    remaining = unseen_all
    while True:
        n_left = remaining.count()
        if n_left == 0:
            break
        report["waves"] += 1
        hs_rows = hs.collect()
        blocked = [r["host"] for r in hs_rows if r["is_blocked"]]
        todo = remaining.filter(~F.col("host").isin(blocked)) if blocked \
            else remaining
        with tr.span("politeness.deadlines") as sp:
            wave = materialize(assign_deadlines(todo, hs_rows, batch_ts,
                                           max_per_host=max_per_host))
            sp.counts["hosts"] = wave.select("host").distinct().count()
        with tr.span("fetch.join") as sp:
            fetched = materialize(hermetic_fetch(
                wave.drop("site_seq", "depth", "path", "sitemap_pos"),
                world["web_pages"], batch_ts))
            sp.counts["rows"] = fetched.count()
        with tr.span("payload.validate") as sp:
            valid = materialize(validate_fetched(fetched, world["images"],
                                            broadcast_images=True))
        sp.counts["images"] = fetched.select("image_id").distinct().count()
        with tr.span("extract.category"):
            rows = materialize(build_link_rows(
                valid, batch_ts, sites=world["sites"],
                keep=["politeness_deadline"]))
        with tr.span("storage.commit") as sp:
            files = store.table("fetch_log").append_files(
                rows.select("*", F.spark_partition_id().alias(
                    "fetch_partition")),
                summary={"op": "fetch_lineage", "wave": report["waves"]})
            links_tbl.append_shared_files(
                files, where="is_valid", columns=list(LINK_COLUMNS),
                summary={"op": "wave", "wave": report["waves"]})
            sp.counts["files"] = len(files)
            sp.counts["written_mb"] = sum(
                os.path.getsize(f) for f in files) / 2**20
        wave_rows = spark.read.parquet(*files)
        n_wave, n_valid = wave_rows.agg(
            F.count("*"), F.sum(F.col("is_valid").cast("long"))).first()
        report["scheduled"] += n_wave
        report["saved"] += n_valid or 0
        if n_wave == 0:
            raise CheckFailed(f"{n_left} unseen URLs but none schedulable")
        with tr.span("politeness.hostfold"):
            hs = materialize(update_host_state(
                hs, wave_rows.select("host", "politeness_deadline",
                                     "http_code"), batch_ts))
        if n_wave == n_left:
            break
        remaining = materialize(remaining.join(
            wave_rows.select("url_key"), "url_key", "left_anti"))
    with tr.span("storage.commit"):
        host_tbl.overwrite(hs, summary={"op": "host_state"}, small=True)
    _expect(report, {k: exp[k] for k in report}, "traced cycle")
    _links_check(b, store, links_before, report["saved"])
    return report


# ------------------------------------------------------------ corpus

def corpus_funnel(b: Bench) -> None:
    from spark_frontier.pipeline.corpus import run_corpus_filter

    spec = gen.CorpusSpec(n_docs=1_000) if b.smoke else gen.CorpusSpec()
    t = time.time()
    path, exp = gen.corpus(b.cache, b.seed, spec)
    b.gen_s = time.time() - t
    b.start_session()
    docs = b.spark.read.parquet(path)
    b.detail["expected"] = exp

    def funnel():
        d = b.scratch("corpus")
        try:
            rep, wall, cpu, pipe = _timed(b, lambda: run_corpus_filter(
                b.spark, docs, d, batch_ts=gen.NOW,
                pack_capacity=spec.capacity, pack_tokens="whitespace"))
        finally:
            shutil.rmtree(d, ignore_errors=True)
        _expect(rep, exp, "funnel report")
        return rep["n_input"], wall, cpu, pipe

    b.loop(funnel, lambda tr: _traced_funnel(b, tr, docs, spec, exp))


def _traced_funnel(b: Bench, tr: Tracer, docs, spec, exp: dict) -> dict:
    """run_corpus_filter's stages (no decontamination set, whitespace
    packing) from the layers' public functions, each forced in a span."""
    from pyspark.sql import functions as F

    from spark_frontier.analytics.decontam import dup_ngram_signals
    from spark_frontier.analytics.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
        normalize_text,
    )
    from spark_frontier.analytics.packing import pack_sequences
    from spark_frontier.pipeline.corpus import cheap_signals
    from spark_frontier.storage import SnapStore
    from spark_frontier.storage.materialize import materialize

    rep = {"n_input": docs.count()}
    with tr.span("textstats.signals"):
        live = materialize(
            cheap_signals(docs)
            .filter("lang_ok AND quality_ok AND rep_ok AND safety_ok")
            .drop("lang_ok", "quality_ok", "rep_ok", "safety_ok")
            .withColumn("fingerprint", F.md5(normalize_text(F.col("text")))))
    with tr.span("dedup.exact"):
        keepers = live.groupBy("fingerprint").agg(
            F.min("doc_id").alias("doc_id")).select("doc_id")
        live = materialize(live.join(keepers, "doc_id", "semi"))
        rep["n_exact"] = live.count()
    with tr.span("dedup.minhash") as sp:
        pairs = materialize(minhash_lsh_pairs(live, threshold=0.5,
                                              verify="join"))
        sp.counts["pairs"] = pairs.count()
    with tr.span("dedup.clusters"):
        comps = dedup_clusters(pairs, vertices=live.select("doc_id"),
                               id_a="doc_a", id_b="doc_b")
        live = materialize(live.join(
            comps.filter(F.col("doc_id") == F.col("cluster_id"))
            .select("doc_id"), "doc_id", "semi"))
        rep["n_neardup"] = live.count()
    with tr.span("decontam.dupgram"):
        dupg = dup_ngram_signals(live, n=8, drop_threshold=0.5)
        live = materialize(live.join(
            dupg.filter(~F.col("drop_doc")).select("doc_id"), "doc_id",
            "semi"))
        rep["n_kept"] = live.count()
    with tr.span("packing.pack"):
        packing = materialize(pack_sequences(live, capacity=spec.capacity))
        rep["n_sequences"] = int(packing.agg(
            F.max("seq_last") + 1).first()[0] or 0)
    with tr.span("storage.corpus_commit"):
        store = SnapStore(b.scratch("corpus-traced"))
        store.table("corpus_docs").overwrite(live, summary={"op": "trace"})
        store.table("corpus_packing").overwrite(packing,
                                                summary={"op": "trace"})
    _expect(rep, exp, "traced funnel")
    return rep


# ----------------------------------------------------- layer metrics

CRAWL_LAYERS = {
    "sitemap.expand_s": ("sitemap.expand", "wall_s"),
    "sitemap.core_s": ("sitemap.expand", "core_s"),
    "sitemap.entries": ("sitemap.expand", "entries"),
    "frontier.admit_s": ("frontier.admit", "wall_s"),
    "frontier.core_s": ("frontier.admit", "core_s"),
    "frontier.shuffle_mb": ("frontier.admit", "shuffle_mb"),
    "frontier.candidates": ("frontier.admit", "candidates"),
    "politeness.robots_s": ("politeness.robots", "wall_s"),
    "politeness.robots_denied": ("politeness.robots", "denied"),
    "functions.seen_load_s": ("functions.seen_load", "wall_s"),
    "functions.seen_probe_s": ("functions.seen_probe", "wall_s"),
    "functions.seen_keys": ("functions.seen_load", "keys"),
    "functions.unseen": ("functions.seen_probe", "unseen"),
    "politeness.deadlines_s": ("politeness.deadlines", "wall_s"),
    "politeness.hostfold_s": ("politeness.hostfold", "wall_s"),
    "politeness.hosts": ("politeness.deadlines", "hosts"),
    "fetch.join_s": ("fetch.join", "wall_s"),
    "fetch.shuffle_mb": ("fetch.join", "shuffle_mb"),
    "fetch.rows": ("fetch.join", "rows"),
    "payload.validate_s": ("payload.validate", "wall_s"),
    "payload.core_s": ("payload.validate", "core_s"),
    "extract.category_s": ("extract.category", "wall_s"),
    "extract.core_s": ("extract.category", "core_s"),
    "storage.commit_s": ("storage.commit", "wall_s"),
    "storage.written_mb": ("storage.commit", "written_mb"),
    "storage.files": ("storage.commit", "files"),
}
CORPUS_LAYERS = {
    "textstats.signals_s": ("textstats.signals", "wall_s"),
    "textstats.core_s": ("textstats.signals", "core_s"),
    "dedup.exact_s": ("dedup.exact", "wall_s"),
    "dedup.minhash_s": ("dedup.minhash", "wall_s"),
    "dedup.minhash_pairs": ("dedup.minhash", "pairs"),
    "dedup.clusters_s": ("dedup.clusters", "wall_s"),
    "dedup.clusters_jobs": ("dedup.clusters", "jobs"),
    "decontam.dupgram_s": ("decontam.dupgram", "wall_s"),
    "decontam.shuffle_mb": ("decontam.dupgram", "shuffle_mb"),
    "packing.pack_s": ("packing.pack", "wall_s"),
    "storage.corpus_commit_s": ("storage.corpus_commit", "wall_s"),
}
DEDUP_SPANS = ("dedup.exact", "dedup.minhash", "dedup.clusters")


def _layer_metrics(tr: Tracer, workload: str) -> dict:
    """Per-layer metrics from the spans. A span that was never recorded
    raises KeyError, so a missing layer fails the run instead of
    reading 0."""
    table = CORPUS_LAYERS if workload == "corpus_funnel" else CRAWL_LAYERS
    out = {name: tr.totals(span)[key] for name, (span, key) in table.items()}
    if workload == "corpus_funnel":
        tot = [tr.totals(s) for s in DEDUP_SPANS]
        out["dedup.core_s"] = sum(t["core_s"] for t in tot)
        out["dedup.shuffle_mb"] = sum(t["shuffle_mb"] for t in tot)
    else:
        load, probe = (tr.totals("functions.seen_load"),
                       tr.totals("functions.seen_probe"))
        out["functions.seen_core_s"] = load["core_s"] + probe["core_s"]
        out["functions.seen_shuffle_mb"] = (load["shuffle_mb"]
                                            + probe["shuffle_mb"])
        cand = tr.totals("frontier.admit")["candidates"]
        out["functions.seen_exact_frac"] = (
            probe["exact_checked"] / cand if cand else 0.0)
        fetch = tr.totals("fetch.join")
        out["payload.images_per_row"] = (
            tr.totals("payload.validate").get("images", 0) / fetch["rows"]
            if fetch["rows"] else 0.0)
    return out


WORKLOADS = {
    "crawl_recrawl": crawl_recrawl,
    "corpus_funnel": corpus_funnel,
}
