"""Seeded input generators for the perfbench workloads.

Every generator takes the workload seed, writes its tables as parquet
under a cache directory keyed by (seed, parameters), and returns the
expected funnel counts computed here in pandas from the generator's own
record of what it wrote, never by running the engine. The engine's
``spark_frontier.pipeline.synth`` helpers build the sites, images and
sitemap XML; ``synth.gen_world``/``gen_corpus`` themselves are not used
because they hard-code one seed.

Crawl inputs avoid two behaviours whose outcome depends on state carried
between cycles and would make exact expectations path-dependent: HTTP
403/429 (they can block a host for later cycles) and undated entries
(they route through the per-site undated-tail rule). The recrawl world
still reaches every other funnel branch: an inactive site, a site
watermark, reject-pattern URLs, robots-denied URLs, pre-seen URLs,
404/500 and missing pages, caption mismatches, and the gzip, https
namespace, index cycle, news, plain-text and malformed sitemap forms.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spark_frontier.pipeline import synth

NOW = synth.NOW
DAYS = 7  # run_crawl_cycle's and the crawl CLI's discovery window
MAX_PER_HOST = 64  # the crawl CLI's default --max-per-host
ROBOTS_SITE = 0  # synth robots: site0 disallows /private/ and /category/
TS_FMT = "%Y-%m-%dT%H:%M:%SZ"


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _write(out_dir: str, name: str, df: pd.DataFrame) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path,
        coerce_timestamps="us", allow_truncated_timestamps=True,
        row_group_size=65536,
    )
    return path


def _cached(out_dir: str, build) -> dict:
    """Run ``build(out_dir)`` once per directory; its dict result is the
    cache marker, written last so an interrupted build is redone."""
    marker = os.path.join(out_dir, "expected.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    expected = build(out_dir)
    with open(marker + ".tmp", "w") as fh:
        json.dump(expected, fh)
    os.replace(marker + ".tmp", marker)
    return expected


def _key(prefix: str, seed: int, spec) -> str:
    h = hashlib.sha1(json.dumps(asdict(spec), sort_keys=True).encode())
    return f"{prefix}-s{seed}-{h.hexdigest()[:10]}"


# ---------------------------------------------------------------- crawl

def _static_tables(out_dir: str, n_sites: int, n_images: int) -> pd.DataFrame:
    """sites, images and robots_docs (synth's fixtures); returns sites."""
    sites = synth.gen_sites(n_sites)
    _write(out_dir, "sites", sites)
    _write(out_dir, "images", synth.gen_images(n_images))
    robots = []
    for i in range(n_sites):
        host = f"site{i}.example.com"
        if i == ROBOTS_SITE:
            txt = ("User-agent: *\nDisallow: /private/\n"
                   "Disallow: /category/\nAllow: /\n")
        elif i == 2:
            txt = "User-agent: *\nCrawl-delay: 1\nDisallow: /video/\n"
        elif i == 6:
            continue  # no robots.txt: allow all
        else:
            txt = "User-agent: *\nDisallow:\n"
        robots.append({"host": host, "content": txt})
    _write(out_dir, "robots_docs", pd.DataFrame(robots))
    return sites


def _render_sitemaps(ents: pd.DataFrame, n_sites: int) -> pd.DataFrame:
    """sitemap_pages for url entries (site_seq, urlset, url, lastmod).
    Site kind = site_seq % 6: 0 index with a gzip child, 1 plain index,
    2 https-namespace index with a cycle back to the root, 3 index over
    news urlsets, 4 plain-text sitemap, 5 malformed XML (regex path)."""
    pages = []
    for i in range(n_sites):
        host = f"site{i}.example.com"
        root = f"https://{host}/sitemap.xml"
        kind = i % 6
        site = ents[ents["site_seq"] == i]
        lm = site["lastmod"].dt.strftime(TS_FMT).tolist()
        locs = site["url"].tolist()
        if kind == 4:
            body = "\n".join(f"{u} {d}" for u, d in zip(locs, lm)).encode()
            pages.append({"sitemap_url": root, "content": body,
                          "http_code": 200})
            continue
        if kind == 5:
            body = "".join(f"<url><loc>{u}</loc><lastmod>{d}</lastmod></url>"
                           for u, d in zip(locs, lm))
            pages.append({"sitemap_url": root,
                          "content": f"<urlset>{body}".encode(),
                          "http_code": 200})
            continue
        sets = sorted(site["urlset"].unique().tolist())
        children = [f"https://{host}/sitemap-{j}.xml" for j in sets]
        if kind == 2:
            children.append(root)
        pages.append({"sitemap_url": root,
                      "content": synth._index_xml(
                          children, https_ns=(kind == 2)).encode(),
                      "http_code": 200})
        us = site["urlset"].to_numpy()
        for j in sets:
            sel = np.flatnonzero(us == j)
            xml = synth._urlset_xml(
                [(locs[k], lm[k]) for k in sel], news=(kind == 3)
            ).encode()
            if kind == 0 and j == sets[0]:
                xml = gzip.compress(xml)
            pages.append({"sitemap_url": f"https://{host}/sitemap-{j}.xml",
                          "content": xml, "http_code": 200})
    return pd.DataFrame(pages)


def _web_pages(arts: pd.DataFrame, n_images: int) -> pd.DataFrame:
    """One fetchable page per distinct URL; ``http_code`` 0 means the page
    is absent (the fetch join's connection-failure path)."""
    a = arts.drop_duplicates("url")
    a = a[a["http_code"] != 0]
    img = (a["art"] % n_images).to_numpy()
    caps = [synth.caption_for(int(k)) for k in img]
    caps = [c if ok else c + " (edited)"
            for c, ok in zip(caps, a["caption_ok"].tolist())]
    return pd.DataFrame({
        "url": a["url"].to_numpy(),
        "image_id": [f"img-{int(k)}" for k in img],
        "caption": caps,
        "http_code": a["http_code"].astype("int32").to_numpy(),
    })


def _urls(hosts: np.ndarray, roles: np.ndarray, art: np.ndarray) -> np.ndarray:
    """0 article, 1 reject-pattern page, 2 private page."""
    seg = np.where(roles == 1, "/category/list-",
                   np.where(roles == 2, "/private/", "/article/"))
    ids = pd.Series(art).astype(str).str.zfill(8).to_numpy()
    return ("https://" + pd.Series(hosts) + seg + ids).to_numpy()


def _expect_cycle(ents: pd.DataFrame, sites: pd.DataFrame, seen: set,
                  batch_ts: datetime, max_per_host: int
                  ) -> tuple[dict, pd.DataFrame]:
    """Expected CycleReport counters for one drained cycle, from the
    reference's funnel rules: active sites → recency cutoff
    max(now − days, last_crawl_at) → reject patterns → robots → first
    occurrence per URL → not yet seen → fetched (HTTP 200) → valid
    (caption matches). Returns (counters, the rows scheduled)."""
    active = sites.loc[sites["is_active"], ["site_seq", "last_crawl_at"]]
    e = ents.merge(active, on="site_seq")
    floor = pd.Timestamp(batch_ts - timedelta(days=DAYS))
    cutoff = e["last_crawl_at"].where(e["last_crawl_at"] > floor, floor)
    recent = e[e["lastmod"] > cutoff]
    cand = recent[recent["role"] != 1]
    denied = (cand["site_seq"] == ROBOTS_SITE) & (cand["role"] == 2)
    allowed = cand[~denied].drop_duplicates("url")
    unseen = allowed[~allowed["url"].isin(seen)]
    ok = unseen["http_code"] == 200
    valid = ok & unseen["caption_ok"]
    per_host = unseen.groupby("site_seq").size()
    waves = int(math.ceil(per_host.max() / max_per_host)) if len(unseen) else 0
    counts = {
        "sitemap_entries_total": len(e),
        "entries_within_days": len(allowed),
        "robots_denied": int(denied.sum()),
        "new_urls_found": len(unseen),
        "scheduled": len(unseen),
        "fetched": int(ok.sum()),
        "fetch_failed": int((~ok).sum()),
        "validation_failed": int((ok & ~unseen["caption_ok"]).sum()),
        "saved": int(valid.sum()),
        "waves": waves,
    }
    return counts, unseen[valid]


def _seen_table(urls: np.ndarray, first_seen: datetime) -> pd.DataFrame:
    return pd.DataFrame({
        "url": urls,
        "url_hash": [hashlib.sha256(u.encode()).hexdigest() for u in urls],
        "host": pd.Series(urls).str.split("/").str[2].to_numpy(),
        "first_seen_at": pd.Timestamp(first_seen),
    })


@dataclass(frozen=True)
class RecrawlSpec:
    """Hourly recrawl of rolling sitemaps. Each site publishes a fixed
    number of articles an hour, between ``rate_lo`` and ``rate_hi`` (the
    hot site ``hot_rate``); its sitemap lists the last ``window_h``
    hours; everything published before hour 0 is already in the seen
    store."""
    n_sites: int = 16
    hot_site: int = 1
    hot_rate: int = 100
    rate_lo: int = 15
    rate_hi: int = 45
    window_h: int = 24
    history_h: int = 100
    urlset_size: int = 1000
    n_images: int = 64


def _uniform(seed: int, site: int, art: np.ndarray, stream: int) -> np.ndarray:
    """Per-article uniforms in [0, 1): splitmix64 of (seed, site, stream,
    article), so an article draws the same values in every snapshot."""
    with np.errstate(over="ignore"):
        key = ((seed * 1_000_003 + site * 131 + stream) << 32) % 2**64
        x = art.astype(np.uint64) + np.uint64(key)
        x = (x + np.uint64(0x9E3779B97F4A7C15))
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


class RecrawlWorld:
    """The recrawl snapshot sequence. ``snapshot(t)`` writes hour t's
    ``sitemap_pages`` and ``web_pages`` and returns (dir, batch_ts,
    expected counters); snapshots must be taken in order, because the
    expectation of hour t depends on what hours < t saved."""

    def __init__(self, cache: str, seed: int, spec: RecrawlSpec):
        self.spec = spec
        self.seed = seed
        self.dir = os.path.join(cache, _key("recrawl", seed, spec))
        # publication rates are fixed by the spec, not the seed, so every
        # seed asks for the same amount of work
        span = spec.rate_hi - spec.rate_lo + 1
        self.rates = spec.rate_lo + (np.arange(spec.n_sites) * 7) % span
        self.rates[spec.hot_site] = spec.hot_rate
        self.base_dir = os.path.join(self.dir, "base")
        self.expected = _cached(self.base_dir, self._build_base)
        self.sites = pd.read_parquet(os.path.join(self.base_dir,
                                                  "sites.parquet"))
        self.saved: set = set()  # URLs saved by hours ≥ 0
        self.next_t = 0

    def _history_end(self, site: int) -> int:
        """First article index published at hour 0 or later."""
        return self.spec.history_h * int(self.rates[site])

    def _build_base(self, d: str) -> dict:
        _static_tables(d, self.spec.n_sites, self.spec.n_images)
        seen = np.concatenate([
            _urls(np.full(self._history_end(i), f"site{i}.example.com"),
                  np.zeros(self._history_end(i), dtype=int),
                  np.arange(self._history_end(i)))
            for i in range(self.spec.n_sites)])
        _write(d, "url_seen", _seen_table(seen, NOW - timedelta(days=1)))
        return {"seeded": int(len(seen))}

    def _window(self, t: int) -> pd.DataFrame:
        """Sitemap entries listed at hour t: every article published in
        the last ``window_h`` hours. Articles from before hour 0 are the
        seeded history: plain, fetchable and already seen."""
        frames = []
        for i in range(self.spec.n_sites):
            r, h0 = int(self.rates[i]), self._history_end(i)
            lo = max((t - self.spec.window_h + 1) * r + h0, 0)
            art = np.arange(lo, (t + 1) * r + h0)
            live = art >= h0
            u = _uniform(self.seed, i, art, 0)
            role = np.where(live & (u < 0.04), 1,
                            np.where(live & (u < 0.07), 2, 0))
            u = _uniform(self.seed, i, art, 1)
            code = np.where(u < 0.01, 404, np.where(
                u < 0.015, 500, np.where(u < 0.02, 0, 200)))
            code = np.where(live, code, 200).astype(np.int32)
            cap_ok = ~live | (_uniform(self.seed, i, art, 2) >= 0.01)
            hour = (art - h0) // r
            offset = 1 + (_uniform(self.seed, i, art, 3) * 3598).astype(int)
            frames.append(pd.DataFrame({
                "site_seq": i, "art": art, "role": role,
                "url": _urls(np.full(len(art), f"site{i}.example.com"),
                             role, art),
                "lastmod": pd.Timestamp(NOW)
                + pd.to_timedelta(hour * 3600 - offset, unit="s"),
                "http_code": code, "caption_ok": cap_ok,
                "urlset": art // self.spec.urlset_size,
                "history": ~live,
            }))
        return pd.concat(frames, ignore_index=True)

    def snapshot(self, t: int) -> tuple[str, datetime, dict]:
        if t != self.next_t:
            raise ValueError(f"snapshots run in order: expected {self.next_t}")
        self.next_t += 1
        ents = self._window(t)
        batch_ts = NOW + timedelta(hours=t)
        seen = set(ents.loc[ents["history"], "url"]) | self.saved
        counts, saved = _expect_cycle(ents, self.sites, seen, batch_ts,
                                      MAX_PER_HOST)
        self.saved |= set(saved["url"])
        d = os.path.join(self.dir, f"t{t:04d}")
        if not os.path.exists(os.path.join(d, "done")):
            os.makedirs(d, exist_ok=True)
            _write(d, "sitemap_pages",
                   _render_sitemaps(ents, self.spec.n_sites))
            _write(d, "web_pages", _web_pages(ents, self.spec.n_images))
            open(os.path.join(d, "done"), "w").close()
        return d, batch_ts, counts


# --------------------------------------------------------------- corpus

EXACT_SOURCE, NEAR_SOURCE = 7, 8  # residues mod 100, see corpus()


@dataclass(frozen=True)
class CorpusSpec:
    """synth.gen_corpus's document mix, seeded: 4% Spanish, 3% spam,
    5% exact and 8% near duplicates, the rest unique English."""
    n_docs: int = 5_000
    capacity: int = 2048


def corpus(cache: str, seed: int, spec: CorpusSpec) -> tuple[str, dict]:
    """Write the corpus parquet; return (path, expected funnel counts).

    Within every block of 100 doc_ids, residue 7 is the source of the
    exact copies on residues 12–16 and residue 8 the source of the near
    duplicates on residues 17–24. Both sources are always unique English
    documents, so every duplicate family is one unique source plus its
    copies, at every corpus size, and the expected survivors follow from
    the roles alone: the language and repetition gates drop the Spanish
    and spam documents, exact dedup keeps the lowest doc_id of each copy
    set (the source), near-dup clustering keeps one document per family
    (again the source), and no surviving document shares enough 8-grams
    to be dropped as a dup-gram document."""
    out_dir = os.path.join(cache, _key("corpus", seed, spec))
    path = os.path.join(out_dir, "corpus_docs.parquet")

    def build(d: str) -> dict:
        n = spec.n_docs
        rng = _rng(seed, 5)
        vocab = np.array(["".join(row) for row in rng.choice(
            list("abcdefghjkmnpqrstuvwxyz"), size=(50_000, 6))])
        picks = rng.integers(0, len(vocab), size=(n, 60))
        sources = np.where(rng.random(n) < 0.8, "web", "books")
        spam_tail = "the spam and spam " + "spam " * 50
        texts = [""] * n
        # 0 unique, 1 Spanish, 2 spam, 3 exact copy, 4 near duplicate
        role = np.zeros(n, dtype=np.int8)
        for i in range(n):
            m = i % 100
            if 12 <= m < 17:
                texts[i], role[i] = texts[i - m + EXACT_SOURCE], 3
            elif 17 <= m < 25:
                texts[i], role[i] = (texts[i - m + NEAR_SOURCE]
                                     + f" tiny drift {i}"), 4
            elif m < 4:
                texts[i], role[i] = (
                    "el rio y la casa que esta en la colina con los arboles "
                    f"{' '.join(vocab[picks[i]])} de la finca numero {i}"), 1
            elif m < 7:
                texts[i], role[i] = spam_tail + f" tagged {i}", 2
            else:
                texts[i] = (f"the story of part {i} is that "
                            f"{' '.join(vocab[picks[i]])} and in the end it "
                            "was done there")
        pq.write_table(pa.table({
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": pa.array(texts),
            "source": pa.array(sources.tolist()),
        }), os.path.join(d, "corpus_docs.parquet"), row_group_size=2048)
        kept = role == 0
        n_tokens = sum(len(texts[i].split()) for i in np.flatnonzero(kept))
        n_gate = int(np.isin(role, (0, 3, 4)).sum())
        return {
            "n_input": n,
            "n_exact": n_gate - int((role == 3).sum()),
            "n_neardup": int(kept.sum()),
            "n_kept": int(kept.sum()),
            "n_sequences": -(-n_tokens // spec.capacity),
        }

    return path, _cached(out_dir, build)
