"""Seeded synthetic webs for the crawl workloads.

Every page is built by ``siren_spark.testing.benchgen``'s page builders
(mirror search pages with an absolute next-wave anchor, ~20 KB ld+json
article pages, toi JSON search chains), so the benchmark crawls the same
web as ``bench.py`` and the repo's tests. An optional phantom article
wave is referenced only by the seed list (full-volume round 0).

The seed picks a block of the builders' id space: search page ``i`` of
the web is the builders' page ``base + i`` with ``base`` a seeded
multiple of ``n_index``. That moves every URL, the domain of every
search page (the builders hash the id onto a domain, about 30 % onto
the hot host ``site0``) and the toi chain numbers. The seed also picks
which article pages are withheld (one per block of ``miss_every``).
Row counts of every table are the same for every seed.

Everything is a pure function of ``(WebParams, seed, row id)``, so two
runs with the same seed write byte-identical tables.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from siren_spark.testing import benchgen
from siren_spark.urls import canonicalize_url

TOI_DOMAIN = "toi-epaper.example"
# seeded blocks of the builders' id space; large enough that two seeds
# rarely share a block, small enough that ids stay short
N_BLOCKS = 1 << 20


@dataclass(frozen=True)
class WebParams:
    n_index: int            # mirror search pages
    links: int              # articles linked per search page
    waves: int              # search-page waves (crawl depth)
    n_domains: int          # mirror domains; n_domains - 1 prime to 40503 (benchgen._dom) uses them all
    miss_every: int = 97    # one article page withheld per block of this many
    phantom: bool = False   # extra seed-only article wave (full-volume round 0)
    robots: bool = False    # generate a robots table covering every domain

    def key(self, seed: int) -> str:
        blob = json.dumps({"params": asdict(self), "seed": seed, "v": 3},
                          sort_keys=True)
        return hashlib.sha1(blob.encode()).hexdigest()[:16]


def mix(seed: int, x: int) -> int:
    """64-bit splitmix-style hash of (seed, x) — stable across processes."""
    z = (x * 0x9E3779B97F4A7C15 + seed * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB)
    z &= (1 << 64) - 1
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & ((1 << 64) - 1)
    return z ^ (z >> 31)


class Web:
    """URLs and pages of one (params, seed). Row ids: search pages,
    then articles, then toi pages, then phantom articles."""

    def __init__(self, p: WebParams, seed: int):
        assert p.n_index % p.waves == 0, "waves must split n_index evenly"
        self.p = p
        self.seed = seed
        self.base = (1 + mix(seed, -1) % N_BLOCKS) * p.n_index
        self.n_articles = p.n_index * p.links
        self.wave_size = p.n_index // p.waves
        self.n_phantom = self.wave_size * p.links if p.phantom else 0
        self.toi_pages = max(self.wave_size // 4, 1)
        self.n_toi = p.waves * self.toi_pages
        # toi chain of wave w, as the builders number it from base
        self.toi_wave0 = self.base // self.wave_size

    # -- identity ------------------------------------------------------
    def withheld(self, aid: int) -> bool:
        """Local article id ``aid`` is missing from the pages table."""
        m = self.p.miss_every
        block = aid // m
        # one page per full block, at a seeded offset: the withheld count
        # is the same for every seed
        total = self.n_articles + self.n_phantom
        return block < total // m and aid % m == mix(self.seed, ~block) % m

    def _aid(self, aid: int) -> int:
        # local article ids (phantoms follow the articles) -> builder ids
        return self.base * self.p.links + aid

    def index_url(self, i: int) -> str:
        return benchgen.index_url(self.base + i, self.p.n_domains)

    def article_url(self, aid: int) -> str:
        return benchgen.article_url(self._aid(aid), self.p.links, self.p.n_domains)

    def toi_url(self, wave: int, page: int) -> str:
        return benchgen.toi_url(self.toi_wave0 + wave, page)

    # -- pages ---------------------------------------------------------
    @property
    def n_ids(self) -> int:
        return self.p.n_index + self.n_articles + self.n_toi + self.n_phantom

    def _locate(self, i: int) -> tuple[str, int, int]:
        """(kind, a, b) of row id ``i``: ("index", i, 0),
        ("article", aid, 0) or ("toi", wave, page)."""
        p = self.p
        if i < p.n_index:
            return "index", i, 0
        i -= p.n_index
        if i < self.n_articles:
            return "article", i, 0
        i -= self.n_articles
        if i < self.n_toi:
            wave, page = divmod(i, self.toi_pages)
            return "toi", wave, page + 1
        return "article", self.n_articles + (i - self.n_toi), 0

    def page(self, i: int) -> tuple[str, str] | None:
        """(url, html) of row id ``i``; None when the page is withheld."""
        p = self.p
        kind, a, b = self._locate(i)
        if kind == "index":
            return benchgen.index_page(
                self.base + a, p.links, p.n_domains,
                n_index=self.base + p.n_index, wave_size=self.wave_size)
        if kind == "toi":
            return (self.toi_url(a, b),
                    benchgen.toi_page(self.toi_wave0 + a, b, self.toi_pages))
        if self.withheld(a):
            return None
        url, html, _text = benchgen.article_page(self._aid(a), p.links, p.n_domains)
        return url, html

    def n_pages(self) -> int:
        total = self.n_articles + self.n_phantom
        return self.n_ids - total // self.p.miss_every

    def seed_urls(self) -> list[tuple[str, str]]:
        """(url, source) of the seed list."""
        out = [(self.index_url(i), "mirror") for i in range(self.wave_size)]
        out.append((self.toi_url(0, 1), "toi"))
        out += [(self.article_url(self.n_articles + k), "mirror")
                for k in range(self.n_phantom)]
        return out

    def domains(self) -> list[str]:
        """Every domain the builders can place a page on."""
        return [f"site{d}.example" for d in range(self.p.n_domains)] + [TOI_DOMAIN]

    def robots_rows(self) -> list[dict]:
        """One rules row per domain. About one domain in ten disallows the
        articles whose id starts with a seeded digit."""
        rows = []
        for d in self.domains():
            h = mix(self.seed, int(hashlib.md5(d.encode()).hexdigest()[:8], 16))
            if d != TOI_DOMAIN and h % 10 == 0:
                rules = (f"User-agent: *\nDisallow: /news/story-{1 + (h >> 8) % 9}\n"
                         "Allow: /\n")
            else:
                rules = "User-agent: *\nAllow: /\n"
            rows.append({"domain": d, "rules": rules})
        return rows


def write_pages(web: Web, path: str, rows_per_group: int = 2048) -> int:
    """Write the web's pages table (the engine's pages schema plus the
    ingest-time url_canon) as one parquet file, in row-id order; returns
    the row count."""
    schema = pa.schema([("url", pa.string()), ("url_canon", pa.string()),
                        ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
                        ("text", pa.string()), ("lang", pa.string())])
    warc_ts = datetime(2022, 11, 1)
    n = 0
    with pq.ParquetWriter(path, schema, compression="zstd") as w:
        urls: list[str] = []
        htmls: list[bytes] = []
        for i in range(web.n_ids + 1):
            pg = web.page(i) if i < web.n_ids else None
            if pg is not None:
                urls.append(pg[0])
                htmls.append(pg[1].encode())
            if len(urls) == rows_per_group or (i == web.n_ids and urls):
                n_rows = len(urls)
                w.write_table(pa.table({
                    "url": urls, "url_canon": [canonicalize_url(u) for u in urls],
                    "warc_ts": [warc_ts] * n_rows, "html": htmls,
                    "text": [""] * n_rows, "lang": ["en"] * n_rows}, schema=schema))
                n += len(urls)
                urls, htmls = [], []
    return n


__all__ = ["WebParams", "Web", "write_pages", "mix"]
