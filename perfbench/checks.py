"""Output checks, run outside the timed window.

An order-insensitive digest of a crawl's results, per-(round, metric)
counter totals and seen set must equal the digest of
``siren_spark.testing.oracle.simulate_crawl`` on the same generated web.
"""

from __future__ import annotations

import hashlib
import json
import os

from perfbench.webgen import Web


def _norm(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, dict):
        return json.dumps({str(k): str(x) for k, x in v.items()}, sort_keys=True)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


RESULT_KEYS = ("source", "url", "title", "author", "location", "published",
               "text", "extra", "gen")


def _digest(lines) -> str:
    h = hashlib.sha1()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def crawl_digest(results: list[dict], counters: dict[tuple[int, str], int],
                 seen: set[str]) -> dict[str, str]:
    """Component digests of a crawl's outputs, independent of row order.
    ``counters`` maps (gen, metric) to its total; zero totals are dropped
    so a metric the engine never writes equals an oracle zero."""
    return {
        "results": _digest("\x1f".join(_norm(r.get(k)) for k in RESULT_KEYS)
                           for r in results),
        "counters": _digest(f"{g}\x1f{m}\x1f{n}"
                            for (g, m), n in counters.items() if n),
        "seen": _digest(seen),
        "n_results": str(len(results)),
    }


def engine_outputs(res) -> tuple[list[dict], dict[tuple[int, str], int], set[str]]:
    """Results, per-(round, metric) counter totals and seen set of a
    ``CrawlResult`` (collects its three outputs)."""
    results = [r.asDict() for r in res.results.collect()] if res.results is not None else []
    counters: dict[tuple[int, str], int] = {}
    for r in (res.counters.collect() if res.counters is not None else []):
        k = (int(r.gen), r.metric)
        counters[k] = counters.get(k, 0) + int(r.n)
    seen = {r.url_canon for r in res.seen.collect()} if res.seen is not None else set()
    return results, counters, seen


class _ParquetPage:
    """Page mapping for the oracle over a written pages table: html is
    read from the Arrow column only when fetched."""

    __slots__ = ("html", "i", "url")

    def __init__(self, html, i: int, url: str):
        self.html, self.i, self.url = html, i, url

    def __getitem__(self, key):
        if key == "url":
            return self.url
        if key == "html":
            return self.html[self.i].as_py()
        raise KeyError(key)


def oracle_digest(web: Web, *, pages_path: str, budget_per_host: int,
                  max_rounds: int, robots: bool,
                  cache_path: str | None = None) -> dict[str, str]:
    """Digest of the single-process oracle crawl over the pages table
    written at ``pages_path``, cached on disk."""
    if cache_path and os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    from siren_spark.testing.oracle import simulate_crawl

    import pyarrow.parquet as pq

    table = pq.read_table(pages_path, columns=["url", "html"])
    html = table.column("html")
    pages = [_ParquetPage(html, i, u)
             for i, u in enumerate(table.column("url").to_pylist())]
    seeds = [{"url": u, "meta": {"keyword": "crisis"}} for u, _s in web.seed_urls()]
    sim = simulate_crawl(pages, seeds, budget_per_host=budget_per_host,
                         max_rounds=max_rounds,
                         robots_rows=web.robots_rows() if robots else None)
    counters: dict[tuple[int, str], int] = {}
    for c in sim.counters:
        k = (int(c["gen"]), c["metric"])
        counters[k] = counters.get(k, 0) + int(c["n"])
    # the engine counts a page's extracted records as counter rows too
    for r in sim.results:
        k = (int(r["gen"]), "records")
        counters[k] = counters.get(k, 0) + 1
    out = crawl_digest(sim.results, counters, sim.seen)
    if cache_path:
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, cache_path)
    return out


def digest_mismatches(got: dict[str, str], want: dict[str, str]) -> list[str]:
    return [k for k in want if got.get(k) != want[k]]
