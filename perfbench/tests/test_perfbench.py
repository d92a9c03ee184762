"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import Row

from perfbench import metrics
from perfbench.checks import crawl_digest, oracle_digest
from perfbench.tablegen import write_tables
from perfbench.trace import Span, round_accounting
from perfbench.webgen import Web, WebParams, write_pages

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = WebParams(n_index=12, links=6, waves=2, n_domains=5, phantom=True,
                  miss_every=7, robots=True)


def _web_bytes(web: Web) -> tuple[str, list[str]]:
    h = hashlib.sha1()
    urls = []
    for i in range(web.n_ids):
        pg = web.page(i)
        if pg is not None:
            urls.append(pg[0])
            h.update(pg[0].encode() + b"\0" + pg[1].encode())
    h.update(json.dumps(web.seed_urls()).encode())
    h.update(json.dumps(web.robots_rows()).encode())
    return h.hexdigest(), urls


def test_same_seed_gives_identical_web():
    assert _web_bytes(Web(SMALL, 3)) == _web_bytes(Web(SMALL, 3))


def test_pages_come_from_benchgen_builders():
    from siren_spark.testing import benchgen

    web = Web(SMALL, 3)
    p = SMALL
    assert web.page(0) == benchgen.index_page(
        web.base, p.links, p.n_domains, n_index=web.base + p.n_index,
        wave_size=web.wave_size)
    aid = next(a for a in range(web.n_articles) if not web.withheld(a))
    url, html, _text = benchgen.article_page(web.base * p.links + aid, p.links,
                                             p.n_domains)
    assert web.page(p.n_index + aid) == (url, html)


def test_other_seed_changes_urls_not_row_counts():
    a, b = Web(SMALL, 3), Web(SMALL, 4)
    _ha, ua = _web_bytes(a)
    _hb, ub = _web_bytes(b)
    assert len(ua) == len(ub) == a.n_pages() == b.n_pages()
    assert set(ua).isdisjoint(ub)
    assert len(a.seed_urls()) == len(b.seed_urls())
    withheld = [[i for i in range(w.n_articles + w.n_phantom) if w.withheld(i)]
                for w in (a, b)]
    assert len(withheld[0]) == len(withheld[1]) and withheld[0] != withheld[1]


def test_same_seed_gives_identical_tables(tmp_path):
    write_tables(str(tmp_path / "a"), 0.01, 5)
    write_tables(str(tmp_path / "b"), 0.01, 5)
    for f in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def test_other_seed_changes_tables_not_row_counts(tmp_path):
    import pyarrow.parquet as pq

    ca = write_tables(str(tmp_path / "a"), 0.01, 5)
    cb = write_tables(str(tmp_path / "b"), 0.01, 6)
    assert ca == cb
    ta = pq.read_table(tmp_path / "a" / "lineitem.parquet")
    tb = pq.read_table(tmp_path / "b" / "lineitem.parquet")
    assert ta.schema == tb.schema and not ta.equals(tb)


def test_metric_names_and_benchmark_json_agree():
    names = ([n for n, *_ in metrics.END_TO_END]
             + [n for n, *_ in metrics.PER_LAYER])
    assert len(names) == len(set(names))
    for n in names:
        assert metrics.NAME_RE.match(n), n
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()


def test_round_spans_and_gap_account_for_wall():
    start = 100.0
    spans = [
        Span("stage_table:frontier_ann", 100.5, 101.5, "main", 0),
        Span("stage_table:extracted", 101.6, 103.0, "main", 0),
        Span("stage_table:results", 103.0, 103.8, "pool-1", 0),
        Span("stage_table:counters", 103.1, 104.0, "pool-2", 0),
        # next round's annotate, overlapping this round's writes
        Span("stage_table:frontier_ann", 103.2, 104.6, "pool-3", 1),
        Span("write_round", 104.7, 104.8, "main", 0),
        Span("stage_table:extracted", 105.0, 106.0, "main", 1),
        Span("write_round", 106.2, 106.3, "main", 1),
    ]
    rows = round_accounting(spans, start)
    assert len(rows) == 2
    for row in rows:
        assert row["covered"] + row["gap"] == pytest.approx(row["wall"])
        assert 0 <= row["gap"] <= row["wall"]
    assert sum(r["wall"] for r in rows) == pytest.approx(106.3 - start)
    # round 0: uncovered 100.0-100.5, 101.5-101.6, 104.6-104.7
    assert rows[0]["gap"] == pytest.approx(0.7)


def test_commit_clock_times_each_commit_and_uninstalls(tmp_path):
    import time

    from siren_spark.operators.checkpoint import CheckpointStore

    from perfbench.trace import CommitClock

    orig = CheckpointStore.write_round
    clock = CommitClock()
    clock.install()
    try:
        store = CheckpointStore(str(tmp_path))
        t0 = time.time()
        for gen in range(3):
            store.write_round(gen, {}, stats={"by_status": {}}, staged={})
    finally:
        clock.uninstall()
    assert CheckpointStore.write_round is orig
    assert len(clock.ends) == 3 and clock.ends == sorted(clock.ends)
    assert t0 <= clock.ends[0] and store.latest_gen() == 2


class _Frame:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _Result:
    """The three outputs of a CrawlResult, as the oracle computed them."""

    def __init__(self, sim, counters):
        self.results = _Frame([Row(**r) for r in sim.results])
        self.counters = _Frame([Row(gen=g, domain="d", metric=m, n=n)
                                for (g, m), n in counters.items()])
        self.seen = _Frame([Row(url_canon=u) for u in sim.seen])


def test_corrupt_output_is_counted_in_error_rate(tmp_path, monkeypatch):
    from siren_spark.testing.oracle import simulate_crawl

    from perfbench import run

    monkeypatch.setattr(run, "CACHE", str(tmp_path))
    wl = run.CrawlWorkload("crawl_test", SMALL, {"budget_per_host": 4,
                                                  "max_rounds": 6}, 3,
                          bucketed=False)
    web = wl.web
    pages = [{"url": pg[0], "html": pg[1].encode()}
             for pg in map(web.page, range(web.n_ids)) if pg is not None]
    seeds = [{"url": u, "meta": {"keyword": "crisis"}} for u, _s in web.seed_urls()]
    sim = simulate_crawl(pages, seeds, budget_per_host=4, max_rounds=6,
                         robots_rows=web.robots_rows())
    counters = {}
    for c in sim.counters:
        counters[(c["gen"], c["metric"])] = counters.get((c["gen"], c["metric"]), 0) + c["n"]
    for r in sim.results:
        counters[(r["gen"], "records")] = counters.get((r["gen"], "records"), 0) + 1
    assert sim.results, "the small web must produce results"

    good = _Result(sim, counters)
    bad = _Result(sim, counters)
    corrupt = bad.results.rows[0].asDict()
    corrupt["text"] = corrupt["text"] + " "
    bad.results.rows[0] = Row(**corrupt)
    # one commit per round, 2 s apart; the program's own timers are absent
    n_rounds = 1 + max(g for g, _m in counters)
    commits = [10.0 + 2 * g for g in range(n_rounds)]
    wl.crawls = [{"res": good, "error": None, "ckpt": str(tmp_path / "c0"),
                  "start": 9.0, "end": commits[-1] + 1, "commits": commits},
                 {"res": bad, "error": None, "ckpt": str(tmp_path / "c1"),
                  "start": 9.0, "end": commits[-1] + 1, "commits": commits},
                 {"res": None, "error": "RuntimeError: boom", "ckpt": str(tmp_path / "c2")}]
    wl.generate()
    problems = wl.check(None)
    attempted, failed = wl.counts()
    assert (attempted, failed) == (3, 2)
    assert any("results" in p for p in problems)
    assert any("boom" in p for p in problems)

    # throughput counts only the checked crawl: fetched + records of
    # rounds >= 1, over round 0's commit to the crawl's end
    def items(g):
        return counters.get((g, "fetched"), 0) + counters.get((g, "records"), 0)
    e2e = wl.end_to_end(cpu_s=3.0)
    steady = sum(items(g) for g in range(1, n_rounds))
    assert e2e["items_per_s"] == pytest.approx(steady / (commits[-1] + 1 - commits[0]))
    assert e2e["cpu_s_per_kitem"] == pytest.approx(
        3.0 / (sum(items(g) for g in range(n_rounds)) / 1000))
    assert e2e["round_s_p50"] == pytest.approx(2.0 if n_rounds > 2 else 1.5)


def test_digest_ignores_row_order_and_zero_counters():
    rows = [{"source": "mirror", "url": f"u{i}", "title": "t", "author": None,
             "location": None, "published": None, "text": "x", "extra": {"a": 1},
             "gen": 1} for i in range(3)]
    a = crawl_digest(rows, {(0, "fetched"): 3, (0, "errors"): 0}, {"u0", "u1"})
    b = crawl_digest(rows[::-1], {(0, "fetched"): 3}, {"u1", "u0"})
    assert a == b


def test_oracle_digest_is_cached(tmp_path):
    web = Web(SMALL, 3)
    pages = str(tmp_path / "pages.parquet")
    write_pages(web, pages)
    path = str(tmp_path / "o.json")
    first = oracle_digest(web, pages_path=pages, budget_per_host=4,
                          max_rounds=6, robots=True, cache_path=path)
    assert os.path.exists(path)
    os.remove(pages)    # a cached digest needs no pages
    assert oracle_digest(web, pages_path=pages, budget_per_host=4,
                         max_rounds=6, robots=True, cache_path=path) == first
