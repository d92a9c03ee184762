"""Layer micro-timings for the traced crawl runs.

Each timing calls one public function of the program directly on inputs
the benchmark generated: ``kernels.parse_page``, ``urls``,
``operators.robots.RobotsMatcher``, ``operators.seen``,
``crawl.prepare_pages`` (a noop scan of ``html``),
``functions.udfs.extract_pages`` and the twelve headline
``__spark_entry__`` queries. Every figure is the median of three
repetitions.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench.webgen import Web


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _sample_ids(lo: int, hi: int, k: int, seed: int) -> list[int]:
    rng = np.random.default_rng(seed)
    n = hi - lo
    return sorted(int(x) + lo for x in rng.choice(n, size=min(k, n), replace=False))


def python_layers(web: Web, seed: int) -> dict[str, float]:
    from siren_spark.kernels import parse_page
    from siren_spark.operators.robots import RobotsMatcher
    from siren_spark.urls import canonicalize_url, registrable_domain

    p = web.p
    kinds = {
        "mirror_index": _sample_ids(0, p.n_index, 50, seed),
        "mirror_article": _sample_ids(p.n_index, p.n_index + web.n_articles, 500, seed),
        "toi": _sample_ids(p.n_index + web.n_articles,
                           p.n_index + web.n_articles + web.n_toi, 20, seed),
    }
    out: dict[str, float] = {}
    links: list[str] = []
    for kind, ids in kinds.items():
        pages = [pg for pg in (web.page(i) for i in ids) if pg is not None]
        if kind == "mirror_index":
            for url, html in pages:
                links += [ln.url for ln in parse_page(url, html, {}).links]

        def run(pages=pages):
            for url, html in pages:
                parse_page(url, html, {})
        out[f"kernels.parse_us.{kind}"] = _median_time(run) / len(pages) * 1e6

    urls = links[:4000]
    canon = [canonicalize_url(u) for u in urls]
    out["urls.canonicalize_us"] = _median_time(
        lambda: [canonicalize_url(u) for u in urls]) / len(urls) * 1e6
    out["urls.domain_us"] = _median_time(
        lambda: [registrable_domain(u) for u in canon]) / len(canon) * 1e6

    matcher = RobotsMatcher([(r["domain"], r["rules"]) for r in web.robots_rows()])
    doms = [registrable_domain(u) for u in canon]
    out["robots.allowed_us"] = _median_time(
        lambda: [matcher.allowed(d, u) for d, u in zip(doms, canon)]) / len(canon) * 1e6
    return out


def spark_layers(spark, web: Web, pages, cfg, seed: int) -> dict[str, float]:
    from pyspark.sql import functions as F

    from siren_spark.crawl import prepare_pages
    from siren_spark.functions.udfs import extract_pages
    from siren_spark.operators.seen import build_bloom

    out: dict[str, float] = {}
    scan = prepare_pages(pages, cfg).select(F.length("html").alias("n"))
    out["pages.scan_s"] = _median_time(
        lambda: scan.write.format("noop").mode("overwrite").save())

    # ~1000 fetched pages, cached, through the extract UDF
    total = web.n_pages()
    frac = min(1.0, 1000 / max(total, 1))
    fetched = (pages.sample(fraction=frac, seed=seed)
               .select("url", "html",
                       F.create_map(F.lit("keyword"), F.lit("crisis")).alias("meta"))
               .cache())
    n = fetched.count()
    ex = extract_pages(fetched)
    out["udfs.extract_s_per_kpage"] = _median_time(
        lambda: ex.write.format("noop").mode("overwrite").save()) / max(n, 1) * 1000
    fetched.unpersist()

    keys = pages.select("url_canon")
    t0 = time.perf_counter()
    bloom = build_bloom(keys, "url_canon", bits_per_bucket=cfg.bloom_bits,
                        buckets=cfg.bloom_buckets)
    out["seen.bloom_build_s"] = time.perf_counter() - t0
    # probe cost does not depend on which keys hit: any second hash will do
    hashes = keys.select(F.xxhash64("url_canon").alias("h1"),
                         F.xxhash64("url_canon", F.lit(1)).alias("h2")).toPandas()
    h1 = np.tile(hashes["h1"].to_numpy(np.int64), 4)
    h2 = np.tile(hashes["h2"].to_numpy(np.int64), 4)
    out["seen.probe_ns"] = _median_time(
        lambda: bloom.might_contain_np(h1, h2)) / len(h1) * 1e9
    return out


def textops_layers(spark, cache_dir: str, seed: int, tracer) -> dict[str, float]:
    """Wall time and JVM task CPU of each headline query over seeded
    sf0.1-shaped tables: one warm-up pass, then three timed passes."""
    import __spark_entry__ as entry

    from perfbench.metrics import HEADLINE
    from perfbench.tablegen import table_key, write_tables

    scale = 0.1
    data = os.path.join(cache_dir, f"tables-{table_key(scale, seed)}")
    if not os.path.exists(os.path.join(data, "lineitem.parquet")):
        write_tables(data, scale, seed)
    # the entry module memoizes its temp views per session object id
    entry._VIEWS_READY.clear()
    queries = entry.queries()
    sc = spark.sparkContext
    times: dict[str, list[float]] = {q: [] for q in HEADLINE}
    cpu: dict[str, list[float]] = {q: [] for q in HEADLINE}
    for rep in range(4):
        for q in HEADLINE:
            group = f"perfbench:q:{q}:{rep}"
            sc.setLocalProperty("spark.jobGroup.id", group)
            t0 = time.perf_counter()
            queries[q](spark, data).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            if rep:
                times[q].append(dt)
                cpu[q].append(tracer.group_jvm_cpu_s(group))
    out = {}
    for q in HEADLINE:
        out[f"textops.q.{q}_s"] = statistics.median(times[q])
        out[f"textops.q.{q}.jvm_cpu_s"] = statistics.median(cpu[q])
    return out
