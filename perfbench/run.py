"""siren_spark benchmark: seeded crawl workloads on local[4].

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
and cached under ``.bench_cache/``; the program receives only the
generated tables. One run: generate (or reuse) the inputs, set up
(start Spark, load the inputs, warm up), run at least two crawls and
until ``--seconds`` have passed, check every output against the oracle
crawl, and print the metrics. The last stdout line is one JSON object;
with ``--trace 0`` it carries the end-to-end metrics, with ``--trace 1``
the per-layer ones.
Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
MASTER = "local[4]"
DRIVER_MEM = "2g"


def _environment() -> None:
    """Keep every file the run writes inside the checkout, fit the JVM
    into a 15 GB box, and let Python workers import the package
    whatever their working directory."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher JVM would write a perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)


def _session(app: str):
    from siren_spark.session import get_spark

    # The heap grows on demand up to DRIVER_MEM, so peak RSS sees it.
    # C1 only: in runs this short, C2 compiling in the background moved
    # crawl times by about 10 % from run to run and doubled the text-ops
    # CPU. C1 alone gets a 48 MB code cache, which fills in a traced run
    # and then stops all compiling. No perf-data file: it would land in
    # /tmp.
    java_opts = [f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')}",
                 "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
                 "-XX:-UsePerfData"]
    spark = get_spark(MASTER, app_name=app, shuffle_partitions=4, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(CACHE, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join(java_opts),
        "spark.sql.files.maxPartitionBytes": str(3 * 1024 * 1024),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark, proc) -> None:
    """Stop Spark, end the JVM and wait until no child process is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.terminate()
            jvm.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while proc.children() and time.time() < deadline:
        time.sleep(0.1)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class CrawlWorkload:
    """Crawls over a seeded web, read through ``BucketedParquetPageStore``
    (``bucketed``) or ``ParquetPageStore``. ``textops_layer`` adds the
    text-ops query timings to the traced run."""

    fetch_buckets = 4
    min_crawls = 2

    def __init__(self, name: str, params, cfg_kwargs: dict, seed: int,
                 bucketed: bool, textops_layer: bool = False):
        from siren_spark.crawl import CrawlConfig

        from perfbench.webgen import Web

        self.name = name
        self.params = params
        self.seed = seed
        self.web = Web(params, seed)
        self.cfg = CrawlConfig(**cfg_kwargs)
        self.key = params.key(seed)
        self.bucketed = bucketed
        self.textops_layer = textops_layer
        self.dir = os.path.join(
            CACHE, f"web-{self.key}-b{self.fetch_buckets if bucketed else 0}")
        self.table = f"pb_{self.key}"
        self.crawls: list[dict] = []

    # -- inputs --------------------------------------------------------------
    def generated(self) -> bool:
        return os.path.exists(os.path.join(self.dir, "done.json"))

    def generate(self) -> None:
        """One-time input generation, cached on disk: pages, seeds and
        robots as parquet, and the oracle crawl's digest. For the
        bucketed store the raw pages are ingested into the bucketed
        table by a child process with a Spark of its own (started while
        the pages are written), so that set-up in the measuring process
        starts from a cold JVM whether the inputs were cached or not."""
        if self.generated():
            self._oracle()    # cached digest
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        child = None
        if self.bucketed:
            child = subprocess.Popen(
                [sys.executable, "-c", "import sys; from perfbench.run import "
                 "ingest_child; sys.exit(ingest_child(sys.argv[1], int(sys.argv[2])))",
                 self.name, str(self.seed)],
                cwd=ROOT, stdin=subprocess.PIPE, text=True)
        try:
            self._write_raw()
            if child is not None:
                child.stdin.write("go\n")
                child.stdin.flush()
            self._oracle()
        finally:
            if child is not None:
                child.stdin.close()    # without "go": the child stops
                rc = child.wait()
        if child is not None:
            if rc != 0:
                raise RuntimeError(f"bucketed ingest exited with {rc}")
            os.remove(self._pages_path())
        with open(os.path.join(self.dir, "done.json"), "w") as f:
            json.dump({"params": self.params.__dict__, "seed": self.seed,
                       "pages": self.web.n_pages()}, f)

    def _pages_path(self) -> str:
        return os.path.join(
            self.dir, "raw_pages.parquet" if self.bucketed else "pages.parquet")

    def _oracle(self) -> None:
        from perfbench.checks import oracle_digest

        self.want = oracle_digest(
            self.web, pages_path=self._pages_path(),
            budget_per_host=self.cfg.budget_per_host,
            max_rounds=self.cfg.max_rounds, robots=self.params.robots,
            cache_path=os.path.join(
                self.dir, f"oracle-b{self.cfg.budget_per_host}-r{self.cfg.max_rounds}.json"))

    def _write_raw(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from perfbench.webgen import write_pages

        write_pages(self.web, self._pages_path())
        seeds = self.web.seed_urls()
        pq.write_table(pa.table({
            "url": [u for u, _s in seeds],
            "keyword": ["crisis"] * len(seeds),
            "source": [s for _u, s in seeds],
            "meta": pa.array([[("keyword", "crisis")]] * len(seeds),
                             pa.map_(pa.string(), pa.string())),
        }), os.path.join(self.dir, "seeds.parquet"))
        if self.params.robots:
            rows = self.web.robots_rows()
            pq.write_table(pa.table({"domain": [r["domain"] for r in rows],
                                     "rules": [r["rules"] for r in rows]}),
                           os.path.join(self.dir, "robots.parquet"))

    def ingest(self, spark) -> None:
        """Write the raw pages into the bucketed pages table."""
        from siren_spark.sources.pages import BucketedParquetPageStore

        BucketedParquetPageStore(self.table, buckets=self.fetch_buckets,
                                 path=os.path.join(self.dir, "pages")).write(
            spark.read.parquet(self._pages_path()))

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        from siren_spark.functions.udfs import canonicalize_udf
        from siren_spark.sources.pages import (
            BucketedParquetPageStore, ParquetPageStore,
        )

        if self.bucketed:
            self.pages = BucketedParquetPageStore(
                self.table, buckets=self.fetch_buckets,
                path=os.path.join(self.dir, "pages")).read(spark)
        else:
            self.pages = ParquetPageStore(
                os.path.join(self.dir, "pages.parquet")).read(spark)
        self.seeds = spark.read.parquet(os.path.join(self.dir, "seeds.parquet"))
        self.robots = (spark.read.parquet(os.path.join(self.dir, "robots.parquet"))
                       if self.params.robots else None)
        # warm-up: first-touch scan of the corpus and one Python-UDF job
        # (spawns the workers the crawl's UDFs reuse)
        self.pages.select(F.length("html")).write.format("noop").mode("overwrite").save()
        spark.range(0, 16, 1, 4).select(canonicalize_udf(
            F.concat(F.lit("https://w.example/"), F.col("id").cast("string")))) \
            .write.format("noop").mode("overwrite").save()

    # -- timed window ----------------------------------------------------------
    def measure(self, spark, seconds: float, clock, tracer) -> None:
        from siren_spark.crawl import run_crawl

        t_window = time.time()
        while (len(self.crawls) < self.min_crawls
               or time.time() - t_window < seconds):
            ck = os.path.join(CACHE, f"ckpt-{os.getpid()}-{len(self.crawls)}")
            shutil.rmtree(ck, ignore_errors=True)
            n_spans = len(tracer.spans) if tracer else 0
            n_commits = len(clock.ends)
            t0 = time.time()
            rec = {"ckpt": ck, "start": t0, "error": None}
            try:
                rec["res"] = run_crawl(spark, self.pages, self.seeds, self.cfg, ck,
                                       robots=self.robots)
            except Exception as e:   # noqa: BLE001 — counted in error_rate
                rec["error"] = f"{type(e).__name__}: {str(e)[:200]}"
            rec["end"] = time.time()
            rec["commits"] = clock.ends[n_commits:]
            if tracer:
                tracer.collect_stage_metrics(final=True)
            rec["spans"] = tracer.spans[n_spans:] if tracer else []
            self.crawls.append(rec)

    # -- checks ----------------------------------------------------------------
    def check(self, spark) -> list[str]:
        from perfbench.checks import (
            crawl_digest, digest_mismatches, engine_outputs,
        )

        problems = []
        for i, rec in enumerate(self.crawls):
            if rec["error"] is not None:
                problems.append(f"crawl {i} raised {rec['error']}")
                rec["ok"] = False
                continue
            results, counters, seen = engine_outputs(rec["res"])
            bad = digest_mismatches(crawl_digest(results, counters, seen), self.want)
            if any(g >= len(rec["commits"]) for g, _m in counters):
                bad.append("round commits")
            # items per round from the checked counters: URLs fetched
            # (= scheduled) plus records extracted
            rec["items"] = [counters.get((g, "fetched"), 0) + counters.get((g, "records"), 0)
                            for g in range(len(rec["commits"]))]
            rec["ok"] = not bad
            if bad:
                problems.append(f"crawl {i}: {', '.join(bad)} differ from the oracle")
        return problems

    def cleanup(self) -> None:
        for rec in self.crawls:
            shutil.rmtree(rec["ckpt"], ignore_errors=True)

    # -- metrics ---------------------------------------------------------------
    def counts(self) -> tuple[int, int]:
        return len(self.crawls), sum(1 for r in self.crawls if not r.get("ok"))

    def _checked(self) -> list[dict]:
        return [r for r in self.crawls if r.get("ok")]

    @staticmethod
    def round_walls(rec: dict) -> list[float]:
        """Round wall times, delimited from outside by the commits."""
        edges = [rec["start"]] + rec["commits"]
        return [b - a for a, b in zip(edges, edges[1:])]

    def end_to_end(self, cpu_s: float) -> dict[str, float]:
        """Rounds are delimited by the times the commits returned and
        items are counted from the checked counters: nothing here
        relies on the program's own timers. The steady window runs
        from round 0's commit to the return of ``run_crawl``."""
        good = self._checked()
        steady_items = sum(sum(r["items"][1:]) for r in good)
        steady_s = sum(r["end"] - r["commits"][0] for r in good if r["commits"])
        all_items = self.items()
        return {
            "items_per_s": steady_items / steady_s if steady_s else 0.0,
            "cpu_s_per_kitem": cpu_s / (all_items / 1000) if all_items else 0.0,
            # printed in the readable block; per-layer metrics in traces
            "round_s_p50": _median([w for r in good for w in self.round_walls(r)]),
            "crawl_s": _median([r["end"] - r["start"] for r in good]),
        }

    def items(self) -> int:
        return sum(sum(r["items"]) for r in self._checked())

    def per_layer(self, tracer) -> dict[str, float]:
        from perfbench.metrics import CRAWL_TABLES, PHASE_FIELDS, PHASES
        from perfbench.trace import round_accounting

        out: dict[str, float] = {}
        good = self._checked()
        n_rounds = sum(len(r["commits"]) for r in good) or 1
        gaps, sched, annotated = [], 0, 0
        for r in good:
            gaps += [row["gap"] for row in round_accounting(r["spans"], r["start"])]
            for s in r["spans"]:
                if s.name == "write_round":
                    by = s.attrs.get("by_status", {})
                    sched += by.get("scheduled", 0)
                    annotated += sum(by.values())
        out["crawl.rounds"] = n_rounds / max(len(good), 1)
        out["crawl.round_s_p50"] = _median(
            [w for r in good for w in self.round_walls(r)])
        out["crawl.crawl_s"] = _median([r["end"] - r["start"] for r in good])
        out["crawl.driver_gap_s"] = sum(gaps) / n_rounds
        out["crawl.sched_ratio"] = sched / annotated if annotated else 0.0
        spans = [s for r in good for s in r["spans"]]
        for t in CRAWL_TABLES:
            mine = [s for s in spans if s.name == f"stage_table:{t}"]
            out[f"checkpoint.stage_s.{t}"] = sum(s.end - s.start for s in mine) / n_rounds
            out[f"checkpoint.bytes.{t}"] = sum(s.attrs.get("bytes", 0) for s in mine) / n_rounds
        out["checkpoint.commit_s"] = sum(
            s.end - s.start for s in spans if s.name == "write_round") / n_rounds
        for p in PHASES:
            acc = tracer.stage_metrics.get(p, {})
            for f, _unit in PHASE_FIELDS:
                out[f"{p}.{f}"] = acc.get(f, 0.0) / n_rounds
        return out

    def micro(self, spark, tracer) -> dict[str, float]:
        from perfbench.micro import python_layers, spark_layers, textops_layers

        out = python_layers(self.web, self.seed)
        out.update(spark_layers(spark, self.web, self.pages, self.cfg, self.seed))
        if self.textops_layer:
            out.update(textops_layers(spark, CACHE, self.seed, tracer))
        return out


# salt, Bloom and fetch buckets sized for local[4]
SMALL_BOX = {"salt_buckets": 4, "bloom_buckets": 4}


def ingest_child(name: str, seed: int) -> int:
    """Child process of ``CrawlWorkload.generate``: starts Spark, waits
    for "go" on stdin (the raw pages are written), ingests them into the
    bucketed table and stops Spark."""
    from perfbench.trace import ProcTree

    _environment()
    spark = _session(f"perfbench_ingest_{name}")
    try:
        if sys.stdin.readline().strip() != "go":
            return 1
        make_workload(name, seed).ingest(spark)
    finally:
        _shutdown(spark, ProcTree())
    return 0


def make_workload(name: str, seed: int):
    from perfbench.webgen import WebParams

    if name == "crawl_bulk":
        return CrawlWorkload(
            name, WebParams(n_index=240, links=30, waves=2, n_domains=200,
                            phantom=True), {
                # throughput mode: politeness unthrottled, no robots
                "budget_per_host": 1_000_000_000,
                **SMALL_BOX, "fetch_join": "bucketed",
            }, seed, bucketed=True, textops_layer=True)
    if name == "crawl_polite":
        return CrawlWorkload(
            name, WebParams(n_index=200, links=20, waves=2, n_domains=20,
                            phantom=True, robots=True), {
                # the reference budget (config.toml:10) binds on most
                # domains in every round, so the deferred backlog grows;
                # compaction every 2 rounds so seen and headline
                # compaction fire in round 2
                "budget_per_host": 50, "max_rounds": 3,
                "seen_compact_every": 2, **SMALL_BOX,
            }, seed, bucketed=False)
    raise SystemExit(f"unknown workload {name!r}")


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_bulk", "crawl_polite"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "siren_spark"))
            and os.path.exists(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: no siren_spark checkout next to perfbench/", file=sys.stderr)
        return 2
    _environment()

    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import (
        CommitClock, ProcTree, Tracer, host_jiffies, steal_pct,
    )

    proc = ProcTree()
    wl = make_workload(args.workload, args.seed)
    # one-time input generation is kept off the set-up clock
    cached = wl.generated()
    t0 = time.time()
    wl.generate()
    gen_s = time.time() - t0

    # set-up: process start to the timed window, less input generation
    spark = _session(f"perfbench_{args.workload}")
    wl.load(spark)

    clock = CommitClock()
    clock.install()
    tracer = Tracer(spark.sparkContext) if args.trace else None
    if tracer:
        tracer.install()

    t_window = time.time()
    setup_s = t_window - T_PROCESS - gen_s
    proc.start_sampling()
    cpu0, jiff0 = proc.cpu(), host_jiffies()
    wl.measure(spark, args.seconds, clock, tracer)
    cpu1, jiff1 = proc.cpu(), host_jiffies()
    proc.stop_sampling()
    window_s = time.time() - t_window
    if tracer:
        tracer.uninstall()
    clock.uninstall()

    t_check = time.time()
    problems = wl.check(spark)
    check_s = time.time() - t_check
    attempted, failed = wl.counts()
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    e2e = wl.end_to_end(sum(cpu.values()))

    layer: dict[str, float] = {}
    if args.trace:
        kitems = wl.items() / 1000 or 1.0
        layer.update(wl.per_layer(tracer))
        layer.update(wl.micro(spark, tracer))
        layer["proc.jvm_cpu_s"] = cpu["jvm"] / kitems
        layer["proc.pyworker_cpu_s"] = cpu["pyworker"] / kitems
        layer["proc.driver_py_cpu_s"] = cpu["driver_py"] / kitems
        layer["host.steal_pct"] = steal_pct(jiff0, jiff1)
        layer["trace.items_per_s"] = e2e["items_per_s"]
        tracer.dump(os.path.join(CACHE, "spans",
                                 f"{args.workload}-seed{args.seed}.json"))

    wl.cleanup()
    _shutdown(spark, proc)
    e2e["peak_rss_mb"] = proc.peak_rss / 2**20
    e2e["setup_s"] = setup_s

    if args.trace:
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u, _b, _m in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u, _b, _bd, _d in END_TO_END}

    alias = {"items_per_s": "urls_per_s", "cpu_s_per_kitem": "cpu_s_per_kurl"}
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"window={window_s:.1f}s master={MASTER}")
    for n, u, _b, _bd, _d in END_TO_END:
        print(f"  {alias.get(n, n):<18} {e2e[n]:>12.4f} {u:<5} ({n})")
    for n in ("round_s_p50", "crawl_s"):
        print(f"  {n:<18} {e2e[n]:>12.4f} s")
    print(f"  {'crawls':<18} " + " ".join(
        f"{r['end'] - r['start']:.2f}s" for r in wl.crawls))
    print(f"  {'error_rate':<18} {failed / max(attempted, 1):>12.4f} ratio "
          f"({failed}/{attempted})")
    print(f"  {'bench.gen_s':<18} {gen_s:>12.4f} s     "
          f"({'cached inputs' if cached else 'inputs generated'})")
    print(f"  {'bench.check_s':<18} {check_s:>12.4f} s     (output checks)")
    print(f"  {'bench.run_s':<18} {time.time() - T_PROCESS:>12.4f} s     (whole run)")
    for p in problems:
        print(f"  CHECK FAILED: {p}")
    print(json.dumps({"correct": not problems and failed == 0,
                      "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
