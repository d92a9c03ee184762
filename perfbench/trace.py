"""Outside-in tracing: spans around the program's public entry points,
Spark task metrics per job group, and process-tree CPU/RSS from /proc.

Nothing here edits the program. ``Tracer.install`` swaps four public
callables for timing wrappers (``CheckpointStore.stage_table`` /
``write_round`` and ``siren_spark.crawl.build_bloom`` / ``merge_blooms``)
and ``uninstall`` puts the originals back. Each wrapped call runs under
its own Spark job group, set in the calling thread (the crawl stages
tables from a thread pool, and pinned-thread mode keeps job groups
thread-local), so the status store can attribute every stage to the
call that launched it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

# checkpoint table -> crawl phase (ROADMAP: annotate / fetch+extract /
# derived writes / bloom / compaction)
PHASE_OF_TABLE = {
    "frontier_ann": "annotate",
    "extracted": "fetch_extract",
    "results": "derived",
    "counters": "derived",
    "bloom": "bloom",
    "seen_compact": "compact",
    "hl_compact": "compact",
}


@dataclass
class Span:
    name: str               # e.g. stage_table:extracted, write_round, build_bloom
    start: float
    end: float
    thread: str
    gen: int | None = None
    group: str | None = None   # Spark job group of the call
    parent: str | None = None  # enclosing span on the same thread
    attrs: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class CommitClock:
    """The wall time at which each ``CheckpointStore.write_round`` call
    returned, in call order. It delimits the crawl's rounds from
    outside, in untraced runs too; installed before the ``Tracer``, so
    the tracer's own bookkeeping after a commit is not inside it."""

    def __init__(self):
        self.ends: list[float] = []
        self._orig = None

    def install(self) -> None:
        from siren_spark.operators.checkpoint import CheckpointStore

        orig = self._orig = CheckpointStore.write_round
        ends = self.ends

        def write_round(store, *args, **kwargs):
            out = orig(store, *args, **kwargs)
            ends.append(time.time())
            return out
        CheckpointStore.write_round = write_round

    def uninstall(self) -> None:
        from siren_spark.operators.checkpoint import CheckpointStore

        CheckpointStore.write_round = self._orig


class Tracer:
    """Span store, wrappers and per-phase task metrics of one Spark
    context."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._seq = 0
        self._local = threading.local()
        self._originals: list[tuple[object, str, object]] = []
        self._pending_groups: dict[str, str] = {}   # group -> phase
        self.stage_metrics: dict[str, dict[str, float]] = {}
        self._seen_stages: set[int] = set()

    # -- spans -----------------------------------------------------------
    def _group(self, phase: str) -> str:
        with self._lock:
            self._seq += 1
            return f"perfbench:{phase}:{self._seq}"

    def _run(self, name: str, phase: str | None, gen: int | None, fn,
             args, kwargs, attrs_after=None):
        group = self._group(phase) if phase else None
        prev_group = None
        if group is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", group)
            with self._lock:
                self._pending_groups[group] = phase
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.time()
            stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
        span = Span(name, t0, t1, threading.current_thread().name, gen,
                    group, parent)
        if attrs_after is not None:
            span.attrs = attrs_after(out)
        with self._lock:
            self.spans.append(span)
        return out

    # -- install -----------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._originals.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        import siren_spark.crawl as crawl_mod
        from siren_spark.operators.checkpoint import CheckpointStore

        tracer = self

        def wrap_stage(orig):
            def stage_table(store, gen, name, df):
                return tracer._run(
                    f"stage_table:{name}", PHASE_OF_TABLE.get(name, "other"),
                    gen, orig, (store, gen, name, df), {},
                    attrs_after=lambda path: {"table": name,
                                              "bytes": _dir_bytes(path)})
            return stage_table

        def wrap_commit(orig):
            def write_round(store, gen, tables, stats=None, staged=None):
                out = tracer._run(
                    "write_round", None, gen, orig,
                    (store, gen, tables), {"stats": stats, "staged": staged},
                    attrs_after=lambda _o: {
                        "by_status": dict((stats or {}).get("by_status", {}))})
                tracer.collect_stage_metrics()
                return out
            return write_round

        def wrap_plain(name, phase):
            def make(orig):
                def wrapper(*args, **kwargs):
                    return tracer._run(name, phase, None, orig, args, kwargs)
                return wrapper
            return make

        self._patch(CheckpointStore, "stage_table", wrap_stage)
        self._patch(CheckpointStore, "write_round", wrap_commit)
        self._patch(crawl_mod, "build_bloom", wrap_plain("build_bloom", "bloom"))
        self._patch(crawl_mod, "merge_blooms", wrap_plain("merge_blooms", None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    # -- Spark task metrics --------------------------------------------------
    def _stages(self, infos):
        """Status-store data of the stages of these jobs that ran."""
        store = self.sc._jsc.sc().statusStore()
        for info in infos:
            for sid in (info.stageIds if info is not None else ()):
                try:
                    yield sid, store.lastStageAttempt(sid)
                except Exception:   # skipped stage: never ran
                    continue

    def collect_stage_metrics(self, final: bool = False) -> None:
        """Fold the finished stages of every pending job group into
        per-phase sums. Runs at each commit: the status store keeps only
        the last ``spark.ui.retainedStages`` stages."""
        tracker = self.sc.statusTracker()
        with self._lock:
            pending = dict(self._pending_groups)
        for group, phase in pending.items():
            job_ids = tracker.getJobIdsForGroup(group)
            infos = [tracker.getJobInfo(j) for j in job_ids]
            done = all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                       for i in infos)
            if not done and not final:
                continue
            acc = self.stage_metrics.setdefault(phase, {
                "task_s": 0.0, "jvm_cpu_s": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0, "tasks": 0.0})
            for sid, sd in self._stages(infos):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                acc["task_s"] += sd.executorRunTime() / 1e3
                acc["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
                acc["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                acc["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / 2**20
                acc["tasks"] += sd.numCompleteTasks()
            with self._lock:
                self._pending_groups.pop(group, None)

    def group_jvm_cpu_s(self, group: str) -> float:
        """JVM task CPU of one finished job group (one text-ops query)."""
        tracker = self.sc.statusTracker()
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        return sum(sd.executorCpuTime() / 1e9 for _sid, sd in self._stages(infos))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ---------------------------------------------------------------------------
# round accounting
# ---------------------------------------------------------------------------

def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def round_windows(spans: list[Span], crawl_start: float) -> list[tuple[float, float]]:
    """Round r spans from the previous commit's end (or the crawl start)
    to the end of its own commit."""
    commits = sorted((s for s in spans if s.name == "write_round"),
                     key=lambda s: s.end)
    out, prev = [], crawl_start
    for c in commits:
        out.append((prev, c.end))
        prev = c.end
    return out


def round_accounting(spans: list[Span], crawl_start: float) -> list[dict]:
    """Per round: wall, the part of it covered by any span, and the
    driver gap (wall covered by no span). covered + gap == wall."""
    rows = []
    for lo, hi in round_windows(spans, crawl_start):
        clipped = [(max(s.start, lo), min(s.end, hi)) for s in spans
                   if s.end > lo and s.start < hi]
        covered = _union_len(clipped)
        rows.append({"wall": hi - lo, "covered": covered,
                     "gap": (hi - lo) - covered})
    return rows


# ---------------------------------------------------------------------------
# /proc: process-tree CPU split and peak RSS
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2:].split()
    return int(rest[1]), rest    # ppid, fields from 'state' on


def _tree(root: int) -> dict[int, list[str]]:
    stats: dict[int, tuple[int, list[str]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(int(d))
            if st is not None:
                stats[int(d)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _f) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver_py"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "other"
    if b"java" in cmd.split(b"\0", 1)[0]:
        return "jvm"
    if b"pyspark" in cmd or b"python" in cmd:
        return "pyworker"
    return "other"


class ProcTree:
    """CPU seconds of the benchmark's process tree, split into the
    driver Python, the JVM, Python workers and anything else. Reaped
    children count through their parent's cutime/cstime, so a worker
    that exits mid-window is not lost."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._kinds: dict[int, str] = {}
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def children(self) -> list[int]:
        return [p for p in _tree(self.root) if p != self.root]

    def _kind_of(self, pid: int) -> str:
        kind = self._kinds.get(pid)
        if kind is None:
            kind = self._kinds[pid] = _kind(pid, self.root)
        return kind

    def cpu(self) -> dict[str, float]:
        out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
        for pid, f in _tree(self.root).items():
            # fields from 'state': utime=11, stime=12, cutime=13, cstime=14
            out[self._kind_of(pid)] += sum(int(x) for x in f[11:15]) / _TICK
        return out

    def rss(self) -> int:
        total = 0
        for pid, f in _tree(self.root).items():
            # a helper the JVM spawns shows the JVM's own pages until it
            # execs (vfork); counting it would add a second JVM
            if self._kind_of(pid) == "jvm" and self._kind_of(int(f[1])) == "jvm":
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total

    def start_sampling(self, every: float = 0.25) -> None:
        def loop():
            while not self._stop.wait(every):
                self.peak_rss = max(self.peak_rss, self.rss())
        self.peak_rss = self.rss()
        self._thread = threading.Thread(target=loop, daemon=True,
                                        name="perfbench-rss")
        self._thread.start()

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_rss = max(self.peak_rss, self.rss())


def host_jiffies() -> dict[str, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    keys = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {k: int(v) for k, v in zip(keys, parts[1:9])}


def steal_pct(before: dict[str, int], after: dict[str, int]) -> float:
    d = {k: after[k] - before[k] for k in before}
    return 100.0 * d["steal"] / max(sum(d.values()), 1)
