"""Layer spans for the traced run, measured from outside the engine.

The traced run wraps two module attributes of ``plans.bfs``
(``with_global_seq`` and ``extract_round_outputs``) and hands the engine
benchmark-owned subclasses of the seen filter, the scheduler and the store.
Every wrapper first materializes its input DataFrame — lazy frontier work
(F1 dedup window, J1 anti-join, fetch join) is charged to ``plans.bfs`` as
``bfs.frontier_chain`` — then calls the layer and materializes its output
inside the layer's own span, so each span holds the layer's Spark work.

Spans (name, start, end, parent, round, iteration) stay in memory and are
written out as JSON lines when the run ends. Leaf spans run one after the
other on the driver, so per round the leaf self-times plus
``bfs.driver_gap`` (the remainder) add up to the round's wall time.

Round boundaries, in traced and untraced iterations alike, are the calls
into ``with_global_seq`` (one per round): round r runs from its call to the
next one, the first round of an engine call starts with the call and the
last ends with it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from geospatial_web_scraper_spark.operators.politeness import PolitenessScheduler
from geospatial_web_scraper_spark.operators.seen import ShardedBloomSeenFilter
from geospatial_web_scraper_spark.plans import bfs
from geospatial_web_scraper_spark.plans.store import SnapshotStore

from workloads import Components

# leaf spans that are layer work; "trace.stats" is the tracer's own counting
LAYER_SPANS = (
    "bfs.frontier_chain", "ordering.seq", "extract", "seen.split",
    "seen.update", "politeness.apply", "store.write", "store.commit",
    "store.read_series",
)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.boundaries: list[float] = []  # with_global_seq call times
        self.counts: dict[str, float] = {}
        self.iteration = -1
        self.traced = False
        self._stack: list[int] = []

    def begin_iteration(self, traced: bool) -> None:
        self.iteration += 1
        self.traced = traced
        self.boundaries = []
        self.counts = {}

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "round": len(self.boundaries) - 1,
            "iteration": self.iteration,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def materialize(self, df, name: str = "bfs.frontier_chain"):
        """Run ``df``'s pending work now, inside span ``name``; later
        consumers read the checkpointed rows instead of recomputing."""
        with self.span(name):
            return df.localCheckpoint(eager=True)

    def count(self, df, *aggs):
        with self.span("trace.stats"):
            return df.agg(F.count(F.lit(1)), *aggs).first()

    def iteration_spans(self) -> list[dict]:
        return [s for s in self.spans if s["iteration"] == self.iteration]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ----------------------------------------------------------- engine wrappers
@contextmanager
def installed(tracer: Tracer):
    """Patch ``plans.bfs`` for one iteration. Untraced iterations only
    record round boundaries (one clock read per round); traced ones also
    materialize and time the ordering and extraction layers."""
    orig_seq = bfs.with_global_seq
    orig_extract = bfs.extract_round_outputs

    def with_global_seq(df, order_cols, *args, **kwargs):
        tracer.boundaries.append(time.perf_counter())
        if not tracer.traced:
            return orig_seq(df, order_cols, *args, **kwargs)
        df = tracer.materialize(df)
        with tracer.span("ordering.seq"):
            out, n = orig_seq(df, order_cols, *args, **kwargs)
            out = out.localCheckpoint(eager=True)
        tracer.add("ordering.rows", n)
        return out, n

    def extract_round_outputs(fetched, *args, **kwargs):
        if not tracer.traced:
            return orig_extract(fetched, *args, **kwargs)
        fetched = tracer.materialize(fetched)
        with tracer.span("extract"):
            out = orig_extract(fetched, *args, **kwargs)
            out = out.localCheckpoint(eager=True)
        pages = tracer.count(fetched, F.sum(F.length("html")))
        links = tracer.count(out.filter(F.col("kind") == 1))
        tracer.add("extract.pages_in", pages[0])
        tracer.add("extract.html_bytes_in", pages[1] or 0)
        tracer.add("extract.links_out", links[0])
        return out

    bfs.with_global_seq = with_global_seq
    bfs.extract_round_outputs = extract_round_outputs
    try:
        yield
    finally:
        bfs.with_global_seq = orig_seq
        bfs.extract_round_outputs = orig_extract


def traced_components(tracer: Tracer) -> Components:
    """Subclasses of the pluggable layers that record spans and counts."""

    class TracedSeenFilter(ShardedBloomSeenFilter):
        def split(self, df, url_col="url"):
            df = tracer.materialize(df)
            with tracer.span("seen.split"):
                new, maybe = super().split(df, url_col)
                new = new.localCheckpoint(eager=True)
                maybe = maybe.localCheckpoint(eager=True)
            n_new = tracer.count(new)[0]
            tracer.add("seen.definitely_new", n_new)
            tracer.add("seen.probed", n_new + tracer.count(maybe)[0])
            return new, maybe

        def update(self, urls, url_col="url"):
            urls = tracer.materialize(urls)
            with tracer.span("seen.update"):
                super().update(urls, url_col)

    class TracedScheduler(PolitenessScheduler):
        def apply(self, df, rnd):
            df = tracer.materialize(df)
            with tracer.span("politeness.apply"):
                out = super().apply(df, rnd).localCheckpoint(eager=True)
                if self.deferred is not None:
                    self.deferred = self.deferred.localCheckpoint(eager=True)
            tracer.add("politeness.admitted", tracer.count(out)[0])
            if self.deferred is not None:
                tracer.add("politeness.deferred",
                           tracer.count(self.deferred)[0])
            return out

    class TracedStore(SnapshotStore):
        def write(self, name, df, rnd):
            df = tracer.materialize(df)
            with tracer.span("store.write"):
                super().write(name, df, rnd)

        def commit(self, rnd, meta):
            with tracer.span("store.commit"):
                super().commit(rnd, meta)

        def read_series(self, name, upto):
            with tracer.span("store.read_series"):
                return [
                    p.localCheckpoint(eager=True)
                    for p in super().read_series(name, upto)
                ]

    return Components(TracedStore, TracedSeenFilter, TracedScheduler)


# -------------------------------------------------------------- round clocks
def round_walls(phases, boundaries: list[float]) -> list[tuple[float, float]]:
    """(start, end) of every round: inside each engine call, rounds start at
    the with_global_seq calls, the first at the call's start and the last
    ending at its end."""
    rounds = []
    for ph in phases:
        inner = [b for b in boundaries if ph.start <= b <= ph.end]
        if not inner:
            continue
        edges = [ph.start] + inner[1:] + [ph.end]
        rounds.extend(zip(edges[:-1], edges[1:]))
    return rounds


def layer_times(spans: list[dict], rounds) -> tuple[dict, float]:
    """Per-layer self time summed over ``rounds`` (leaf spans starting in a
    round) and the driver gap: round wall time not covered by leaf spans."""
    leaves = [s for s in spans if s["name"] in LAYER_SPANS + ("trace.stats",)]
    totals = {name: 0.0 for name in LAYER_SPANS + ("trace.stats",)}
    gap = 0.0
    for start, end in rounds:
        covered = 0.0
        for s in leaves:
            if start <= s["start"] < end:
                d = s["end"] - s["start"]
                totals[s["name"]] += d
                covered += d
        gap += (end - start) - covered
    return totals, gap


# ---------------------------------------------------------- jobs and tasks
def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks run) of one job group, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
    return len(jobs), tasks


# -------------------------------------------------------------- memory peak
def _ppid(pid) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _exe(pid) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _vfork_child(pid: int) -> bool:
    """A process the JVM spawned that has not yet exec'd its program: it
    still shares the JVM's address space, so counting it would count the
    JVM's memory twice."""
    exe = _exe(pid)
    return exe.endswith("/java") and exe == _exe(_ppid(pid))


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @staticmethod
    def descendants() -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                children.setdefault(_ppid(d), []).append(int(d))
        out, todo = [], list(children.get(os.getpid(), ()))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + self.descendants():
            if _vfork_child(pid):
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)
