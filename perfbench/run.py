"""Crawl-engine benchmark: one workload per invocation, oracle-checked.

Usage (from the repository root)::

    python3 perfbench/run.py --workload wide_round --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics (``urls_per_s``,
``round_s_min``, ``setup_s``, ``peak_rss_mb``; plus ``error_rate``, and
``resume_s`` and ``ingest_s`` on ``polite_resume``, on the summary lines).
The timings are those of the fastest timed iteration, not the median.
CPU time stolen by a shared host only ever adds to a round, and a
``polite_resume`` round (about 50 small Spark jobs) keeps getting faster
through about its sixth iteration as the JIT compiles, so the fastest of a
run's few iterations follows the code more closely than their median.
``--trace 1`` alternates untraced and traced iterations and prints the
per-layer metrics (see tracing.py) and the tracing overhead. The last line
of standard output is always one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

One process, one Spark session at ``local[4]`` on ``wide_round`` and
``local[2]`` on ``polite_resume`` (see ``CORES``), with as many pages
partitions and shuffle partitions as task slots.
Set-up (``setup_s``) is the session start, the pages table generation (and,
on ``polite_resume``, the round-0 crawl into the base snapshot store) and
one untimed warm-up iteration; the oracle runs after it. Every timed
iteration is compared with ``oracle.crawl_oracle``; a mismatch or an
exception counts as a failed iteration and yields no timing sample.
Scratch files (Spark's local dirs, snapshot stores) live under
``.perfbench_work/`` in the repository root and are removed at exit; span
dumps of traced runs stay in ``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
WARMUP_ITERS = 1  # the cold first iteration; never the fastest one
# Timed iterations per run, however long they take. polite_resume rounds
# keep getting faster through about the sixth iteration (the JIT), so its
# fastest is nearly always one of the last, and a second warm-up would
# cost as much as a sample and only drop a candidate. wide_round settles
# by its second iteration. A run takes about 50 s (wide_round) or 70 s
# (polite_resume) on a 4-vCPU host.
SAMPLES = {"wide_round": 3, "polite_resume": 4}
# Spark task slots per workload on the 4-vCPU host. wide_round is
# parse-bound and uses all four. polite_resume runs ~50 small jobs per
# round: at four slots, one busy-looping process beside it made a round 41%
# slower (4 tasks per stage then need two waves on three free cores); at
# two slots it was not slower. wide_round at two slots was 45% slower and
# spread twice as wide between runs.
CORES = {"wide_round": 4, "polite_resume": 2}

END_TO_END_UNITS = {
    "urls_per_s": "1/s",
    "round_s_min": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "bfs.rounds": "count",
    "bfs.jobs_per_round": "count",
    "bfs.tasks_per_round": "count",
    "bfs.frontier_chain_s": "s",
    "bfs.driver_gap_s": "s",
    "bfs.dedup_hit_ratio": "ratio",
    "ordering.seq_s": "s",
    "ordering.rows": "count",
    "extract.s": "s",
    "extract.pages_in": "count",
    "extract.html_mb_in": "MB",
    "extract.links_out": "count",
    "extract.mb_per_s": "MB/s",
    "seen.split_s": "s",
    "seen.update_s": "s",
    "seen.definitely_new_ratio": "ratio",
    "seen.fill_ratio": "ratio",
    "politeness.apply_s": "s",
    "politeness.admitted": "count",
    "politeness.deferred": "count",
    "politeness.defer_ratio": "ratio",
    "store.write_s": "s",
    "store.commit_s": "s",
    "store.read_series_s": "s",
    "store.snapshot_mb": "MB",
    "store.files": "count",
    "store.resume_s": "s",
    "store.ingest_s": "s",
    "trace.stats_s": "s",
    "trace.overhead": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=tuple(CORES))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def start_spark(work: str, cores: int = 4):
    from geospatial_web_scraper_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return get_spark(
        app="perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            # a fixed, pre-touched heap keeps the JVM's resident size
            # independent of when the garbage collector grows the heap
            "spark.driver.memory": "1g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark, sampler) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    pids = sampler.descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class Bench:
    """Runs iterations of one workload: each under its own Spark job group,
    untraced or traced, followed by the oracle check."""

    def __init__(self, spark, workload, tracer):
        import tracing
        from workloads import Components

        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.tracing = tracing
        self.plain = Components()
        self.traced = tracing.traced_components(tracer)

    def iteration(self, traced: bool, want=None):
        """One iteration; returns (outcome, errors, rounds, jobs, tasks)."""
        from workloads import check

        tr = self.tracer
        tr.begin_iteration(traced)
        sc = self.spark.sparkContext
        group = f"perfbench-{tr.iteration}"
        sc.setJobGroup(group, "crawl")
        with self.tracing.installed(tr):
            out = self.wl.run_once(self.traced if traced else self.plain)
        sc.setJobGroup(f"{group}-check", "oracle check")
        jobs, tasks = self.tracing.job_counts(self.spark, group)
        rounds = self.tracing.round_walls(out.phases, tr.boundaries)
        if out.ingest_s is not None:
            # resume's read side: store reads, bloom rebuild, seed
            # anti-join and the round's work up to its seq assignment
            start = out.phases[0].start
            out.resume_s = min(b for b in tr.boundaries if b >= start) - start
        self.wl.finish(out, lineage=traced)
        errors = check(out, want) if want is not None else []
        return out, errors, rounds, jobs, tasks


def layer_metrics(bench, samples, untraced):
    """Per-layer medians over traced iterations; job counts come from the
    untraced iterations of the same run."""
    tracing = bench.tracing

    per_iter = []
    for out, rounds, spans, counts in samples:
        totals, gap = tracing.layer_times(spans, rounds)
        parts = out.engine_parts
        lin = [r for r in out.lineage if r[1] == -1 and r[5] >= 0]
        cand = sum(r[5] for r in lin)
        m = {
            "bfs.rounds": len(rounds),
            "bfs.frontier_chain_s": totals["bfs.frontier_chain"],
            "bfs.driver_gap_s": gap,
            "bfs.dedup_hit_ratio": sum(r[4] for r in lin) / cand if cand else 0.0,
            "ordering.seq_s": totals["ordering.seq"],
            "ordering.rows": counts.get("ordering.rows", 0),
            "extract.s": totals["extract"],
            "extract.pages_in": counts.get("extract.pages_in", 0),
            "extract.html_mb_in": counts.get("extract.html_bytes_in", 0) / 1e6,
            "extract.links_out": counts.get("extract.links_out", 0),
            "seen.split_s": totals["seen.split"],
            "seen.update_s": totals["seen.update"],
            "seen.fill_ratio": (
                parts["seen_filter"].fill_ratio() if "seen_filter" in parts else 0.0
            ),
            "politeness.apply_s": totals["politeness.apply"],
            "politeness.admitted": counts.get("politeness.admitted", 0),
            "politeness.deferred": counts.get("politeness.deferred", 0),
            "store.write_s": totals["store.write"],
            "store.commit_s": totals["store.commit"],
            "store.read_series_s": totals["store.read_series"],
            "store.snapshot_mb": out.store_bytes / 1e6,
            "store.files": out.store_files,
            "store.resume_s": out.resume_s or 0.0,
            "store.ingest_s": out.ingest_s or 0.0,
            "trace.stats_s": totals["trace.stats"],
        }
        m["extract.mb_per_s"] = (
            m["extract.html_mb_in"] / m["extract.s"] if m["extract.s"] else 0.0
        )
        probed = counts.get("seen.probed", 0)
        m["seen.definitely_new_ratio"] = (
            counts.get("seen.definitely_new", 0) / probed if probed else 0.0
        )
        offered = m["politeness.admitted"] + m["politeness.deferred"]
        m["politeness.defer_ratio"] = (
            m["politeness.deferred"] / offered if offered else 0.0
        )
        per_iter.append(m)
        wall = sum(e - s for s, e in rounds)
        covered = sum(totals.values())
        print(f"# round accounting: wall {wall:.3f} s = leaf spans "
              f"{covered:.3f} s + driver gap {gap:.3f} s "
              f"over {len(rounds)} rounds")

    metrics = {k: median([m[k] for m in per_iter]) for k in per_iter[0]}
    rounds_u = [len(r) for _, r, _, _ in untraced]
    jobs = [j for _, _, j, _ in untraced]
    tasks = [t for _, _, _, t in untraced]
    metrics["bfs.jobs_per_round"] = median(
        [j / r for j, r in zip(jobs, rounds_u) if r])
    metrics["bfs.tasks_per_round"] = median(
        [t / r for t, r in zip(tasks, rounds_u) if r])
    walls_t = [out.wall_s for out, _, _, _ in samples]
    walls_u = [out.wall_s for out, _, _, _ in untraced]
    metrics["trace.overhead"] = median(walls_t) / median(walls_u)
    return metrics


def main(argv=None) -> int:
    t_setup = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import geospatial_web_scraper_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {exc}", file=sys.stderr)
        return 2

    import tracing
    import workloads

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sampler = tracing.RssSampler()
    spark = None
    try:
        with sampler:
            spark = start_spark(work, CORES[args.workload])
            t_session = time.perf_counter()
            inp = workloads.generate(args.workload, args.seed)
            pages = workloads.pages_table(spark, inp, CORES[args.workload])
            t_pages = time.perf_counter()
            tracer = tracing.Tracer()
            wl = workloads.Workload(spark, inp, pages, work)
            t_inputs = time.perf_counter()
            bench = Bench(spark, wl, tracer)
            for i in range(WARMUP_ITERS):
                out = bench.iteration(traced=False)[0]
                print(f"# warm-up {i + 1}: {out.wall_s:.3f} s")
            t_end = time.perf_counter()
            setup_s = t_end - t_setup
            print(f"# set-up: session {t_session - t_setup:.2f} s, pages "
                  f"{t_pages - t_session:.2f} s, inputs "
                  f"{t_inputs - t_pages:.2f} s, warm-up "
                  f"{t_end - t_inputs:.2f} s")

            want = workloads.expected(inp)
            result = measure(bench, want, args)
            peak = sampler.peak
        if args.trace:
            spans_dir = os.path.join(work_root, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(
                spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark, sampler)
        shutil.rmtree(work, ignore_errors=True)

    ok, failed, metrics = result
    attempted = len(ok) + failed
    if args.trace:
        values = metrics
        units = PER_LAYER_UNITS
    else:
        outs = [o for o, _ in ok]
        values = {
            "urls_per_s": max((o.recorded / o.wall_s for o in outs),
                              default=0.0),
            "round_s_min": min((e - s for _, rounds in ok for s, e in rounds),
                               default=0.0),
            "setup_s": setup_s,
            "peak_rss_mb": peak / 1e6,
        }
        units = END_TO_END_UNITS
        extra = {"error_rate": (failed / attempted, "ratio")}
        if args.workload == "polite_resume":
            for k in ("resume_s", "ingest_s"):
                extra[k] = (min((getattr(o, k) for o in outs), default=0.0),
                            "s")
        for name, (v, unit) in extra.items():
            print(f"{name} {v:.6g} {unit}")
    for name, v in values.items():
        print(f"{name} {v:.6g} {units[name]}")
    print(f"# {args.workload} seed {args.seed}: {attempted} iterations, "
          f"{failed} failed")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


def measure(bench, want, args):
    """Timed iterations until ``--seconds`` have passed and at least
    ``SAMPLES`` ran; with ``--trace 1`` untraced and traced iterations
    alternate. Returns (ok samples, failures, layer metrics)."""
    ok, failed = [], 0
    traced_samples, untraced_samples = [], []
    need = SAMPLES[args.workload]
    t0 = time.perf_counter()
    n = 0
    while n < need or time.perf_counter() - t0 < args.seconds:
        traced = bool(args.trace) and n % 2 == 1
        n += 1
        try:
            out, errors, rounds, jobs, tasks = bench.iteration(traced, want)
        except Exception as exc:  # noqa: BLE001 - a failed iteration
            traceback.print_exc()
            errors = [f"{type(exc).__name__}: {exc}"]
        if errors:
            failed += 1
            print(f"# iteration {n} failed: {'; '.join(errors)}",
                  file=sys.stderr)
            continue
        if traced:
            traced_samples.append((out, rounds,
                                   bench.tracer.iteration_spans(),
                                   dict(bench.tracer.counts)))
        else:
            ok.append((out, rounds))
            untraced_samples.append((out, rounds, jobs, tasks))
        print(f"# iteration {n}: {out.wall_s:.3f} s"
              f"{' (traced)' if traced else ''}")
    metrics = None
    if args.trace:
        if traced_samples and untraced_samples:
            metrics = layer_metrics(bench, traced_samples, untraced_samples)
        else:
            metrics = {k: 0.0 for k in PER_LAYER_UNITS}
        ok = ok + [(s[0], s[1]) for s in traced_samples]
    return ok, failed, metrics


if __name__ == "__main__":
    sys.exit(main())
