"""Seeded, self-checking benchmark of the timeline facade, the bulk timeline
analytics and the exact set-similarity joins.

    python3 perfbench/run.py --workload timeline_serve --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. It pins its own environment
(``local[<cores>]``, driver memory, a per-run temp dir for Spark's local
dirs and every table, removed at the end), sets up the workload (session
start, seeded inputs, the stored table where there is one), then runs
whole rounds until ``--seconds`` have passed. There is no warm-up: the
first round is each operation's first call in a fresh session, as a
batch job or a newly started service sees it. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds the round's wall time, the
per-operation figures and host context.
A traced run also writes its spans to ``perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "temporal_vector_database_spark"
# per-call counters reported by a traced run (see per_layer)
LAYER_CALLS = {
    "api.add_versions": ("jobs", "files_written", "shuffle_bytes"),
    "api.get_version": ("jobs", "files_read"),
    "api.get_version_at_time": ("jobs", "files_read"),
    "api.search_similar_content": ("jobs",),
    **{f"dedup.{j}": ("jobs", "tasks", "shuffle_bytes", "spill_bytes")
       for j in ("jaccard_prefix_join", "cross_corpus_jaccard_exact",
                 "ngram_containment_pairs", "containment_decontaminate")},
}


def pin_environment(tmp: str) -> None:
    """Everything the run writes lands in ``tmp``; Python workers import
    the package from this checkout."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TVDB_DRIVER_MEMORY"] = f"{max(1, min(4, int(mem_gb // 5)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])
    os.chdir(tmp)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers), from /proc. Reaped children
    count through their parent's cutime/cstime."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended meanwhile
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def host_context() -> dict:
    from temporal_vector_database_spark.bench_util import cpu_probe_parallel_sec, cpu_probe_sec

    return {
        "loadavg_start": os.getloadavg()[0],
        "cpu_probe_sec": cpu_probe_sec(),
        "cpu_probe_parallel_sec": cpu_probe_parallel_sec(),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(round_cpu: list[float], setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "round_cpu_s": (statistics.median(round_cpu), "s"),
    }


def per_layer(round_spans, round_overhead, session_s: float, frames: tuple) -> dict:
    """Counts come from the first measured round (they repeat exactly on a
    quiet run of the same seed); times are medians over measured rounds."""
    from sparkstat import CallStats

    def round_total(spans) -> CallStats:
        total = CallStats()
        for sp in spans:
            if sp.parent is not None:
                total.add(CallStats(**sp.stats))
        return total

    totals = [round_total(s) for s in round_spans]
    first = totals[0]

    def med(field: str) -> float:
        return statistics.median(getattr(t, field) for t in totals)

    out = {
        "session.start_s": (session_s, "s"),
        "spark.jobs": (first.jobs, "count"),
        "spark.stages": (first.stages, "count"),
        "spark.tasks": (first.tasks, "count"),
        "spark.plan_s": (med("plan_s"), "s"),
        "spark.job_s": (med("job_s"), "s"),
        "spark.executor_run_s": (med("executor_run_s"), "s"),
        "spark.executor_cpu_s": (med("executor_cpu_s"), "s"),
        "spark.shuffle_bytes": (first.shuffle_bytes, "bytes"),
        "spark.spill_bytes": (first.spill_bytes, "bytes"),
        "spark.input_bytes": (first.input_bytes, "bytes"),
        "spark.output_bytes": (first.output_bytes, "bytes"),
        "sql.files_read": (first.files_read, "count"),
        "sql.files_written": (first.files_written, "count"),
        "api.persisted_frames_per_round": ((frames[1] - frames[0]) / len(round_spans), "count"),
        "trace.spans_per_round": (len(round_spans[0]), "count"),
        "trace.overhead_s": (statistics.median(round_overhead), "s"),
    }
    # per layer call: counts for every call of every listed workload (0
    # where this workload makes no such call), so all traced runs report
    # the same metric names
    calls: dict[str, CallStats] = {}
    for sp in round_spans[0]:
        if sp.parent is not None:
            calls.setdefault(sp.name, CallStats()).add(CallStats(**sp.stats))
    for name, fields in LAYER_CALLS.items():
        st = calls.get(name, CallStats())
        for f in fields:
            out[f"{name}.{f}"] = (getattr(st, f), "bytes" if f.endswith("_bytes") else "count")
    return out


def per_call(round_spans) -> dict:
    """Per layer call of the first measured round: jobs, plan_s and files."""
    out = {}
    for sp in round_spans[0]:
        if sp.parent is None:
            continue
        st = sp.stats
        out[sp.name] = {k: st[k] for k in ("jobs", "stages", "tasks", "plan_s", "job_s",
                                           "executor_cpu_s", "shuffle_bytes", "spill_bytes",
                                           "files_read", "files_written")}
        out[sp.name]["wall_s"] = sp.end - sp.start
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE}/ not found next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    spark = None
    try:
        pin_environment(tmp)
        host = host_context()
        ticks0 = cpu_ticks()

        from sparkstat import StatusReader, Tracer
        from temporal_vector_database_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        reader = StatusReader(spark) if args.trace else None
        tracer = Tracer(reader)

        wl = WORKLOADS[args.workload](spark, tmp, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0

        frames0 = len(spark.sparkContext._jsc.getPersistentRDDs())
        rounds, round_spans, round_overhead, round_cpu = [], [], [], []
        t_meas = time.perf_counter()
        while not rounds or time.perf_counter() - t_meas < args.seconds:
            n_spans, overhead, cpu = len(tracer.spans), tracer.overhead_s, tree_cpu_s()
            rounds.append(wl.round())
            round_cpu.append(tree_cpu_s() - cpu)
            round_spans.append(tracer.spans[n_spans:])
            round_overhead.append(tracer.overhead_s - overhead)
        frames1 = len(spark.sparkContext._jsc.getPersistentRDDs())

        ops = [o for r in rounds for o in r]
        failed = sum(1 for o in ops if o.problems)
        if args.trace:
            metrics = per_layer(round_spans, round_overhead, session_s, (frames0, frames1))
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            tracer.write(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(round_cpu, setup_s)
        host["loadavg_end"] = os.getloadavg()[0]
        ticks1 = cpu_ticks()
        host["steal_share"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        detail = {
            "workload": args.workload, "seed": args.seed, "rounds": len(rounds),
            "round_s": statistics.median(sum(o.seconds for o in r) for r in rounds),
            "round_cpu_s": statistics.median(round_cpu),
            "ops": wl.detail(rounds), "host": host,
            "persisted_rdds_at_end": frames1,
        }
        if args.trace:
            detail["calls"] = per_call(round_spans)
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": not any(o.problems and not o.raised for o in ops),
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
