"""Benchmark entry point.

Run from the repository root:

    python3 kgbench/run.py --workload build_ontology --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed`` under ``.bench_work/``,
starts one local SparkSession on every CPU this process may use, runs the
workload's closed loop for ``--seconds`` and checks the outputs.  The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it records the run's context: measured
input properties, sample counts, host steal and co-tenant load.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402

# driver heap well below physical RAM on a shared host (the session
# default is sized for a large dedicated machine)
DRIVER_MEM = "3g"


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_spark(work: str, ncpu: int):
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = tmp  # this process's own temp files stay inside too
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_JAVA_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    from dug_spark.session import get_spark

    return get_spark(
        "kgbench",
        cores=ncpu,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child
    process (Python workers included) to end."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # still alive: kill it and reap
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in tracing.process_tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            for p in rest:
                try:
                    os.waitpid(p, 0)
                except ChildProcessError:
                    pass
            return
        time.sleep(0.2)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(r: workloads.Results, setup_s: float, peak_rss: int) -> dict:
    # each KG query kind's median, averaged over the kinds: the kinds
    # differ several-fold in cost, so one median over all of them would
    # land in whichever kind sorts to the middle
    kgq = [_median(r.lat_ms.get(f"kgq.{k}", [])) for k in workloads.KGQ_KINDS]
    vals = {
        "setup_s": (setup_s, "s"),
        "build_docs_per_s": (_median(r.build_rates), "docs/s"),
        "triple_precision": (min((p.precision for p in r.prs), default=0.0), "ratio"),
        "triple_recall": (min((p.recall for p in r.prs), default=0.0), "ratio"),
        "ok_rate": (1.0 - r.failed / max(1, r.attempted), "share"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
        "search_p50_ms": (_median(r.lat_ms.get("search", [])), "ms"),
        "kgq_p50_ms": (statistics.fmean(kgq), "ms"),
        "recrawl_docs_per_s": (r.recrawl_docs / r.recrawl_s if r.recrawl_s else 0.0, "docs/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


# per-layer metric → (unit, source): "span:<name>" medians a span's
# duration (s), "ms:<name>" the same in ms, anything else a recorded value
PER_LAYER = {
    "session.start_s": ("s", "value"),
    "fold.s": ("s", "value"),
    "fold.surfaces": ("count", "value"),
    "fold.entries": ("count", "value"),
    "text.extract_s": ("s", "span:text.extract"),
    "text.html_mb": ("MB", "value"),
    "annotate.s": ("s", "span:annotate.exec"),
    "annotate.docs": ("count", "value"),
    "annotate.mentions": ("count", "value"),
    "annotate.python_s": ("s", "value"),
    "annotate.arrow_mb": ("MB", "value"),
    "annotate.path_trie": ("flag", "value"),
    "triples.s": ("s", "span:triples.exec"),
    "triples.doc_sets": ("count", "value"),
    "triples.pairs_exploded": ("count", "value"),
    "triples.pairs_kept": ("count", "value"),
    "triples.useful_ratio": ("ratio", "value"),
    "triples.out": ("count", "value"),
    "triples.shuffle_mb": ("MB", "value"),
    "triples.spill_mb": ("MB", "value"),
    "skew.hot_keys": ("count", "value"),
    "skew.max_over_mean": ("ratio", "value"),
    "concepts.s": ("s", "span:concepts.s"),
    "concepts.rows": ("count", "value"),
    "expand.s": ("s", "span:expand.s"),
    "expand.answers": ("count", "value"),
    "manifest.write_s": ("s", "span:manifest.write"),
    "manifest.files": ("count", "value"),
    "manifest.mb_written": ("MB", "value"),
    "lineage.partitions": ("count", "value"),
    "recrawl.changed_docs": ("count", "value"),
    "recrawl.detect_ratio": ("ratio", "value"),
    "snapshots.delta_s": ("s", "span:snapshots.delta"),
    "snapshots.compact_s": ("s", "span:snapshots.compact"),
    "snapshots.read_dirs": ("count", "value"),
    "snapshots.mb_per_changed_doc": ("MB", "value"),
    "search.plan_ms": ("ms", "ms:search.plan"),
    "search.exec_ms": ("ms", "ms:search.exec"),
    "search.jobs": ("count", "value"),
    "bgp.plan_ms": ("ms", "ms:bgp.plan"),
    "bgp.exec_ms": ("ms", "ms:bgp.exec"),
    "bgp.rows_out": ("count", "value"),
    "reach.exec_ms": ("ms", "ms:reach.exec"),
    "reach.hops": ("count", "value"),
    "spark.jobs": ("count", "value"),
    "spark.tasks": ("count", "value"),
    "spark.shuffle_mb": ("MB", "value"),
    "spark.spill_mb": ("MB", "value"),
    "spark.gc_s": ("s", "value"),
    "spark.executor_run_s": ("s", "value"),
    "trace.overhead_ratio": ("ratio", "value"),
    "probe.special_char_failures": ("count", "value"),
}


def per_layer(tr: tracing.Tracer, r: workloads.Results) -> dict:
    layers = r.layers
    out = {}
    for name, (unit, src) in PER_LAYER.items():
        if src.startswith("span:"):
            per_span = [d / 1000.0 for d in tr.durations_ms(src[5:])]
            if name == "manifest.write_s":
                # all stage commits of one build, per build
                n = max(1, len(r.lat_ms.get("build", [])))
                v = sum(per_span) / n
            else:
                v = _median(per_span)
        elif src.startswith("ms:"):
            v = _median(tr.durations_ms(src[3:]))
        else:
            v = _median(layers.get(name, []))
        out[name] = {"value": v, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dug_spark", "pipeline.py")):
        print("kgbench: dug_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ncpu = len(os.sched_getaffinity(0))
    spec = workloads.SPECS[args.workload]
    tracer = tracing.Tracer(enabled=False)
    cpu0 = tracing.cpu_times()
    try:
        s0 = time.perf_counter()
        spark = start_spark(work, ncpu)
        session_s = time.perf_counter() - s0
        try:
            run = workloads.Run(spark, spec, args.seed, work, tracer)
            run.res.layer("session.start_s", session_s)
            setup = run.setup()
            setup_s = _process_age_s()  # wall time to the first timed operation
            c0 = run.counters.snapshot()
            measured_s = run.run_loop(args.seconds, traced=bool(args.trace))
            t_loop_end = time.perf_counter()
            c1 = run.counters.snapshot()
            run.final_snapshot_check()
            probe = run.special_char_probe()
            cpu1 = tracing.cpu_times()
            rss_by_name = tracing.tree_peak_rss_bytes(os.getpid())
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for key, div in (("jobs", 1), ("tasks", 1), ("shuffle_bytes", 1e6),
                     ("spill_bytes", 1e6), ("gc_ms", 1e3), ("run_ms", 1e3)):
        name = {"shuffle_bytes": "shuffle_mb", "spill_bytes": "spill_mb",
                "gc_ms": "gc_s", "run_ms": "executor_run_s"}.get(key, key)
        run.res.layer(f"spark.{name}", (c1[key] - c0[key]) / div)

    metrics = (per_layer(tracer, run.res) if args.trace
               else end_to_end(run.res, setup_s, sum(rss_by_name.values())))
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": ncpu, "measured_s": round(measured_s, 3),
        "after_loop_s": round(time.perf_counter() - t_loop_end, 3),
        "setup": {k: v if isinstance(v, list) else round(v, 3) for k, v in setup.items()},
        "latency_ms": {k: [round(x, 1) for x in v] for k, v in run.res.lat_ms.items()},
        "inputs": run.res.props,
        "host": tracing.host_context(cpu0, cpu1, os.cpu_count() or ncpu),
        "peak_rss_mb": {k: round(v / 1e6, 1) for k, v in rss_by_name.items()},
        **probe,
    }
    print(json.dumps({"context": context}))
    correct = run.res.failed == 0 and all(p.ok for p in run.res.prs)
    print(json.dumps({
        "correct": correct,
        "attempted": run.res.attempted,
        "failed": run.res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
