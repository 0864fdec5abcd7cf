"""Benchmark of the semantic search engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The run starts a local Spark session sized
from the box, generates its inputs from the seed under ``.perfbench_work/``
(deleted at exit), sets the workload up, runs its operation in a closed loop
for ``--seconds`` (to the end of a block of operations), checks the outputs,
and prints as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the loop runs twice as long, half of
its operations are traced, and the metrics are the per-layer ones from the
traced half. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "semantic_search_system_spark"

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms"}

PIPELINE_STAGES = ("enrich", "topic_map", "entity_map", "triples", "graph")
SEARCH_STRATEGIES = (
    "simple", "advanced", "pro", "pro_enhanced", "kb",
    "advanced_ann", "pro_ann", "pro_enhanced_ann", "kb_ann",
)
PER_LAYER = {
    **{
        f"pipeline.{s}.{m}": u
        for s in PIPELINE_STAGES
        for m, u in (
            ("wall_s", "s"), ("self_s", "s"), ("executor_run_s", "s"),
            ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("jobs", "count"),
        )
    },
    **{f"pipeline.{t}_rows": "rows" for t in ("enriched", "triples", "entity_map", "nodes", "edges")},
    "enrichment.python_run_s": "s",
    "enrichment.python_boot_s": "s",
    "enrichment.bytes_to_python": "bytes",
    "linking.entity_names": "count",
    "components.canonical_ratio": "ratio",
    "catalog.commits": "count",
    "catalog.commit_s": "s",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "catalog.compact_s": "s",
    **{
        f"search.{s}.{m}": u
        for s in SEARCH_STRATEGIES
        for m, u in (("p50_ms", "ms"), ("input_bytes", "bytes"), ("jobs", "count"))
    },
    "similarity.ensure_doc_ivf_ms": "ms",
    "similarity.escalation_frac": "ratio",
    "similarity.ivf_build_s": "s",
    "similarity.ivf_refits": "count",
    "similarity.ivf_appends": "count",
    "streaming.enrich_epoch_s": "s",
    "streaming.triples_epoch_s": "s",
    "streaming.reconcile_s": "s",
    "streaming.enriched_partitions": "count",
    "streaming.search_p50_ms": "ms",
    "spark.gc_s": "s",
    "spark.jvm_peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "failed_frac": "ratio",
}

# Spark's names for the Arrow UDF metrics (millisecond timers) and for the
# task counters summed per stage in the event log.
PY_RUN, PY_START, PY_INIT = (
    "time to run Python workers", "time to start Python workers",
    "time to initialize Python workers",
)
PY_SENT = "data sent to Python workers"
RUN_TIME = "internal.metrics.executorRunTime"
GC_TIME = "internal.metrics.jvmGCTime"
SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"
SPILLS = ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled")
INPUT_BYTES = "internal.metrics.input.bytesRead"


_T0 = time.time()


def log(msg: str) -> None:
    print(f"perfbench: {time.time() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def process_start_epoch() -> float:
    """When this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


def box_spec() -> dict:
    from importlib.metadata import version

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    cpus = len(os.sched_getaffinity(0))
    return {
        "cpus": cpus,
        "mem_total_mb": mem_kb // 1024,
        "driver_memory_mb": max(1024, min(4096, mem_kb // 1024 // 4)),
        "python": sys.version.split()[0],
        **{lib: version(lib) for lib in ("pyspark", "pyarrow", "pandas", "numpy", "duckdb")},
    }


def start_session(work: str, box: dict, trace: bool):
    """local[<cpus>] with every scratch path inside the work dir."""
    from semantic_search_system_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.driver.memory": f"{box['driver_memory_mb']}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir,
        })
    return get_spark("perfbench", master=f"local[{box['cpus']}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (which stops its Python workers);
    a second call does nothing."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024.0


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest whole percentile with at least ten
    samples beyond it, or the maximum (percentile 100) under 20 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100
    pct = int(100 * (n - 10) // n)
    return xs[max(0, -(-pct * n // 100) - 1)], pct


class Run:
    """What a workload needs from the harness: session, work dir, seed, and
    a span hook that records only while a traced operation runs."""

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.tracing = False

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()


def timed_window(wl, first: int, seconds: float, tracing=None):
    """Closed loop: the next operation starts when the previous one ends,
    until ``seconds`` have passed and a block of ``wl.BLOCK`` operations is
    complete, so every window holds the same mix. ``tracing``, when given,
    is a context manager factory applied to the operations ``wl.traced(i)``
    selects; the window then holds at least ``2 * wl.TRACED_BLOCKS`` blocks,
    so that some operations are traced and some are not. Returns (untraced
    latencies ms, traced latencies ms, failures)."""
    lat: list[float] = []
    traced: list[float] = []
    failed = 0
    i = first
    least = first + (2 * wl.TRACED_BLOCKS * wl.BLOCK if tracing is not None else 0)
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or i % wl.BLOCK or i < least:
        on = tracing is not None and wl.traced(i)
        try:
            with tracing() if on else contextlib.nullcontext():
                ms = wl.op(i)
            (traced if on else lat).append(ms)
        except StopIteration:
            break
        except Exception:  # one failed operation is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            failed += 1
        i += 1
    return lat, traced, failed


def layer_metrics(tracer, stages, jobs, n_ops: int, probes: tuple[dict, dict]) -> dict:
    """Per-layer values from the traced operations: totals are per traced
    operation; ``p50_ms``, ``*_epoch_s`` and ``ensure_doc_ivf_ms`` are medians."""
    from spans import covering, self_ms

    spans = tracer.spans
    out: dict[str, float] = {}

    def named(name: str) -> list:
        return [s for s in spans if s.name == name]

    def dur(sp) -> float:
        return sp.end - sp.start

    def per_op(total: float) -> float:
        return total / n_ops if n_ops else 0.0

    def median(xs) -> float:
        return statistics.median(xs) if xs else 0.0

    def counters(sts, *keys) -> float:
        return sum(st.acc.get(k, 0) for st in sts for k in keys)

    def stages_in(family: list, name: str | None = None) -> list:
        """Stages submitted inside a span of ``family`` (named ``name``)."""
        out = []
        for st in stages:
            sp = covering(family, st.submitted)
            if sp is not None and name in (None, sp.name):
                out.append(st)
        return out

    pipe = [s for s in spans if s.name.startswith("pipeline.")]
    for stage in PIPELINE_STAGES:
        name, p = f"pipeline.{stage}", f"pipeline.{stage}."
        own = [i for i, s in enumerate(spans) if s.name == name]
        mine = stages_in(pipe, name)
        out[p + "wall_s"] = per_op(sum(dur(spans[i]) for i in own)) / 1000
        out[p + "self_s"] = per_op(sum(self_ms(tracer, i) for i in own)) / 1000
        out[p + "executor_run_s"] = per_op(counters(mine, RUN_TIME)) / 1000
        out[p + "shuffle_write_bytes"] = per_op(counters(mine, SHUFFLE_WRITE))
        out[p + "spill_bytes"] = per_op(counters(mine, *SPILLS))
        out[p + "jobs"] = per_op(
            sum(1 for t in jobs if (sp := covering(pipe, t)) is not None and sp.name == name)
        )

    # the fused enrich UDF runs in the batch stage and in both stream sinks
    udf = stages_in(named("pipeline.enrich") + named("streaming.enrich_epoch")
                    + named("streaming.triples_epoch"))
    out["enrichment.python_run_s"] = per_op(counters(udf, PY_RUN)) / 1000
    out["enrichment.python_boot_s"] = per_op(counters(udf, PY_START, PY_INIT)) / 1000
    out["enrichment.bytes_to_python"] = per_op(counters(udf, PY_SENT))

    commits = named("catalog.commit")
    out["catalog.commits"] = per_op(len(commits))
    out["catalog.commit_s"] = per_op(sum(dur(s) for s in commits)) / 1000
    out["catalog.files_written"] = per_op(sum(s.attrs.get("files", 0) for s in commits))
    out["catalog.bytes_written"] = per_op(sum(s.attrs.get("bytes", 0) for s in commits))
    compacts = [  # compact_stream_epochs calls compact_small_dir: count it once
        s for s in named("catalog.compact")
        if s.parent is None or spans[s.parent].name != "catalog.compact"
    ]
    out["catalog.compact_s"] = per_op(sum(dur(s) for s in compacts)) / 1000

    searches = [s for s in spans if s.name.startswith("search.")]
    for strategy in SEARCH_STRATEGIES:
        mine = named(f"search.{strategy}")
        p = f"search.{strategy}."
        out[p + "p50_ms"] = median([dur(s) for s in mine])
        out[p + "input_bytes"] = median([counters(stages_in([s]), INPUT_BYTES) for s in mine])
        out[p + "jobs"] = median([sum(1 for t in jobs if s.start <= t <= s.end) for s in mine])

    out["similarity.ensure_doc_ivf_ms"] = median([dur(s) for s in named("similarity.ensure_doc_ivf")])
    q = probes[1]["queries"] - probes[0]["queries"]
    out["similarity.escalation_frac"] = (
        (probes[1]["escalations"] - probes[0]["escalations"]) / q if q else 0.0
    )
    out["similarity.ivf_build_s"] = per_op(sum(dur(s) for s in named("similarity.ivf_build"))) / 1000
    epochs = named("streaming.enrich_epoch")
    out["streaming.enrich_epoch_s"] = median([dur(s) for s in epochs]) / 1000
    out["streaming.triples_epoch_s"] = median([dur(s) for s in named("streaming.triples_epoch")]) / 1000
    # the searches issued between stream epochs
    out["streaming.search_p50_ms"] = median([dur(s) for s in searches]) if epochs else 0.0
    out["spark.gc_s"] = per_op(counters(stages, GC_TIME)) / 1000
    return out


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = process_start_epoch()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside {HERE}; run it from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the package from the checkout; every path the
    # engine, Spark or the JVM writes stays inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SSS_SPARK_DATA_DIR"] = os.path.join(work, "data")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    spark = None
    try:
        from workloads import WORKLOADS

        box = box_spec()
        spark = start_session(work, box, bool(args.trace))
        result = measure(spark, WORKLOADS[args.workload], args, work, t_start, box)
    finally:
        if spark is not None:
            stop_session(spark)
            log("session stopped")
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


def measure(spark, cls, args, work: str, t_start: float, box: dict) -> dict:
    from semantic_search_system_spark.operators.similarity import probe_stats

    from spans import EventLog, Tracer, stages_and_jobs

    tracer = Tracer() if args.trace else None
    events = EventLog(spark, os.path.join(work, "eventlog")) if args.trace else None
    run = Run(spark, work, args.seed, tracer)
    wl = cls(run)
    wl.setup()
    setup_s = time.time() - t_start
    log(f"set up in {setup_s:.1f} s")

    @contextlib.contextmanager
    def tracing():
        events.attach()
        tracer.instrument()
        run.tracing = True
        try:
            yield
        finally:
            run.tracing = False
            tracer.uninstrument()
            events.detach()

    probes0 = probe_stats()
    # a traced run interleaves traced and untraced operations over twice the
    # window, so trace.overhead_frac compares operations made side by side
    lat, traced, failed = timed_window(
        wl, 0, args.seconds * (2 if args.trace else 1), tracing if args.trace else None
    )
    probes1 = probe_stats()
    attempted = len(lat) + len(traced) + failed
    log(f"window done, {attempted} operations")
    checks, bad = wl.check()
    failed = min(attempted, failed + bad)
    rss = jvm_peak_rss_mb(spark)
    log("checks done")

    print("box " + json.dumps(box, sort_keys=True))
    value, pct = tail(lat) if lat else (0.0, 0)
    print(f"workload {wl.name} seed {args.seed} ops {len(lat)} failed {failed} "
          f"checks {checks} bad {bad} tail p{pct}")
    print("op_ms " + " ".join(f"{x:.0f}" for x in lat))
    # a window holds too few operations for a tail with ten samples beyond
    # it, so the tail is printed for reading, not reported as a metric
    print(f"op_tail_ms {value:.4f} ms (p{pct} of {len(lat)})")
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(lat) if lat else 0.0,
    }
    for name, (v, unit) in wl.aliases(e2e).items():
        print(f"{name} {v:.4f} {unit}")
    if not args.trace:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        stop_session(spark)
        stages, jobs = stages_and_jobs(events.events())
        layer = layer_metrics(tracer, stages, jobs, len(traced), (probes0, probes1))
        layer.update(wl.layer)
        layer["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(lat) - 1 if lat and traced else 0.0
        )
        layer["failed_frac"] = failed / attempted if attempted else 0.0
        layer["spark.jvm_peak_rss_mb"] = rss
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
