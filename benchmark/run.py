"""Benchmark entry point: generate seeded inputs, run one closed-loop
workload against the engine on local[nproc], check every output and
print the metrics.

    python3 benchmark/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --workload all --seed 1      # every workload

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` records spans around every call into the engine,
attributes Spark's job and stage metrics to them, prints the per-layer
metrics and writes the spans to ``.benchrun/traces/``. The last line of
standard output is one JSON object: correct, attempted, failed,
metrics. The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE_DIR = os.path.join(ROOT, ".benchrun", "traces")
WORKLOAD_NAMES = ["etl_batch", "curation_batch", "ann_serve", "stream_ingest"]

E2E = [  # gated end-to-end metrics: name, unit
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("rows_per_s", "rows/s"),
]
LAYER_UNITS = {
    "session.start_s": "s",
    "io.readers.read_ms": "ms",
    "io.readers.input_bytes": "bytes",
    "io.readers.infer_jobs": "count",
    "io.writers.write_ms": "ms",
    "io.writers.output_bytes": "bytes",
    "io.writers.files": "count",
    "pipelines.plan_ms": "ms",
    "pipelines.optimize_ms": "ms",
    "validate.check_ms": "ms",
    "ext.textstats.ms": "ms",
    "ext.dedup.ms": "ms",
    "ext.dedup.candidates": "count",
    "ext.dedup.pairs": "count",
    "ext.dedup.useful_ratio": "ratio",
    "ext.clusters.ms": "ms",
    "ext.clusters.components": "count",
    "ext.ann_index.build_s": "s",
    "ext.ann_index.search_ms": "ms",
    "ext.ann_index.rows_scanned_per_query": "rows",
    "ext.ann_index.recall_at_10": "ratio",
    "ext.ann_index.add_ms": "ms",
    "ext.ann_index.delete_ms": "ms",
    "ext.dedup_index.ms": "ms",
    "ext.dedup_index.bytes_on_disk": "bytes",
    "streaming.corpus.batch_ms": "ms",
    "streaming.corpus.rejected": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.busy_frac": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
}
# set-up span name -> its duration's metric
SETUP_SPANS = {
    "session": "session.start_s",
    "ext.ann_index.build": "ext.ann_index.build_s",
}
# span name -> per-op self-time metric
SPAN_MS = {
    "io.readers": "io.readers.read_ms",
    "io.writers": "io.writers.write_ms",
    "pipelines.plan": "pipelines.plan_ms",
    "pipelines.optimize": "pipelines.optimize_ms",
    "validate": "validate.check_ms",
    "ext.textstats": "ext.textstats.ms",
    "ext.dedup": "ext.dedup.ms",
    "ext.clusters": "ext.clusters.ms",
    "ext.ann_index.search": "ext.ann_index.search_ms",
    "ext.ann_index.add": "ext.ann_index.add_ms",
    "ext.ann_index.delete": "ext.ann_index.delete_ms",
    "ext.dedup_index": "ext.dedup_index.ms",
    "streaming.corpus": "streaming.corpus.batch_ms",
}


def machine_sizing() -> tuple[int, str]:
    """local[nproc] and a driver heap of a quarter of RAM (1-8 GB)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return cpus, f"{max(1, min(8, kb // (4 * 1024 * 1024)))}g"


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants (driver JVM,
    Python workers): the sum of each live process's kernel-kept RSS
    high-water mark (VmHWM), sampled from /proc, maximised over
    samples."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak_kb = period, 0
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        parent: dict[int, int] = {}
        hwm: dict[int, int] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/status") as f:
                    for line in f:
                        key, _, val = line.partition(":")
                        if key == "Name":
                            comm[int(d)] = val.strip()
                        elif key == "PPid":
                            parent[int(d)] = int(val)
                        elif key == "VmHWM":
                            hwm[int(d)] = int(val.split()[0])
            except (OSError, ValueError):
                continue
        tree, grew = {os.getpid()}, True
        while grew:
            kids = {p for p, pp in parent.items() if pp in tree} - tree
            tree |= kids
            grew = bool(kids)
        # a child the JVM spawns shares the JVM's pages until it execs
        # and would count them twice: count Python processes and the
        # top JVM only
        return sum(
            hwm.get(p, 0) for p in tree
            if comm.get(p, "").startswith("python")
            or (comm.get(p) == "java" and comm.get(parent.get(p)) != "java")
        )

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.sample())
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self.sample())


class Ctx:
    """What a workload's calls need: seed, run dir, tracer, session."""

    def __init__(self, seed: int, tmp: str, tracer):
        self.seed, self.tmp, self.tracer = seed, tmp, tracer
        self.data = os.path.join(tmp, "data")
        self.spark = None
        self.setup_failures: list[str] = []

    def expect_ok(self, fails: list[str]) -> None:
        self.setup_failures += fails


def start_session(ctx) -> None:
    from uofi_payroll_etl_main_demo_spark.session import get_spark

    with ctx.tracer.span("session", trace="setup"):
        ctx.spark = get_spark(
            app_name="graft-benchmark",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.local.dir": os.path.join(ctx.tmp, "spark-local"),
                # keep JVM temp files and perf data inside the run dir
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={ctx.tmp} -XX:-UsePerfData",
            },
        )
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.spark.range(1).count()
    ctx.tracer.sc = ctx.spark.sparkContext


def stop_session(ctx) -> None:
    if ctx.spark is not None:
        for q in ctx.spark.streams.active:
            q.stop()
        ctx.spark.stop()
        ctx.spark = None
        ctx.tracer.sc = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pct(values: list[float], q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def layer_metrics(ctx, w, ops, setup_spans_s, cpus) -> dict:
    """Per-layer metrics from the traced ops' spans and Spark's REST
    status of the final SparkContext."""
    import spans as tr

    spans = ctx.tracer.spans
    selfs = tr.self_times(spans)
    api, jobs, stages = tr.fetch_spark_metrics(ctx.spark.sparkContext.uiWebUrl)
    by_span = tr.attribute_jobs(spans, jobs)

    def stage_list(span_ids):
        js = [j for s in span_ids for j in by_span.get(s, [])]
        return js, [a for j in js for sid in j["stageIds"] for a in stages.get(sid, [])]

    per_op: dict[str, list[float]] = {}

    def add(name, v):
        per_op.setdefault(name, []).append(v)

    roots = [s for s in spans if s.name == "op"]
    for root in roots:
        sub = tr.descendants(spans, root.id)
        subs = [s for s in spans if s.id in sub]
        for span_name, metric in SPAN_MS.items():
            hits = [s for s in subs if s.name == span_name]
            if hits:
                add(metric, 1000 * sum(selfs[s.id] for s in hits))
        js, sts = stage_list(sub)
        wall_ms = 1000 * (root.end - root.start)
        run_ms = sum(s["executorRunTime"] for s in sts)
        add("spark.jobs", len(js))
        add("spark.stages", len(sts))
        add("spark.tasks", sum(s["numCompleteTasks"] for s in sts))
        add("spark.executor_run_ms", run_ms)
        add("spark.executor_cpu_ms", sum(s["executorCpuTime"] for s in sts) / 1e6)
        add("spark.gc_ms", sum(s.get("jvmGcTime", 0) for s in sts))
        add("spark.busy_frac", run_ms / (wall_ms * cpus) if wall_ms else 0.0)
        add("spark.shuffle_read_bytes", sum(s["shuffleReadBytes"] for s in sts))
        add("spark.shuffle_write_bytes", sum(s["shuffleWriteBytes"] for s in sts))
        add("spark.spill_bytes", sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                     for s in sts))
        # scans run lazily inside later spans' actions: count the op's
        # file input wherever it was read
        add("io.readers.input_bytes", sum(s["inputBytes"] for s in sts))
        if sts:
            add("spark.task_skew", tr.task_skew(
                api, max(sts, key=lambda s: s["executorRunTime"])))
        readers = [s.id for s in subs if s.name == "io.readers"]
        if readers:
            add("io.readers.infer_jobs", len(stage_list(readers)[0]))
        searches = [s.id for s in subs if s.name == "ext.ann_index.search"]
        if searches:
            add("ext.ann_index.rows_scanned_per_query",
                sum(s["inputRecords"] for s in stage_list(searches)[1]))
    for res in ops:  # per-op counts the workloads measured on disk
        for k, v in res.get("layer", {}).items():
            add(k, v)

    m = {k: 0.0 for k in LAYER_UNITS}
    m.update({k: float(statistics.median(v)) for k, v in per_op.items()})
    m.update(setup_spans_s)
    m.update({k: float(v) for k, v in w.layer_extras(ctx).items()})
    return m


def run_workload(args) -> int:
    cpus, mem = machine_sizing()
    tmp = os.path.join(ROOT, ".benchrun", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
    })
    sys.path.insert(0, ROOT)
    try:
        import workloads  # imports the engine
    except ImportError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import spans as tr

    tracer = tr.Tracer(enabled=bool(args.trace))
    ctx = Ctx(args.seed, tmp, tracer)
    w = workloads.WORKLOADS[args.workload]()
    rss = RssSampler()
    rss.start()
    ops: list[dict] = []
    failures: list[str] = []
    extra: dict = {}
    gen_s = warmup_s = setup_s = 0.0
    try:
        t = time.perf_counter()
        w.gen(ctx)
        gen_s = time.perf_counter() - t
        start_session(ctx)
        w.setup(ctx)
        t = time.perf_counter()
        w.warmup(ctx)
        warmup_s = time.perf_counter() - t
        # from process start (imports, JVM launch, session, store
        # builds, warm-up ops), minus input generation
        setup_s = time.perf_counter() - T_START - gen_s
        for s in tracer.spans:
            if s.name in SETUP_SPANS:
                extra[SETUP_SPANS[s.name]] = s.end - s.start
        tracer.spans.clear()

        t_phase = time.perf_counter()
        i = 0
        while (i < w.ops if w.ops else
               time.perf_counter() - t_phase < args.seconds or i < w.min_ops):
            w.before_op(ctx, i)
            t = time.perf_counter()
            try:
                with tracer.span("op", trace=f"op-{i}"):
                    res = w.op(ctx, i)
                res["dt"] = time.perf_counter() - t
                fails = w.check_op(ctx, i, res)
                w.after_check(ctx, res)
            except Exception:
                res = {"dt": time.perf_counter() - t, "rows": 0, "kind": "error"}
                fails = [f"op {i} raised:\n{traceback.format_exc()}"]
            res["failed"] = bool(fails)
            failures += fails
            ops.append(res)
            i += 1
        failures += ctx.setup_failures + w.final_check(ctx)
        layers = layer_metrics(ctx, w, ops, extra, cpus) if args.trace else {}
    except Exception:
        failures.append(f"run aborted:\n{traceback.format_exc()}")
        layers = {}
    finally:
        rss.stop()  # last sample while the JVM is still up
        stop_session(ctx)
        shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)

    good = [r for r in ops if not r["failed"]]
    # op_p50 is over the workload's main op (for ann_serve, its reads)
    reads = [r["dt"] * 1000 for r in ops if r.get("kind") not in ("write", "error")]
    writes = [r["dt"] * 1000 for r in ops if r.get("kind") == "write"]
    op_time = sum(r["dt"] for r in ops)
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(reads) if reads else 0.0,
        "rows_per_s": sum(r["rows"] for r in good) / op_time if op_time else 0.0,
    }
    n_failed = sum(r["failed"] for r in ops)
    correct = not failures and bool(ops)

    print(f"workload {args.workload}  seed {args.seed}  local[{cpus}]  driver memory {mem}"
          f"  trace {args.trace}")
    print(f"gen_s {gen_s:.3f} s (input generation, not part of setup_s)")
    print(f"warm-up {warmup_s:.3f} s (part of setup_s)")
    for name, unit in E2E:
        print(f"{name} {e2e[name]:.4f} {unit}")
    # reported, not gated: the JVM's heap growth differs too much run to run
    print(f"peak_rss_mb {rss.peak_kb / 1024:.4f} MB")
    n = len(reads)
    if n >= 100:
        print(f"op_p90_ms {pct(reads, 0.9):.4f} ms ({n} samples)")
    else:
        print(f"op_p90_ms n/a ({n} samples; needs 100 for 10 beyond p90)")
    if writes:
        print(f"write_p50_ms {statistics.median(writes):.4f} ms ({len(writes)} samples)")
    else:
        print("write_p50_ms n/a (no write ops in this workload's run)")
    print(f"failed_frac {n_failed / max(1, len(ops)):.4f} ratio "
          f"({n_failed} of {len(ops)} ops)")
    for f in failures:
        print(f"CHECK FAILED: {f}")
    print(f"checks: {'PASS' if correct else 'FAIL'}")

    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
        for k, v in metrics.items():
            print(f"{k} {v['value']:.4f} {v['unit']}")
        os.makedirs(TRACE_DIR, exist_ok=True)
        tracer.dump(
            os.path.join(TRACE_DIR, f"{args.workload}_s{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "layers": layers},
        )
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E}
    print(json.dumps({"correct": correct, "attempted": max(1, len(ops)),
                      "failed": n_failed if ops else 1, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process, one after another. With
    ``--trace 1`` each workload runs untraced and then traced on the
    same seed, and the tracing overhead (traced minus untraced
    op_p50_ms) is printed per workload."""
    worst, results, overhead = 0, {}, {}
    for name in WORKLOAD_NAMES:
        p50 = {}
        for trace in ([0, 1] if args.trace else [0]):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            sys.stdout.write(p.stdout)
            worst = max(worst, p.returncode)
            lines = p.stdout.strip().splitlines()
            last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            results[f"{name}/trace{trace}"] = last
            p50[trace] = next((float(x.split()[1]) for x in lines
                               if x.startswith("op_p50_ms ")), None)
        if args.trace and None not in p50.values():
            overhead[name] = p50[1] - p50[0]
    for name, ms in overhead.items():
        print(f"tracing overhead {name}: {ms:+.1f} ms (traced minus untraced op_p50_ms)")
    done = [r for r in results.values() if r]
    print(json.dumps({
        "correct": worst == 0 and len(done) == len(results),
        "attempted": sum(r["attempted"] for r in done),
        "failed": sum(r["failed"] for r in done),
        "tracing_overhead_ms": overhead,
        "runs": results,
    }))
    return worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
