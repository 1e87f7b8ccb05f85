"""Extraction benchmark: one workload per run, in one driver process.

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 10 --trace 0

The driver runs one Spark job at a time at ``local[N]``, so the
benchmark is a closed loop with one client. N is half of nproc unless
``--cpus`` says otherwise (N > nproc is refused): the other half runs
the JVM's compiler and GC threads and the driver, which on 4 CPUs made
runs both shorter and steadier than ``local[4]``. It times whole
*passes* (read -> process -> sink) after warm-up, for ``--seconds`` and
at least one pass, checks the last pass's output, and prints one JSON
object as its last line:

- ``--trace 0``: the end-to-end metrics ``cpu_ms_per_doc`` (CPU time,
  user and system, of the driver, its JVM and the Python workers over
  the median pass, per input row) and ``setup_s`` (from process start
  to the end of warm-up: interpreter and JVM start, session creation,
  input open and the warm passes; input generation is left out);
- ``--trace 1``: the per-layer metrics in ``workloads.PER_LAYER``, from
  pipeline prefixes, Spark's status store, driver-side timing of the
  functions and kernels on a fixed sample of pages, and two whole-run
  figures of the untraced passes: ``docs_per_s`` (input rows per
  second of wall time, over the median pass) and ``peak_rss_mb`` (peak
  RSS of the process tree). On a shared 4-CPU box these two spread by
  0.2 to 0.4 (docs_per_s) and over 0.1 (peak_rss_mb) from run to run
  (quartile distance over median), CPU time per pass by 0.05 to 0.16,
  so they are not end-to-end metrics. Metrics of layers that a
  workload never enters read 0 and are listed in the context line as
  ``not_applicable``.

A context line before it records nproc, ``local[N]``, loadavg, an
identity ``mapInArrow`` probe, the input generation time and the
failed fraction. Results in ``BENCH_r0*.json`` and ``BENCH_SCALING.json``
were taken at ``local[32]`` on 32 CPUs: they are history, not baselines
for this benchmark.

Inputs are generated from ``--seed`` and cached under
``.perfbench_cache/`` in the repository root, which also holds Spark's
scratch space, so a run reads and writes nothing outside the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

END_TO_END = {"cpu_ms_per_doc": "ms", "setup_s": "s"}


def parse_args(argv, workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=None, help="N of local[N]; default nproc // 2")
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (the self-test uses a tiny one)")
    return p.parse_args(argv)


def configure_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let the workers import ocr_spark from any cwd."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    # the JVM heap cap is a deployment setting: 2g holds every input
    # here and keeps the run small on a shared box
    os.environ["OCR_SPARK_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable  # workers run the driver's interpreter


def start_session(cpus: int):
    from ocr_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus, extra={
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a heap at its full size from the start spares the first passes
        # the heap's growth
        "spark.driver.extraJavaOptions": "-Xms2g",
    })
    spark.sparkContext.setLogLevel("ERROR")
    # one split per input file, however large the input: the task count
    # of a scan is the file count, whatever the seed
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 30))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    return spark


def _running(pid: int) -> bool:
    """False once ``pid`` has exited, even if it is a zombie not yet reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    started = descendants(os.getpid())
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_running(p) for p in started):
        if time.monotonic() > deadline:
            for p in started:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def ambient(spark, cpus: int) -> dict:
    """Noise context: loadavg, and the wall time of an identity
    mapInArrow job, which prices the fixed Python-task cost right now."""
    from perfbench.workloads import noop

    def ident(batches):
        yield from batches

    df = spark.range(0, 10_000 * cpus, 1, cpus).mapInArrow(ident, "id long")
    noop(df)
    t0 = time.perf_counter()
    noop(df)
    probe = time.perf_counter() - t0
    la1, la5, la15 = os.getloadavg()
    return {"loadavg_1m": la1, "loadavg_5m": la5, "loadavg_15m": la15, "identity_arrow_probe_s": probe}


def timed_passes(wl, spark, seconds: float, spans=None) -> tuple[list[float], list, dict]:
    """Run passes until ``seconds`` have elapsed, at least one. An untraced pass also records the CPU seconds of the process
    tree. A traced pass runs in its own job group and reads its
    status-store metrics inside the timed span. Returns the pass times,
    and the CPU seconds of each untraced pass or, when traced, the last
    pass's metrics rows and job counts."""
    from perfbench import trace

    times, rows, counts = [], [], {}
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() < t_end:
        wl.reset()
        if spans is None:
            cpu0 = trace.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            wl.run_pass(spark)
            times.append(time.perf_counter() - t0)
            rows.append(trace.tree_cpu_s(os.getpid()) - cpu0)
            continue
        group = f"perfbench-pass-{len(times)}"
        with spans.span("pass", index=len(times)):
            t0 = time.perf_counter()
            first = trace.last_execution_id(spark)
            with trace.job_group(spark, group):
                wl.run_pass(spark)
            rows, counts = trace.node_metrics(spark, first), trace.job_counts(spark, group)
            times.append(time.perf_counter() - t0)
    return times, rows, counts


def run_prefixes(wl, spark, spans) -> tuple[dict, dict, list]:
    """Time of an action on each pipeline prefix, the self time of each
    layer (difference between consecutive prefixes), and the
    status-store metrics of the shortest (scan-only) prefix."""
    from perfbench import trace

    cumulative, self_s, scan_rows, prev = {}, {}, [], 0.0
    for i, (layer, action) in enumerate(wl.prefixes(spark)):
        wl.reset()
        first = trace.last_execution_id(spark)
        with spans.span("prefix", layer=layer):
            t0 = time.perf_counter()
            action()
            cumulative[layer] = time.perf_counter() - t0
        if i == 0:
            scan_rows = trace.node_metrics(spark, first)
        self_s[layer] = cumulative[layer] - prev
        prev = cumulative[layer]
    return cumulative, self_s, scan_rows


def traced_metrics(wl, spark, spans, docs_per_s: float, seconds: float) -> tuple[dict, dict, list[str]]:
    """The per-layer metrics the workload measures, the context they
    add, and defects found on the way."""
    from perfbench import trace
    from perfbench.workloads import HTML_LAYERS, KERNEL_LAYERS, PYTHON_LAYERS

    measured, notes = {}, []
    traced_times, rows, counts = timed_passes(wl, spark, seconds, spans)
    measured.update(counts)
    if PYTHON_LAYERS.keys() <= wl.layers.keys():
        measured.update(trace.python_layer(rows))
    with spans.span("layer_metrics"):
        measured.update(wl.layer_metrics(spark, rows, counts))
    cumulative, self_s, scan_rows = run_prefixes(wl, spark, spans)
    measured.update(self_s)
    measured["sources.scan_bytes"] = trace.metric_total(scan_rows, "size of files read")
    # every workload with kernel layers has html layers too
    if HTML_LAYERS.keys() <= wl.layers.keys():
        with spans.span("sample"):
            htmls = wl.sample_htmls()
            measured.update(trace.sample_html(htmls))
            if KERNEL_LAYERS.keys() <= wl.layers.keys():
                kernel_metrics, chain_matches = trace.sample_kernels(htmls)
                measured.update(kernel_metrics)
                if not chain_matches:
                    notes.append("the kernel-by-kernel replay no longer gives ocr_page's features")
    measured["trace.layer_self_share"] = sum(self_s.values()) / statistics.median(traced_times)
    traced_docs_per_s = wl.n / statistics.median(traced_times)
    measured["trace.overhead_docs_per_s"] = docs_per_s - traced_docs_per_s
    context = {"docs_per_s_traced": traced_docs_per_s, "traced_pass_s": traced_times,
               "prefix_s": cumulative, "self_s": self_s}
    return measured, context, notes


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import ocr_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(ocr_spark.__file__).startswith(os.path.join(ROOT, "")):
        print(f"perfbench: ocr_spark comes from {ocr_spark.__file__}, not from {ROOT}", file=sys.stderr)
        return 2
    from perfbench import inputs, trace
    from perfbench.workloads import PER_LAYER, WORKLOADS

    args = parse_args(argv, WORKLOADS)
    nproc = len(os.sched_getaffinity(0))
    cpus = args.cpus or max(1, nproc // 2)
    if cpus > nproc:
        print(f"perfbench: refusing local[{cpus}] on a box with {nproc} CPUs", file=sys.stderr)
        return 2
    configure_env()

    spans = trace.Spans(enabled=bool(args.trace))
    work_dir = os.path.join(CACHE, "work", str(os.getpid()))
    cls = WORKLOADS[args.workload]
    wl = cls(max(inputs.FILES, round(cls.base_n * args.scale)), work_dir)
    # inputs come first, before Spark starts, and their one-time
    # generation is left out of set-up
    wl.path, gen_s = inputs.ensure(CACHE, wl.kind, args.seed, wl.n, cpus)

    spark = None
    try:
        with spans.span("setup"):
            t = time.perf_counter()
            with spans.span("session.get_spark"):
                spark = start_session(cpus)
            get_spark_s = time.perf_counter() - t
            wl.open(spark)
            t = time.perf_counter()
            with spans.span("session.warm_pass"):
                for _ in range(wl.warm_passes):
                    wl.reset()
                    wl.run_pass(spark)
            warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - gen_s

        with trace.PeakRss() as rss:
            times, cpu_s, _ = timed_passes(wl, spark, args.seconds)
        docs_per_s = wl.n / statistics.median(times)
        cpu_ms_per_doc = statistics.median(cpu_s) / wl.n * 1000.0
        attempted, failed, notes = wl.check(spark)

        context = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace, "nproc": nproc,
            "master": f"local[{cpus}]", "input_rows": wl.n, "input_files": inputs.FILES,
            "input_gen_s": gen_s, "warm_passes": wl.warm_passes, "pass_s": times, "pass_cpu_s": cpu_s,
            "docs_per_s": docs_per_s,
        }
        if args.trace:
            measured = {"session.get_spark_s": get_spark_s, "session.warm_pass_s": warm_s / wl.warm_passes,
                        "docs_per_s": docs_per_s, "peak_rss_mb": rss.peak / 2**20}
            more, traced_context, trace_notes = traced_metrics(wl, spark, spans, docs_per_s, args.seconds)
            measured.update(more)
            notes += trace_notes
            if measured.keys() != wl.layers.keys():
                notes.append(f"per-layer metrics measured {sorted(measured.keys() ^ wl.layers.keys())} "
                             f"differ from the workload's layers")
            # the result names every per-layer metric; a layer this
            # workload never enters reads 0 and is listed as such
            metrics = {k: measured.get(k, 0.0) for k in PER_LAYER}
            trace_file = os.path.join(CACHE, "traces", f"{wl.name}-seed{args.seed}.json")
            spans.write(trace_file)
            context.update(traced_context)
            context.update({"not_applicable": [k for k in PER_LAYER if k not in wl.layers],
                            "trace_file": os.path.relpath(trace_file, ROOT)})
            units = PER_LAYER
        else:
            metrics = {"cpu_ms_per_doc": cpu_ms_per_doc, "setup_s": setup_s}
            units = END_TO_END
        context.update(ambient(spark, cpus))
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    context.update({"failed_frac": failed / attempted, "defects": notes})
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0 and not notes,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
