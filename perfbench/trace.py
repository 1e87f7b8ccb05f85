"""Measurement helpers: spans, process-tree RSS, Spark's own counters.

Nothing here changes what the program computes. Spark metrics are read
from the SQL status store (it works with the UI disabled) and from the
status tracker, after the action they describe has finished.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory spans (name, start, end, parent), written out at the end.

    Disabled, ``span`` only yields, so untraced runs pay nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
               "start_s": time.perf_counter() - self._t0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- process tree --------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (driver JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every live
    process below it, with the children each of them has reaped."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class PeakRss:
    """Samples the RSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- Spark status store -------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_QTY = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(KiB|MiB|GiB|TiB|B|ms|s|m|h)?(?![A-Za-z])")


def parse_metric(text: str) -> list[float]:
    """Spark's formatted SQL metric -> [total, (min, med, max)] in bytes,
    seconds or counts. Per-task stats come after a newline:
    ``total (min, med, max (stageId: taskId))\\n1.2 s (10 ms, 0.3 s, 0.5 s (stage 2.0: task 4))``."""
    body = text.split("\n", 1)[-1]
    body = body.split("(stage", 1)[0]
    return [float(v.replace(",", "")) * _UNITS.get(u or "", 1.0) for v, u in _QTY.findall(body)[:4]]


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def node_metrics(spark, after_id: int) -> list[tuple[int, str, str, list[float]]]:
    """(execution id, node name, metric name, parsed value) for every
    metric reported by executions newer than ``after_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    out.append((eid, node.name().strip(), metric.name(), parse_metric(v.get())))
    return out


def metric_total(rows, name: str, node_prefix: str = "") -> float:
    return sum(v[0] for _, node, m, v in rows if m == name and node.startswith(node_prefix) and v)


def python_layer(rows) -> dict[str, float]:
    """The Python boundary, from the nodes that run Python workers."""
    py = [r for r in rows if r[2] == "data sent to Python workers"]
    per_exec: dict[int, int] = {}
    for eid, *_ in py:
        per_exec[eid] = per_exec.get(eid, 0) + 1
    skew = [v[3] / v[2] for _, _, m, v in rows if m == "time to run Python workers" and len(v) == 4 and v[2] > 0]
    return {
        "operators.extract.python_nodes": max(per_exec.values(), default=0),
        "operators.extract.bytes_to_python": metric_total(rows, "data sent to Python workers"),
        "operators.extract.bytes_from_python": metric_total(rows, "data returned from Python workers"),
        "operators.extract.python_run_s": metric_total(rows, "time to run Python workers"),
        "operators.extract.python_start_s": metric_total(rows, "time to start Python workers"),
        "operators.extract.udf_task_max_over_median": max(skew, default=0.0),
    }


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages that ran at least one task, and tasks, for a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else []:
            st = tracker.getStageInfo(s)
            if st and st.numCompletedTasks:
                stages += 1
                tasks += st.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# -- driver-side sampling -------------------------------------------------

def percentiles(values: list[float]) -> tuple[float, float]:
    """(median, p90) of a non-empty sample."""
    if len(values) == 1:
        return values[0], values[0]
    return statistics.median(values), statistics.quantiles(values, n=10)[-1]


def time_ms(fn, *args, repeats: int = 3):
    """(result, best-of-``repeats`` wall time in ms) of fn(*args)."""
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn(*args)
        best = min(best, time.perf_counter() - t0)
    return out, best * 1000.0


HTML_STEPS = ("sniff_decode", "parse_blocks", "extract_main_text", "extract_embedded_pnm")


def sample_html(htmls: list[bytes]) -> dict[str, float]:
    """Per-page cost of each ``functions.html_extract`` phase."""
    from ocr_spark.functions import html_extract as hx

    cols: dict[str, list[float]] = {k: [] for k in HTML_STEPS}
    for raw in htmls:
        (text, _), ms = time_ms(hx.sniff_decode, raw)
        cols["sniff_decode"].append(ms)
        cols["parse_blocks"].append(time_ms(hx.parse_blocks, text)[1])
        cols["extract_main_text"].append(time_ms(hx.extract_main_text, raw)[1])
        cols["extract_embedded_pnm"].append(time_ms(hx.extract_embedded_pnm, raw)[1])
    out = {}
    for k, v in cols.items():
        out[f"functions.html_extract.{k}_ms.median"], out[f"functions.html_extract.{k}_ms.p90"] = percentiles(v)
    return out


KERNEL_STEPS = ("pnm.decode_gray", "stats.background", "pointwise.divide", "stats.calc_statistics",
                "pointwise.binarize", "geometry.detect_skew", "geometry.skew", "segment.page_layout")


def _kernel_chain(pnm_bytes: bytes, ms: dict[str, float]) -> dict:
    """``operators.stages.ocr_page``'s chain, one kernel call at a time,
    adding each call's wall time to ``ms``; returns the same features."""
    from ocr_spark.kernels import geometry, pnm, pointwise, segment, stats

    def timed(step, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        ms[step] += (time.perf_counter() - t0) * 1000.0
        return out

    page = timed("pnm.decode_gray", pnm.decode_gray, bytes(pnm_bytes))
    bg = timed("stats.background", stats.background, page, 8.0)
    flat = timed("pointwise.divide", pointwise.divide, page, bg)
    s = timed("stats.calc_statistics", stats.calc_statistics, flat)
    binp = timed("pointwise.binarize", pointwise.binarize, flat, s["graythr"])
    angle = timed("geometry.detect_skew", geometry.detect_skew, binp)
    if angle != 0.0:
        binp = timed("geometry.skew", geometry.skew, binp, angle)
        binp = timed("pointwise.binarize", pointwise.binarize, binp, 0.5)
    lay = timed("segment.page_layout", segment.page_layout, binp)
    return {"graythr": s["graythr"], "skew_deg": float(angle), "n_lines": lay["n_lines"],
            "n_glyphs": lay["n_glyphs"], "ink_ratio": lay["ink_ratio"]}


def sample_kernels(htmls: list[bytes]) -> tuple[dict[str, float], bool]:
    """Per-page cost of ``ocr_page`` and of each kernel in its chain,
    over the pages that carry a scan. Also returns whether
    the one-kernel-at-a-time replay gave ``ocr_page``'s features, i.e.
    whether the breakdown still describes the program's chain."""
    from ocr_spark.functions.html_extract import extract_embedded_pnm
    from ocr_spark.operators.stages import ocr_page

    per_step: dict[str, list[float]] = {k: [] for k in KERNEL_STEPS}
    whole: list[float] = []
    same = True
    for raw in htmls:
        pnm_bytes = extract_embedded_pnm(raw)
        if pnm_bytes is None:
            continue
        (feats, _), ms = time_ms(ocr_page, pnm_bytes)
        whole.append(ms)
        best = {k: float("inf") for k in KERNEL_STEPS}
        for _ in range(3):
            run = {k: 0.0 for k in KERNEL_STEPS}
            replay = _kernel_chain(pnm_bytes, run)
            best = {k: min(best[k], run[k]) for k in KERNEL_STEPS}
        same = same and all(feats[k] == v for k, v in replay.items())
        for k in KERNEL_STEPS:
            per_step[k].append(best[k])
    out = {}
    out["operators.stages.ocr_page_ms.median"], out["operators.stages.ocr_page_ms.p90"] = percentiles(whole)
    for k, v in per_step.items():
        out[f"kernels.{k}_ms.median"], out[f"kernels.{k}_ms.p90"] = percentiles(v)
    return out, same
