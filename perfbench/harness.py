"""Spark-free parts of the benchmark: statistics, tracing, host and memory
sampling, and the mapping from recorded samples to the metrics declared in
``BENCHMARK.json``.

Nothing here starts Spark, so ``selftest.py`` can exercise all of it in a
second or two.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty
    sequence: the value at rank ``(n - 1) * q / 100`` of the sorted data."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them: the run-to-run spread a bound is compared against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def pair_win_frac(a, b) -> float:
    """Share of the pairs ``(a[i], b[i])`` in which ``a`` took less time;
    ties count for neither side."""
    if len(a) != len(b) or not a:
        raise ValueError("pair_win_frac needs two equally long, non-empty sequences")
    return sum(1 for x, y in zip(a, b) if x < y) / len(a)


def overhead_frac(untraced, traced) -> float:
    """Tracing overhead: median traced operation time over median untraced
    operation time, minus one."""
    return statistics.median(traced) / statistics.median(untraced) - 1.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans and counters, written out once at the end.

    A span records (name, start, end, parent, op id). When ``enabled`` is
    false every method is a no-op apart from running the wrapped call, so
    the same workload code serves traced and untraced operations. The
    ``job_stats`` hook, when given, is a context manager factory whose dict
    receives the Spark jobs, stages and tasks a call ran.
    """

    def __init__(self, job_stats=None):
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._op_id = None
        self._job_stats = job_stats
        self._t0 = time.perf_counter()

    @contextmanager
    def op(self, kind: str, op_id: int):
        """Root span of one closed-loop operation."""
        self._op_id = op_id
        with self.span(f"op.{kind}"):
            yield
        self._op_id = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def call(self, name: str, fn, *args, _jobs: str | None = None, **kwargs):
        """Run one call into the package under a span named ``name``; its
        duration lands in ``samples[name]``. With ``_jobs`` the
        ``job_stats`` hook counts the Spark work the call ran, as samples
        ``<_jobs>jobs``, ``<_jobs>stages`` and ``<_jobs>tasks``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        counting = _jobs is not None and self._job_stats is not None
        with self.span(name), (self._job_stats() if counting else nullcontext({})) as stats:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.samples[name].append(time.perf_counter() - t0)
        for k, v in stats.items():  # filled in when the hook's context closes
            self.samples[f"{_jobs}{k}"].append(v)
        return out

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[name] += value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(value)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"counters": dict(self.counters)}) + "\n")


# ---------------------------------------------------------------------------
# closed-loop operation log
# ---------------------------------------------------------------------------


class OpLog:
    """Every timed operation by kind: wall seconds, CPU seconds of the
    process tree, items, whether it ran traced, and the host's steal share
    while it ran. Metrics read CPU seconds (see README.md)."""

    def __init__(self):
        self.ops: dict[str, list[dict]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0

    def add(self, kind: str, wall_s: float, cpu_s: float, items: int, traced: bool, steal_pct: float = 0.0) -> None:
        self.ops[kind].append(
            {"wall_s": wall_s, "cpu_s": cpu_s, "items": items, "traced": traced, "steal_pct": steal_pct}
        )

    def times(self, kind: str, traced: bool = False) -> list[float]:
        """CPU seconds of the ``kind`` operations, untraced by default."""
        return [o["cpu_s"] for o in self.ops.get(kind, []) if o["traced"] == traced]

    def rate(self, kind: str) -> float:
        """Items per CPU second over the untraced operations of ``kind``."""
        rows = [o for o in self.ops.get(kind, []) if not o["traced"]]
        return sum(o["items"] for o in rows) / sum(o["cpu_s"] for o in rows)

    def pairs(self) -> tuple[list[float], list[float]]:
        """(untraced, traced) CPU seconds matched per kind by occurrence
        order: the i-th untraced and the i-th traced operation of a kind
        form a pair."""
        a, b = [], []
        for kind in self.ops:
            un, tr = self.times(kind), self.times(kind, traced=True)
            n = min(len(un), len(tr))
            a += un[:n]
            b += tr[:n]
        return a, b


# ---------------------------------------------------------------------------
# host and memory
# ---------------------------------------------------------------------------


def cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    total = user + nice + system + idle + iowait + irq + softirq + steal
    return user + nice + system + irq + softirq, steal, total


def host_delta(before, after) -> dict:
    busy = after[0] - before[0]
    steal = after[1] - before[1]
    total = max(after[2] - before[2], 1)
    return {"steal_pct": 100.0 * steal / total, "cpu_busy_frac": busy / total}


def process_age_s() -> float:
    """Seconds since this process started (the zero of ``setup_s``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_usage(root_pid: int) -> tuple[int, float]:
    """(resident bytes, CPU seconds) of ``root_pid`` and every descendant
    (driver, JVM and Python workers). CPU seconds include reaped children,
    and exclude time stolen by the hypervisor."""
    children = defaultdict(list)
    usage = {}
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        children[int(fields[1])].append(int(d))
        usage[int(d)] = (int(fields[21]) * page, sum(int(x) for x in fields[11:15]) / tick)
    rss, cpu, todo = 0, 0.0, [root_pid]
    while todo:
        p = todo.pop()
        r, c = usage.get(p, (0, 0.0))
        rss, cpu = rss + r, cpu + c
        todo += children.get(p, [])
    return rss, cpu


class RssSampler:
    """Background thread keeping the peak resident bytes of this process
    tree."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage(pid)[0])
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def load_declared(path: str) -> dict:
    """Metric declarations of BENCHMARK.json, checked for the name and unit
    rules: {'end_to_end': {name: unit}, 'per_layer': {name: unit}}."""
    with open(path) as f:
        spec = json.load(f)
    out = {}
    seen = set()
    for group in ("end_to_end", "per_layer"):
        out[group] = {}
        for m in spec[group]:
            if not NAME_RE.match(m["name"]) or m["name"] in seen:
                raise ValueError(f"bad or repeated metric name {m['name']!r}")
            if not UNIT_RE.match(m["unit"]):
                raise ValueError(f"bad unit {m['unit']!r} for {m['name']}")
            seen.add(m["name"])
            out[group][m["name"]] = m["unit"]
    return out


def end_to_end_metrics(log: OpLog, roles: dict, setup_s: float,
                       index_bytes_per_input_byte: float) -> tuple[dict, dict]:
    """End-to-end metrics of an untraced run as ({name: value},
    {name: sample count}). ``roles`` maps the slots ``a``-``c`` to the
    workload's operation kinds."""
    ta, tb, tc = (log.times(roles[s]) for s in "abc")
    values = {
        "setup_s": setup_s,
        "index_bytes_per_input_byte": index_bytes_per_input_byte,
        "op_a_cpu_p50_s": percentile(ta, 50),
        "op_b_cpu_p50_s": percentile(tb, 50),
        "op_b_items_per_cpu_s": log.rate(roles["b"]),
        "op_c_items_per_cpu_s": log.rate(roles["c"]),
    }
    counts = {
        "setup_s": 1, "index_bytes_per_input_byte": 1,
        "op_a_cpu_p50_s": len(ta),
        "op_b_cpu_p50_s": len(tb), "op_b_items_per_cpu_s": len(tb), "op_c_items_per_cpu_s": len(tc),
    }
    return values, counts


def per_layer_metrics(tracer: Tracer, log: OpLog, declared: dict, fixed: dict) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run as ({name: value}, {name: sample
    count}). A layer metric is the median of the samples the tracer took
    under that name, ``fixed`` supplies values measured once (setup phases,
    host), and a layer the workload never called reads 0."""
    values, counts = {}, {}
    for name in declared:
        if name in fixed:
            values[name], counts[name] = float(fixed[name]), 1
        elif name in tracer.counters:
            values[name], counts[name] = float(tracer.counters[name]), 1
        elif tracer.samples.get(name):
            values[name] = statistics.median(tracer.samples[name])
            counts[name] = len(tracer.samples[name])
        else:
            values[name], counts[name] = 0.0, 0
    un, tr = log.pairs()
    if un:
        values["tracing.overhead_frac"] = overhead_frac(un, tr)
        values["tracing.untraced_win_frac"] = pair_win_frac(un, tr)
        counts["tracing.overhead_frac"] = counts["tracing.untraced_win_frac"] = len(un)
    return values, counts
