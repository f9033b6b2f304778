"""Outside-in measurement helpers: everything here reads Spark's own
counters or the operating system, never the program's internals.

- ``StatusStore``: the SQL status store (plan-node metrics per execution)
  and the core status store (stages, jobs), both readable with
  ``spark.ui.enabled=false`` and without running a job;
- ``ProgressListener``: per-trigger ``StreamingQueryProgress`` events;
- ``RssSampler``: one thread sampling the RSS of this process tree;
- ``Tracer``: in-memory spans around calls into the program's layers;
- ``noop`` / ``timed``: the timed action that computes every column.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def now_ms() -> int:
    return int(time.time() * 1000)


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> number (bytes, seconds or a count).
    Multi-task values read 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.strip().split("\n")[-1]
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    if len(parts) > 1:
        value *= _SIZE.get(parts[1], _TIME_S.get(parts[1], 1.0))
    return value


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class StatusStore:
    """Reads per-execution plan-node metrics and per-stage task metrics
    recorded by Spark's listeners inside a wall-clock window."""

    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.core = spark.sparkContext._jsc.sc().statusStore()
        self.jvm = spark._jvm

    def executions(self, t0: int, t1: int) -> list[dict]:
        out = []
        for x in _seq(self.sql.executionsList()):
            if not t0 <= x.submissionTime() <= t1:
                continue
            values = self.sql.executionMetrics(x.executionId())
            nodes = []
            for n in _seq(self.sql.planGraph(x.executionId()).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        try:
                            metrics[m.name()] = parse_metric(v.get())
                        except ValueError:
                            pass
                nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
            out.append({"nodes": nodes})
        return out

    def stages(self, t0: int, t1: int) -> dict:
        st = self.core
        stages = st.stageList(None, False, False,
                              getattr(st, "stageList$default$4")(),
                              getattr(st, "stageList$default$5")())
        agg = {"tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for s in _seq(stages):
            sub = _opt_ms(s.submissionTime())
            if sub is None or not t0 <= sub <= t1:
                continue
            agg["tasks"] += s.numCompleteTasks()
            agg["shuffle_bytes"] += s.shuffleWriteBytes()
            agg["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return agg

    def job_count(self, t0: int, t1: int) -> int:
        return sum(1 for j in _seq(self.core.jobsList(None))
                   if t0 <= (_opt_ms(j.submissionTime()) or -1) <= t1)

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans)


def node_sum(executions: list[dict], node_prefix: str, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0) for x in executions
               for n in x["nodes"] if n["name"].startswith(node_prefix))


def node_count(executions: list[dict], node_prefix: str) -> int:
    return sum(1 for x in executions for n in x["nodes"]
               if n["name"].startswith(node_prefix))


def make_progress_listener():
    """A StreamingQueryListener keeping each trigger's progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self, expected: int, timeout_s: float = 10.0) -> list[dict]:
            """Progress events arrive asynchronously: wait for `expected`."""
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                with self._lock:
                    if len(self.progress) >= expected:
                        break
                time.sleep(0.05)
            with self._lock:
                out, self.progress = self.progress, []
            return out

    return ProgressListener()


class RssSampler:
    """Samples the resident set size of this process and all descendants
    (the JVM, the Python worker daemon and its forks) on one thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.samples: list[tuple[float, int, int]] = []  # (t, tree, max worker)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[tuple[int, bool, int]]:
        children: dict[int, list[int]] = {}
        info: dict[int, tuple[bool, int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{entry}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            pid = int(entry)
            children.setdefault(ppid, []).append(pid)
            info[pid] = (name.startswith("python"), rss)
        out, stack, root = [], [os.getpid()], os.getpid()
        while stack:
            pid = stack.pop()
            if pid in info:
                is_py, rss = info[pid]
                # a Python process below the JVM is a Spark Python worker
                out.append((pid, is_py and pid != root, rss))
            stack.extend(children.get(pid, []))
        return out

    def _run(self):
        while not self._stop.is_set():
            procs = self._tree()
            total = sum(rss for _p, _w, rss in procs)
            worker = max((rss for _p, w, rss in procs if w), default=0)
            self.samples.append((time.time(), total, worker))
            self._stop.wait(self.interval_s)

    def peak_mb(self, t0: float = 0.0, t1: float = float("inf"), worker: bool = False) -> float:
        idx = 2 if worker else 1
        vals = [s[idx] for s in self.samples if t0 <= s[0] <= t1]
        return max(vals, default=0) / (1 << 20)


class Tracer:
    """In-memory spans (name, start, end, parent, run id) recorded around
    calls into the program; written out once, at the end of the run."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time covered by its direct children,
        summed per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def noop(df) -> None:
    """Computes every column of `df` and discards the rows."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args):
    t = time.perf_counter()
    result = fn(*args)
    return time.perf_counter() - t, result
