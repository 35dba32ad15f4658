"""Measurement helpers: spans, process-tree RSS, Spark event log and the
PySpark ``perf`` UDF profile.

Spans are recorded from the benchmark's own files around calls into the
program's public functions; they stay in memory until ``Tracer.write``.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent span and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, obj, attr: str, name):
        """Patch obj.attr so each call is recorded as a span; name is a
        string or a function of (args, kwargs). Returns the undo
        function."""
        orig = getattr(obj, attr)

        def traced(*args, **kwargs):
            with self.span(name if isinstance(name, str) else name(args, kwargs)):
                return orig(*args, **kwargs)

        setattr(obj, attr, traced)
        return lambda: setattr(obj, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_time(self, name: str) -> float:
        """Duration of the named spans minus the time their direct
        children cover."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        child = sum(s["end"] - s["start"] for s in self.spans
                    if s["parent"] in ids)
        return self.total(name) - child

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def _stat_fields(pid: int | str) -> list[str]:
    """/proc/<pid>/stat from field 3 (state) on; raises OSError if the
    process has ended."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Pids of every descendant of root, zombies included."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                children.setdefault(int(_stat_fields(pid)[1]), []).append(int(pid))
            except OSError:
                continue  # the process ended while we listed
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by root and its
    descendants, including the children they have reaped. Time the
    hypervisor steals from the virtual CPUs is not in it."""
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            ticks += sum(map(int, _stat_fields(pid)[11:15]))
        except OSError:
            pass
    return ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        t = list(map(int, f.readline().split()[1:9]))
    return t[7], sum(t)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and its Python workers), sampled from /proc while
    the sampler is running."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def _is_ner_stage(info: dict) -> bool:
    return any("MapInPandas" in (r.get("Scope") or "") or
               "MapInPandas" in (r.get("Name") or "")
               for r in info.get("RDD Info", ()))


def parse_event_log(log_dir: str, group_prefix: str, wall_s: float,
                    cores: int) -> dict[str, float]:
    """Engine metrics over the jobs whose job group starts with
    group_prefix, from the uncompressed JSON-lines event log."""
    job_stages: dict[int, list[int]] = {}
    ner_stages: set[int] = set()
    stage_tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        job_stages[ev["Job ID"]] = ev["Stage IDs"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if _is_ner_stage(info):
                        ner_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    stage_tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
    stages = {s for ids in job_stages.values() for s in ids if s in stage_tasks}
    tasks = [t for s in stages for t in stage_tasks[s]]

    def tsum(key: str) -> float:
        return float(sum(t.get(key, 0) for t in tasks))

    run_s = tsum("Executor Run Time") / 1e3
    shuffle_read = sum(
        t.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + t.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
        for t in tasks)
    shuffle_write = sum(
        t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        for t in tasks)
    skew = 0.0
    ner = [s for s in stages if s in ner_stages]
    if ner:
        # the heaviest NER stage: where one slow url-hash task sets the
        # stage time
        top = max(ner, key=lambda s: sum(t["Executor Run Time"] for t in stage_tasks[s]))
        times = [t["Executor Run Time"] for t in stage_tasks[top]]
        skew = max(times) / max(statistics.median(times), 1)
    return {
        "spark.jobs": float(len(job_stages)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(len(tasks)),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": tsum("Executor CPU Time") / 1e9,
        "spark.gc_s": tsum("JVM GC Time") / 1e3,
        "spark.shuffle_write_bytes": float(shuffle_write),
        "spark.shuffle_read_bytes": float(shuffle_read),
        "spark.spill_bytes": tsum("Memory Bytes Spilled") + tsum("Disk Bytes Spilled"),
        "spark.idle_core_frac": 1.0 - run_s / (wall_s * cores),
        "spark.ner_stage_task_skew": skew,
    }


# (metric suffix, module file name, function name)
_UDF_FUNCS = [
    ("encode_words", "subword.py", "encode_words"),
    ("enumerate_spans", "subword.py", "enumerate_spans"),
    ("score_batch", "model.py", "score_batch"),
    ("forward_markers", "model.py", "forward_markers"),
    ("collate", "model.py", "collate"),
    ("greedy_decode", "model.py", "greedy_decode"),
]


def parse_perf_profile(dump_dir: str) -> dict[str, float]:
    """Summed worker CPU per NER-UDF function from the pstats files
    that ``spark.profile.dump`` wrote."""
    out = {f"ner.udf.{m}_s": 0.0 for m, _, _ in _UDF_FUNCS}
    out.update({"ner.udf.total_cpu_s": 0.0, "ner.udf.self_s": 0.0,
                "ner.udf.score_batch_calls": 0.0,
                "ner.udf.encode_words_calls": 0.0})
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        out["ner.udf.total_cpu_s"] += st.total_tt
        for (fname, _, func), (_, ncalls, tottime, cumtime, _) in st.stats.items():
            base = os.path.basename(fname)
            for metric, module, name in _UDF_FUNCS:
                if func == name and base == module:
                    out[f"ner.udf.{metric}_s"] += cumtime
                    if metric in ("score_batch", "encode_words"):
                        out[f"ner.udf.{metric}_calls"] += ncalls
            if base == "ner.py":
                # the fused fn and the comprehensions inside it
                # (gazetteer lookup, regroup)
                out["ner.udf.self_s"] += tottime
    return out
