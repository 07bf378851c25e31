"""Measurement helpers: process-tree RSS sampling, spans around layer calls,
and per-span Spark counters read from the UI's REST API.

Spans are recorded only by the benchmark, around its calls into each
layer's public function. Every span runs its Spark jobs under a job group
named after the span, so the REST API (``/api/v1``) can attribute stages
and SQL scan metrics to it afterwards. Spans stay in memory until
``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request

_PAGE = os.sysconf("SC_PAGE_SIZE")
UNTRACED = "untraced"
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def process_uptime_s() -> float:
    """Seconds since this process was created (kernel start time, 10 ms
    resolution), so interpreter start-up counts too."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    return now - start_ticks / os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live descendant process of ``root``."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants_rss_bytes(root: int) -> int:
    """Summed RSS of every descendant of ``root`` (the Spark driver JVM and
    the Python workers it forks), excluding ``root`` itself."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread tracking the peak of descendants_rss_bytes."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def parse_size(text: str) -> float:
    """'811.4 KiB' -> bytes, as the SQL REST API formats size metrics."""
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)", text)
    if not m:
        raise ValueError(f"not a size metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def parse_count(text: str) -> int:
    return int(text.split("\n")[0].replace(",", "").strip())


class Tracer:
    """Spans with wall times, each tagged with a Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"{name}#{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec["group"])
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            outer = self._stack[-1] if self._stack else UNTRACED
            self.sc.setJobGroup(outer, outer)

    def last(self, name: str) -> dict:
        """The most recent finished span called ``name``."""
        return next(s for s in reversed(self.spans) if s["name"] == name and "end" in s)

    # --- REST counters ------------------------------------------------------

    def _api(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def _settle(self, timeout_s: float = 10.0) -> list[dict]:
        """Jobs list once the listener has recorded every job as finished."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self._api("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def collect_counters(self) -> None:
        """Attach Spark stage and scan counters to every recorded span.

        Per span: run_s (task time), gc_s, shuffle bytes/records, spill,
        task skew (max / median task duration, worst stage), and from the
        SQL plan the parquet bytes read and exploded (Generate) rows."""
        jobs = self._settle()
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        sql = self._api("/sql?details=true&planDescription=false&length=100000")
        stage_cache: dict[int, dict | None] = {}

        def stage(sid: int) -> dict | None:
            if sid not in stage_cache:
                done = [s for s in self._api(f"/stages/{sid}") if s["status"] == "COMPLETE"]
                stage_cache[sid] = done[-1] if done else None
            return stage_cache[sid]

        for rec in self.spans:
            group_jobs = by_group.get(rec["group"], [])
            job_ids = {j["jobId"] for j in group_jobs}
            stages = [
                s for s in (stage(sid) for sid in sorted({x for j in group_jobs for x in j["stageIds"]}))
                if s is not None
            ]
            skew = 1.0
            for s in stages:
                if s["numTasks"] < 2:
                    continue
                q = self._api(
                    f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )["duration"]
                if q[0] > 0:
                    skew = max(skew, q[1] / q[0])
            scan_bytes = 0.0
            generated = 0
            for e in sql:
                if not job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                    continue
                for node in e["nodes"]:
                    metrics = {m["name"]: m["value"] for m in node["metrics"]}
                    if node["nodeName"].startswith("Scan parquet") and "size of files read" in metrics:
                        scan_bytes += parse_size(metrics["size of files read"])
                    if node["nodeName"] == "Generate" and "number of output rows" in metrics:
                        generated += parse_count(metrics["number of output rows"])
            rec["counters"] = {
                "jobs": len(group_jobs),
                "run_s": sum(s["executorRunTime"] for s in stages) / 1000,
                "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000,
                "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
                "shuffle_write_records": sum(s["shuffleWriteRecords"] for s in stages),
                "spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
                "task_skew": skew,
                "scan_bytes": scan_bytes,
                "generated_rows": generated,
            }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
