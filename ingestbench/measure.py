"""Measurement helpers for the ingest benchmark: process-tree CPU and
memory from /proc, spans around the calls jobs.ingest makes, and
Spark's status REST API.

Spans are recorded from the benchmark's side only: while a Tracer is
installed, the engine functions jobs.ingest calls (and the DataFrame
actions and parquet reads it issues itself) are replaced by wrappers
that time them and label the Spark jobs they start. Only top-level
calls become spans; a call made inside another wrapped call is part of
its parent's span.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import re
import threading
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
MIB = 1 << 20


def _pss(pid: str) -> int:
    """Proportional set size in bytes: RSS with each shared page split
    among the processes sharing it, so forked children (the Python
    daemon's workers, the JVM's short-lived helpers) are not counted
    twice. A process that exited meanwhile counts 0."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(b")") + 2 :].split()
        cpu = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), cpu)
    return out


def _descendants(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, out = list(children.get(root, ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, ())
    return out


class ProcSampler:
    """Samples the summed PSS of every process this one started (the
    Spark JVM, the Python daemon and its workers) on a thread, and
    reads their summed CPU on demand. Not this process itself. One
    sample walks the JVM's page tables and took ~20 ms on the 4-core
    reference host, so samples are 0.5 s apart."""

    def __init__(self, interval: float = 0.5):
        if not os.path.exists("/proc/self/smaps_rollup"):
            raise RuntimeError("peak_rss_mb needs /proc/<pid>/smaps_rollup (Linux 4.14+)")
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self):
        stats = _proc_stats()
        return {p: stats[p] for p in _descendants(stats, os.getpid())}

    def _memory(self) -> int:
        return sum(_pss(str(p)) for p in self._tree())

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, self._memory())

    def cpu_s(self) -> float:
        return sum(c for _p, c in self._tree().values()) / _TICK

    def reset_peak(self) -> None:
        self.peak_rss = self._memory()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def host_cpu() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# layer of each function jobs.ingest calls; write_table is split by the
# table it writes, and an action or parquet read inherits the layer of
# the engine call before it
_TABLE_LAYER = {
    "extracted": "pipeline.extract",
    "chunks": "pipeline.chunk",
    "vectors": "pipeline.vector",
    "lineage": "lineage",
}
_CALLS = {
    "jobs.ingest": {
        "get_spark": "session",
        "with_partition_key": "pipeline.plan",
        "build_extracted": "pipeline.plan",
        "observe_extraction": "pipeline.plan",
        "build_chunks": "pipeline.plan",
        "build_vectors": "pipeline.plan",
        "build_lineage": "lineage",
        "write_table": None,
        "commit_snapshot": "commit",
        "upsert_latest": "pipeline.upsert",
        "_has_parquet_files": "io.scan",
    },
    "engine.checkpoint": {"load_done_keys": "commit", "mark_done": "commit"},
    "engine.partitioning": {"with_write_partitions": "pipeline.plan"},
    "engine.pipeline": {
        "changed_docs": "pipeline.changed_docs",
        "stale_chunk_keys": "vector_sink",
    },
    "engine.io.vector_sink": {
        "sink_vectors": "vector_sink",
        "sink_vector_deletes": "vector_sink",
    },
    "engine.io.validate": {"assert_pages_schema": "io.scan"},
}
_ACTIONS = ("count", "collect", "localCheckpoint")


class Tracer:
    """Install with `with Tracer(sc) as tr:` around one jobs.ingest.run
    call; tr.spans then holds (name, layer, start, end) per top-level
    call, and every Spark job started inside a span carries the span's
    layer as its description."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, str, float, float]] = []
        self._depth = 0
        self._layer = "ingest"
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name, layer_of):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._depth:
                return fn(*args, **kwargs)
            layer = layer_of(args)
            if layer is None:
                layer = tracer._layer
            tracer._layer = layer
            tracer.sc.setJobDescription(layer)
            tracer._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._depth -= 1
                tracer.spans.append((name, layer, t0, time.perf_counter()))

        return traced

    def _patch(self, owner, attr, layer_of):
        fn = getattr(owner, attr)
        self._saved.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(fn, attr, layer_of))

    def __enter__(self):
        import importlib

        from pyspark.sql.readwriter import DataFrameReader

        try:  # the class of the DataFrames a classic session hands out
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        for mod_name, calls in _CALLS.items():
            mod = importlib.import_module(mod_name)
            for attr, layer in calls.items():
                if attr == "write_table":
                    layer_of = lambda a: _TABLE_LAYER.get(  # noqa: E731
                        os.path.basename(a[1].rstrip("/")), "io.write"
                    )
                else:
                    layer_of = lambda a, _l=layer: _l  # noqa: E731
                self._patch(mod, attr, layer_of)
        self._patch(DataFrameReader, "parquet", lambda a: "io.scan")
        for attr in _ACTIONS:
            self._patch(DataFrame, attr, lambda a: None)
        return self

    def __exit__(self, *exc):
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        self.sc.setJobDescription(None)

    def layer_s(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for _n, layer, t0, t1 in self.spans:
            out[layer] = out.get(layer, 0.0) + (t1 - t0)
        return out

    def covered_s(self) -> float:
        return sum(t1 - t0 for _n, _l, t0, t1 in self.spans)

    def ends(self, name: str) -> list[float]:
        return [t1 for n, _l, _t0, t1 in self.spans if n == name]


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"^([0-9.]+) ?([A-Za-z]*)")


def parse_sql_metric(value: str) -> float:
    """Spark SQL UI metric text -> bytes, seconds or a plain count."""
    text = value.split("\n")[-1].strip()
    m = _METRIC_RE.match(text.replace(",", ""))
    if not m:
        return 0.0
    num, unit = float(m.group(1)), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _ts(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class SparkRest:
    """Reads the driver's status REST API (stages and SQL executions)."""

    def __init__(self, sc):
        port = re.search(r":(\d+)$", sc.uiWebUrl).group(1)
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.seen_stage = self.max_stage()
        self.seen_sql = self.max_sql()

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def max_stage(self) -> int:
        return max((s["stageId"] for s in self.get("/stages")), default=-1)

    def max_sql(self) -> int:
        return max(
            (int(e["id"]) for e in self.get("/sql?details=false&length=100000")),
            default=-1,
        )

    def mark(self) -> None:
        """Forget everything up to now; collect() then covers later work."""
        self.seen_stage = self.max_stage()
        self.seen_sql = self.max_sql()

    def collect(self) -> dict:
        """Per-layer Spark counters of the stages and SQL executions
        started since the last mark()."""
        stages = [
            s
            for s in self.get("/stages?status=complete")
            if s["stageId"] > self.seen_stage
        ]
        execs = [
            e
            for e in self.get("/sql?details=true&planDescription=false&length=100000")
            if int(e["id"]) > self.seen_sql
        ]
        py = dict.fromkeys(("run", "start", "init", "sent", "returned"), 0.0)
        names = {
            "time to run Python workers": "run",
            "time to start Python workers": "start",
            "time to initialize Python workers": "init",
            "data sent to Python workers": "sent",
            "data returned from Python workers": "returned",
        }
        for e in execs:
            for node in e.get("nodes", ()):
                for m in node.get("metrics", ()):
                    if m["name"] in names:
                        py[names[m["name"]]] += parse_sql_metric(m["value"])

        def wall(s):
            return _ts(s["completionTime"]) - _ts(s["submissionTime"])

        extract = [s for s in stages if s.get("description") == "pipeline.extract"]
        # the extraction UDF runs in the map side of the dedup exchange
        udf_stages = [s for s in extract if s["shuffleWriteBytes"] > 0]
        skew = 1.0
        if udf_stages:
            big = max(udf_stages, key=lambda s: s["executorRunTime"])
            q = self.get(
                f"/stages/{big['stageId']}/{big['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            skew = q[1] / q[0] if q[0] else 1.0
        return {
            "io.input_mb": sum(s["inputBytes"] for s in stages) / MIB,
            "io.output_mb": sum(s["outputBytes"] for s in stages) / MIB,
            "io.write_s": sum(wall(s) for s in stages if s["outputBytes"] > 0),
            "udfs.python_s": py["run"],
            "udfs.worker_start_s": py["start"] + py["init"],
            "udfs.mb_to_python": py["sent"] / MIB,
            "udfs.mb_from_python": py["returned"] / MIB,
            "pipeline.dedup_shuffle_mb": sum(s["shuffleWriteBytes"] for s in extract) / MIB,
            "pipeline.spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            )
            / MIB,
            "pipeline.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "pipeline.task_skew": skew,
        }
