"""Spans around calls into the package's layers, recorded from outside it.

``Tracer.install`` rebinds the public functions of each layer -- ``load``
and ``cached_df`` in every module that imported them by name, the catalog
extractor's functions, and the session's ``sql`` attribute -- to wrappers
that record a span (name, start, end, parent id, request id) and restores
them on ``uninstall``. Spans stay in memory until ``write``. Spark's side
(jobs, stages, tasks, shuffle and spill bytes) comes from the event log,
read by ``EventLog`` after the session stops.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "hive_ddl_extract_tool_spark"
EXTRACTOR_FUNCS = ("get_partitions", "get_create_ddl", "get_table_location", "list_tables", "table_section")
NESTED = ("tables.load", "cache.cached_df")
SQL_KINDS = (
    ("DESCRIBE", "describe"),
    ("SHOW CREATE TABLE", "show_create"),
    ("SHOW PARTITIONS", "show_partitions"),
)


@dataclass
class Span:
    id: int
    parent: int | None
    req: str
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > reach:
            total += hi - max(lo, reach)
            reach = hi
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: tuple[int, str] | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, attrs: dict | None = None, result_attrs=None, **kwargs):
        """Run fn inside a span; ``result_attrs(result)`` adds attributes
        taken from the result. Spans opened on threads the benchmark did not
        start (the extractor's pools) hang off the current request."""
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sid = next(self._ids)
        req = parent[1] if parent else name
        stack.append((sid, req))
        attrs = dict(attrs or {})
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            attrs["ok"] = True
            if result_attrs is not None:
                attrs.update(result_attrs(result))
            return result
        except Exception:
            attrs["ok"] = False
            raise
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent[0] if parent else None, req, name, t0, t1, attrs))

    def request(self, req: str, name: str, fn, *args, **kwargs):
        """A top-level span: one operation of a pass (a query or an extract)."""
        sid = next(self._ids)
        self._root = (sid, req)
        self._stack().append((sid, req))
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack().pop()
            self._root = None
            with self._lock:
                self.spans.append(Span(sid, None, req, name, t0, t1, {}))

    # -- instrumentation ---------------------------------------------------

    def _rebind(self, orig, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PACKAGE) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)

    def install(self, spark) -> None:
        from hive_ddl_extract_tool_spark import tables
        from hive_ddl_extract_tool_spark.catalog import extractor
        from hive_ddl_extract_tool_spark.operators import _cache

        load, cached_df = tables.load, _cache.cached_df

        def traced_load(*a, **k):
            return self.call("tables.load", load, *a, **k)

        def traced_cached_df(spark_, key, builder):
            hit = (spark_.sparkContext.applicationId, key) in _cache._CACHE
            return self.call("cache.cached_df", cached_df, spark_, key, builder, attrs={"hit": hit, "key": key})

        self._rebind(load, traced_load)
        self._rebind(cached_df, traced_cached_df)
        for fname in EXTRACTOR_FUNCS:
            orig = getattr(extractor, fname)

            counts = (lambda r: {"partitions": len(r)}) if fname == "get_partitions" else None

            def wrapped(*a, _orig=orig, _name=fname, _counts=counts, **k):
                return self.call("extractor." + _name, _orig, *a, result_attrs=_counts, **k)

            self._rebind(orig, wrapped)

        sql = spark.sql

        def traced_sql(query, *a, **k):
            kind = next((k_ for prefix, k_ in SQL_KINDS if query.startswith(prefix)), "other")
            serde = kind == "show_create" and query.rstrip().endswith("AS SERDE")
            return self.call("sql." + kind, sql, query, *a, attrs={"serde": serde}, **k)

        spark.sql = traced_sql
        self._patched.append((spark, "sql", None))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(obj, attr)  # instance attribute over the class method
            else:
                setattr(obj, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({"id": s.id, "parent": s.parent, "req": s.req, "name": s.name,
                                    "start": s.start, "end": s.end, **s.attrs}) + "\n")

    # -- per-layer metrics ---------------------------------------------------

    def layer_metrics(self, reqs: list[str]) -> dict[str, float]:
        """Per-layer totals over the spans of the given requests (one pass)."""
        wanted = set(reqs)
        spans = [s for s in self.spans if s.req in wanted]
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def self_time(s: Span) -> float:
            """Duration minus the nested load / cached_df calls it made."""
            nested = [(c.start, c.end) for c in children.get(s.id, []) if c.name in NESTED]
            return s.dur - covered(nested)

        def named(name: str) -> list[Span]:
            return [s for s in spans if s.name == name]

        cache = named("cache.cached_df")
        hits = sum(1 for s in cache if s.attrs.get("hit"))
        gp = named("extractor.get_partitions")
        parts = sum(s.attrs.get("partitions", 0) for s in gp)
        sql = [s for s in spans if s.name.startswith("sql.")]
        describe_s = sum(s.dur for s in named("sql.describe"))
        gp_s = sum(s.dur for s in gp)
        sections = [s.dur for s in named("extractor.table_section")]
        return {
            "tables.load.calls": len(named("tables.load")),
            "tables.load.s": sum(s.dur for s in named("tables.load")),
            "operators.build.self_s": sum(self_time(s) for s in named("operators.build")),
            "cache.cached_df.calls": len(cache),
            "cache.cached_df.hits": hits,
            "cache.cached_df.hit_ratio": hits / len(cache) if cache else 0.0,
            "cache.cached_df.miss_self_s": sum(self_time(s) for s in cache if not s.attrs.get("hit")),
            "exec.action_s": sum(s.dur for s in named("exec.action")),
            "extractor.get_partitions.calls": len(gp),
            "extractor.get_partitions.s": gp_s,
            "extractor.get_create_ddl.s": sum(s.dur for s in named("extractor.get_create_ddl")),
            "extractor.get_table_location.s": sum(s.dur for s in named("extractor.get_table_location")),
            "extractor.list_tables.s": sum(s.dur for s in named("extractor.list_tables")),
            "extractor.table_section.p50_s": statistics.median(sections) if sections else 0.0,
            "extractor.sql.describe_calls": len(named("sql.describe")),
            "extractor.sql.show_create_calls": len(named("sql.show_create")),
            "extractor.sql.show_partitions_calls": len(named("sql.show_partitions")),
            "extractor.sql.failed": sum(1 for s in sql if s.attrs.get("serde") and not s.attrs["ok"]),
            "extractor.sql_per_partition": len(sql) / parts if parts else 0.0,
            "extractor.describe_overlap": describe_s / gp_s if gp_s else 0.0,
        }


class EventLog:
    """Jobs, stages and task metrics from one application's event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, int] = {}
        self.shuffle: dict[int, int] = {}
        self.spill: dict[int, int] = {}
        self.completed: set[int] = set()
        with open(path) as f:
            for line in f:
                self._read(json.loads(line))

    def _read(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1000}
            for sid in ev["Stage IDs"]:
                self.stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            self.completed.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            written = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            self.tasks[sid] = self.tasks.get(sid, 0) + 1
            self.shuffle[sid] = self.shuffle.get(sid, 0) + written
            self.spill[sid] = self.spill.get(sid, 0) + m.get("Disk Bytes Spilled", 0)

    def metrics(self, ops: list[tuple[str, float, float]]) -> dict[str, float]:
        """Spark-side totals for one pass. ``ops`` are the pass's operations
        as (job group, wall start, wall end) in epoch seconds. A job belongs
        to the operation whose group it carries, else to the one whose wall
        interval holds its submission (jobs started on pool threads carry
        no group)."""
        groups = {g for g, _, _ in ops}
        owner: dict[int, str] = {}
        for jid, job in self.jobs.items():
            if job["group"] in groups:
                owner[jid] = job["group"]
            else:
                owner.update({jid: g for g, lo, hi in ops if lo <= job["start"] <= hi})
        stages = [sid for sid in self.completed if self.stage_job.get(sid) in owner]
        gap = 0.0
        for g, lo, hi in ops:
            busy = [(max(self.jobs[j]["start"], lo), min(self.jobs[j].get("end", hi), hi))
                    for j, o in owner.items() if o == g]
            gap += (hi - lo) - covered([b for b in busy if b[1] > b[0]])
        return {
            "exec.jobs": len(owner),
            "exec.stages": len(stages),
            "exec.tasks": sum(self.tasks.get(s, 0) for s in stages),
            "exec.job_s": sum(self.jobs[j].get("end", self.jobs[j]["start"]) - self.jobs[j]["start"]
                              for j in owner),
            "exec.driver_gap_s": gap,
            "exec.shuffle_write_bytes": sum(self.shuffle.get(s, 0) for s in stages),
            "exec.spill_bytes": sum(self.spill.get(s, 0) for s in stages),
        }
