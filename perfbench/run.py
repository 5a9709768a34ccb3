#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each invocation is one process with one
JVM on ``local[2]`` (see ``CPUS``); it writes only under
``.perfbench_scratch/`` (the generated inputs, staged dirs, the Derby
metastore, the warehouse and the event log), removed at exit, and the
traced run's spans under ``.perfbench_out/``. The process is the child
subreaper of everything it starts (the JVM, the probe's workers and
whatever they fork) and waits for all of it to end before it exits. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

Workloads (the seed draws the inputs; the sweep order is fixed, because on
``lsh_staged`` it decides which query pays for a shared artifact, and a
seeded order made ``run_s`` bimodal across seeds):

- ``headline_unstaged``: 21 of ``bench.py``'s 23 headline queries (all but
  q42 and q47) over seeded sf0.001-sized tables. None of them stages
  through ``cached_df``, so a staging change must leave it flat. It is not
  listed in ``BENCHMARK.json``: a run costs ~45 s, mostly the JVM's start
  and first pass, and the other two workloads already cover every layer.
  The self-test runs it.
- ``lsh_staged``: MinHash-LSH queries (q42, q193, q43, q106) sharing
  staged artifacts. ``clear_cache()`` runs before every pass,
  so each pass pays staging like a fresh pipeline run.
- ``ddl_extract``: the paper's workload. ``extract_ddl`` with the CLI's
  default ``ExtractConfig()`` over a seeded Hive metastore (embedded Derby):
  3 databases, 9 tables, 6 partitioned with 30 partitions, 2 tables forced
  to ADD PARTITION by an uppercase path, 2 forced to MSCK by a default
  partition.

One pass is one sweep (build each query, then ``count()`` it) or one
``extract_ddl`` call. After verification, untimed warm-up passes run for
10 seconds (5 on ``ddl_extract``, see ``WARM_SECONDS``); then passes repeat
until ``--seconds`` have gone by.

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start until the session is up, and for
  ``ddl_extract`` the seeded catalog is built in the metastore. One cold
  sample per run (a restart inside a running JVM would skip the JVM's
  launch). Generating the query workloads' input tables is the benchmark's
  own work and is left out, as are verification and warm-up.
- ``run_s``: seconds of one pass, the median over the run.
- ``peak_rss_mb``: this process's ``VmHWM`` plus the JVM's, both reset
  after warm-up and read after the timed passes, so that input generation,
  verification and the DuckDB oracle do not set the peak.

Both times are wall time less the hypervisor's steal (``unstolen``): on a
shared host other tenants' load keeps this machine's CPUs descheduled for
stretches of tens of seconds, and a pass then took up to twice as long
while doing the same work. The work and the steal are both read around
the interval: ``cpu_s``, the CPU seconds of this process and the JVM, and
``stolen_s``, the steal summed over the machine's CPUs, which accrues only
on CPUs with work to run. The figure is ``wall * cpu_s / (cpu_s +
stolen_s)``, the wall time itself where the kernel reports no steal. The
raw wall times are per-layer metrics (``setup.wall_s``, ``pass.wall_s``).

The error rate is ``failed / attempted`` of the result line. An operation
is a query or an extracted table; an exception or a failed check fails it.
Checks: once per run, outside timing, every query's rows are hash-compared
with its DuckDB oracle (``tools/verify_lib.py``) and every timed pass must
reproduce the verified row count. Every extract must equal the first one
(ignoring ``transient_lastDdlTime``) and the generator's plan (a section per
table, the planted ADD/MSCK strategy, exact partition specs); once per run
the script is replayed into renamed databases and re-extracted.

Each pass line shows ``run_s``, ``wall_s``, ``cpu_s``, ``stolen_s`` and a
spin probe read after the pass, which also marks passes slowed by other
tenants of the host.

Per-layer metrics (``--trace 1``; half of ``--seconds`` runs untraced, half
traced, each traced figure is the median over traced passes), with the
end-to-end metric and workload each should move:

    session.get_spark_s                        -> setup_s, all workloads
    setup.wall_s                               setup_s before removing steal
    pass.wall_s, pass.stolen_s                 run_s before removing steal, and
                                               the steal removed (untraced passes)
    tables.load.calls, tables.load.s           -> run_s, lsh_staged
    operators.build.self_s                     -> run_s, lsh_staged
    cache.cached_df.calls/.hits/.hit_ratio,
    cache.cached_df.miss_self_s, cache.stage_bytes -> run_s, lsh_staged
                                                  (calls is 0 on headline_unstaged)
    exec.action_s, exec.jobs/.stages/.tasks    -> run_s, lsh_staged
    exec.job_s, exec.driver_gap_s              -> run_s, lsh_staged
    exec.shuffle_write_bytes, exec.spill_bytes -> run_s, lsh_staged
    extractor.*                                -> run_s, ddl_extract
                                                  (0 on the query workloads)
    trace.overhead_s                           traced minus untraced run_s
    probe.median_s                             host contention, not a layer

``headline_unstaged`` reports the same query-layer metrics, but it is run
only by the self-test, so no listed figure depends on it.

``operators.build.self_s`` is the query builder's time minus the nested
``load``/``cached_df`` calls; ``cache.cached_df.miss_self_s`` likewise for
staging misses. ``exec.driver_gap_s`` is each query's wall time minus the
time its jobs cover. ``extractor.sql_per_partition`` is statements issued
per partition listed; ``extractor.describe_overlap`` is the summed DESCRIBE
time over the summed ``get_partitions`` time (1.0: the pool overlaps
nothing); ``extractor.sql.failed`` counts failed ``AS SERDE`` attempts.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("headline_unstaged", "lsh_staged", "ddl_extract")
# bench.py's headline queries, less the two LSH ones staged through
# cached_df (q42, q47).
NOT_HEADLINE = ("q42_minhash_lsh_dedup", "q47_ann_lsh")
# MinHash-LSH queries sharing staged artifacts (doc_shingles, q42_cand,
# q42_dsc). The rest of the family is left out to fit several passes into
# a run.
LSH = [
    "q42_minhash_lsh_dedup",
    "q193_containment_dedup",
    "q43_ngram_jaccard",
    "q106_minhash_estimator_error",
]
# Untimed warm-up after verification. A query sweep's CPU time still fell
# by a fifth over the first ~10 s after it; the extract settles within 5 s,
# and its runs are already the longer ones.
WARM_SECONDS = {"headline_unstaged": 10.0, "lsh_staged": 10.0, "ddl_extract": 5.0}
# Spark task threads, and the processor count the JVM sizes its GC and
# compiler pools by. On these inputs a pass keeps ~1.3 CPUs busy, and quiet
# lsh_staged passes took ~4.5 s on two threads against ~5.3 s on four.
CPUS = 2

END_TO_END = {"setup_s": "s", "run_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.wall_s": "s",
    "pass.wall_s": "s",
    "pass.stolen_s": "s",
    "tables.load.calls": "count",
    "tables.load.s": "s",
    "operators.build.self_s": "s",
    "cache.cached_df.calls": "count",
    "cache.cached_df.hits": "count",
    "cache.cached_df.hit_ratio": "ratio",
    "cache.cached_df.miss_self_s": "s",
    "cache.stage_bytes": "bytes",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_s": "s",
    "exec.driver_gap_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "extractor.get_partitions.calls": "count",
    "extractor.get_partitions.s": "s",
    "extractor.get_create_ddl.s": "s",
    "extractor.get_table_location.s": "s",
    "extractor.list_tables.s": "s",
    "extractor.table_section.p50_s": "s",
    "extractor.sql.describe_calls": "count",
    "extractor.sql.show_create_calls": "count",
    "extractor.sql.show_partitions_calls": "count",
    "extractor.sql.failed": "count",
    "extractor.sql_per_partition": "ratio",
    "extractor.describe_overlap": "ratio",
    "trace.overhead_s": "s",
    "probe.median_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="a 4-table catalog (self-test)")
    ap.add_argument("--corrupt", choices=("rows", "partition"),
                    help="falsify one result per timed pass (self-test)")
    return ap.parse_args(argv)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _stolen_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine, summed
    over its CPUs (the ``steal`` column of /proc/stat), 0 where not
    reported. A CPU accrues steal only while it has work to run, and in a
    run nearly all of that work is the benchmark's."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


STOLEN_START = _stolen_s()


def unstolen(wall_s: float, cpu_s: float, stolen_s: float) -> float:
    """``wall_s`` less the share of it the hypervisor withheld. The work ran
    for ``cpu_s`` CPU seconds and waited runnable but descheduled for
    ``stolen_s`` more, so with the CPUs to itself it ends after
    ``cpu_s / (cpu_s + stolen_s)`` of the wall time."""
    return wall_s * cpu_s / (cpu_s + stolen_s) if cpu_s > 0 else wall_s


def _adopt_orphans() -> None:
    """Make this process the child subreaper: a descendant whose parent
    exits (a helper the JVM forked, say) is re-parented here, not to init,
    so that ``_reap_children`` can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = str(os.getpid()), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rindex(")") + 2:].split()[1] == me:
            kids.append(int(pid))
    return kids


def _reap_children(grace_s: float = 10.0) -> None:
    """Wait until no child is left, killing those still up after ``grace_s``.
    Killing one re-parents its own children here, so loop until none."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in _children():
                try:
                    os.kill(kid, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class Bench:
    """One invocation: set-up, verification, timed passes, metrics."""

    def __init__(self, args: argparse.Namespace, scratch: str) -> None:
        from hive_ddl_extract_tool_spark.operators import _cache, all_queries
        from spans import Tracer

        self.args = args
        self.scratch = scratch
        self.hive = args.workload == "ddl_extract"
        self.cache = _cache
        self.queries = all_queries()
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.probe = None
        self.passes: list[dict] = []
        if self.hive:
            import hivecat

            self.catalog = hivecat.generate(args.seed, hivecat.TINY if args.tiny else hivecat.Shape())
        elif args.workload == "lsh_staged":
            self.order = list(LSH)
        else:
            import bench

            self.order = [n for n in bench.HEADLINE if n not in NOT_HEADLINE]

    # -- set-up --------------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        s = self.scratch
        conf = {
            "spark.local.dir": f"{s}/local",
            "spark.sql.warehouse.dir": f"{s}/warehouse",
            # TieredStopAtLevel=1 (C1 only): within a run C2 never reaches its
            # steady state, and its background compiles made passes drift
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={s}/tmp -Dderby.system.home={s}/derby "
                f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ActiveProcessorCount={CPUS}",
        }
        if self.hive:
            conf.update({
                "spark.hadoop.javax.jdo.option.ConnectionURL":
                    f"jdbc:derby:;databaseName={s}/metastore;create=true",
                "spark.hadoop.hive.exec.scratchdir": f"{s}/hive",
                "spark.hadoop.hive.exec.local.scratchdir": f"{s}/hive-local",
                "spark.hadoop.hive.downloaded.resources.dir": f"{s}/hive-resources",
            })
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{s}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self) -> None:
        from hive_ddl_extract_tool_spark.session import get_spark

        os.makedirs(f"{self.scratch}/events", exist_ok=True)
        g0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", cpus=CPUS,
                               enable_hive=self.hive, extra_conf=self._conf())
        self.get_spark_s = time.perf_counter() - g0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.hive:
            import hivecat

            hivecat.build(self.spark, self.catalog)
        self.setup_wall_s = time.perf_counter() - T_START
        self.setup_s = unstolen(self.setup_wall_s, self.cpu_s(), _stolen_s() - STOLEN_START)
        if not self.hive:
            import datagen

            self.sf_dir = datagen.write_tables(self.args.seed, f"{self.scratch}/data")

    # -- verification ------------------------------------------------------------

    def verify(self) -> None:
        if self.hive:
            import hivecat

            self.reference = hivecat.extract(self.spark)
            bad = hivecat.check_script(self.reference, self.catalog)
            self._count(len(self.catalog.tables), len(bad))
            return
        import duckdb

        from hive_ddl_extract_tool_spark.operators import all_oracles
        from tools.verify_lib import compare, register_views

        oracles = all_oracles()

        def check(name: str) -> int | None:
            """Rows of the verified result, or None."""
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                con = duckdb.connect()
                try:
                    register_views(con, self.sf_dir)
                    rel = con.sql(oracles[name])
                    ok = compare(cols, rows, list(rel.columns), rel.fetchall())
                finally:
                    con.close()
            except Exception as exc:  # a failed query is a counted failure
                print(f"verify {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                return None
            if not ok:
                print(f"verify {name}: result differs from its oracle", file=sys.stderr)
            return len(rows) if ok else None

        # Sequential, like the timed passes: the JVM keeps the heap it has
        # grown, so a concurrent burst here would set peak_rss_mb.
        self.cache.clear_cache()
        results = {name: check(name) for name in self.order}
        self.verified = {n: rows for n, rows in results.items() if rows is not None}
        self._count(len(results), len(results) - len(self.verified))

    def _count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    # -- passes ----------------------------------------------------------------

    def _query(self, name: str, traced: bool) -> int:
        if not traced:
            return self.queries[name](self.spark, self.sf_dir).count()
        df = self.tracer.call("operators.build", self.queries[name], self.spark, self.sf_dir)
        return self.tracer.call("exec.action", df.count)

    def _query_pass(self, p: int, traced: bool) -> dict:
        sc = self.spark.sparkContext
        self.cache.clear_cache()
        ops, bad = [], 0
        t0 = time.perf_counter()
        for i, name in enumerate(self.order):
            gid = f"p{p}:{name}"
            w0 = time.time()
            try:
                if traced:
                    sc.setJobGroup(gid, name)
                    n = self.tracer.request(gid, "query", self._query, name, True)
                else:
                    n = self._query(name, False)
                if self.args.corrupt == "rows" and i == 0:
                    n += 1
                ok = n == self.verified.get(name)
            except Exception as exc:  # a failed query is a counted failure
                print(f"pass {p} {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                ok = False
            ops.append((gid, w0, time.time()))
            bad += not ok
        wall_s = time.perf_counter() - t0
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self._count(len(self.order), bad)
        stage_bytes = sum(_dir_bytes(d) for _, d in self.cache._CACHE.values())
        return {"wall_s": wall_s, "ops": ops, "stage_bytes": stage_bytes}

    def _ddl_pass(self, p: int, traced: bool) -> dict:
        import hivecat

        gid = f"p{p}:extract"
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            if traced:
                self.spark.sparkContext.setJobGroup(gid, "extract_ddl")
                script = self.tracer.request(gid, "extract", hivecat.extract, self.spark)
            else:
                script = hivecat.extract(self.spark)
            error = None
        except Exception as exc:  # a failed extract fails every table
            script, error = "", exc
        wall_s = time.perf_counter() - t0
        ops = [(gid, w0, time.time())]
        if traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if error is not None:
            print(f"pass {p} extract: {type(error).__name__}: {error}", file=sys.stderr)
        if self.args.corrupt == "partition":
            lines = script.splitlines()
            drop = next(i for i, ln in enumerate(lines) if " ADD PARTITION " in ln)
            script = "\n".join(lines[:drop] + lines[drop + 1:])
        bad = hivecat.check_script(script, self.catalog) | hivecat.changed_tables(script, self.reference)
        self._count(len(self.catalog.tables), len(bad))
        return {"wall_s": wall_s, "ops": ops, "stage_bytes": 0}

    def measure(self, seconds: float, traced: bool) -> None:
        run_pass = self._ddl_pass if self.hive else self._query_pass
        t0 = time.perf_counter()
        while True:
            p = len(self.passes)
            stolen, cpu = _stolen_s(), self.cpu_s()
            r = run_pass(p, traced)
            r["stolen_s"], r["cpu_s"] = _stolen_s() - stolen, self.cpu_s() - cpu
            r["run_s"] = unstolen(r["wall_s"], r["cpu_s"], r["stolen_s"])
            r.update(pass_=p, traced=traced, probe_s=self.probe.read())
            self.passes.append(r)
            print(f"pass {p} {'traced' if traced else 'plain'} run_s={r['run_s']:.4f} "
                  f"wall_s={r['wall_s']:.4f} cpu_s={r['cpu_s']:.2f} stolen_s={r['stolen_s']:.2f} "
                  f"probe_s={r['probe_s']:.4f}", flush=True)
            if time.perf_counter() - t0 >= seconds:
                break

    # -- the run ---------------------------------------------------------------

    def _pids(self) -> tuple[str, str]:
        if not hasattr(self, "_jvm_pid"):
            self._jvm_pid = str(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return "self", self._jvm_pid

    def cpu_s(self) -> float:
        """User plus system CPU seconds of this process and the JVM, with
        their children waited for (the JVM's launcher among them)."""
        ticks = 0
        for pid in self._pids():
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
        return ticks / os.sysconf("SC_CLK_TCK")

    def reset_peak_rss(self) -> None:
        """Lower both processes' ``VmHWM`` to their current RSS."""
        for pid in self._pids():
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in self._pids():
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        return kb / 1024

    def run(self) -> dict:
        from contention import Probe

        self.setup()
        print(f"setup_s {self.setup_s:.3f} wall_s {self.setup_wall_s:.3f}", flush=True)
        t0 = time.perf_counter()
        self.verify()
        print(f"verify_s {time.perf_counter() - t0:.3f}", flush=True)
        # untimed, checked passes in timed-pass order: the JVM is still
        # compiling hot paths after the verification
        run_pass = self._ddl_pass if self.hive else self._query_pass
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < WARM_SECONDS[self.args.workload]:
            print(f"warm_s {run_pass(-1, False)['wall_s']:.3f}", flush=True)
        self.probe = Probe()
        if not self.args.trace:
            self.reset_peak_rss()
            self.measure(self.args.seconds, traced=False)
            metrics = {
                "setup_s": self.setup_s,
                "run_s": statistics.median(p["run_s"] for p in self.passes),
                "peak_rss_mb": self.peak_rss_mb(),
            }
            self.fixpoint()
            return self._result(metrics, END_TO_END)
        self.measure(self.args.seconds / 2, traced=False)
        self.tracer.install(self.spark)
        try:
            self.measure(self.args.seconds / 2, traced=True)
        finally:
            self.tracer.uninstall()
        self.fixpoint()
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        metrics = self._layer_metrics(f"{self.scratch}/events/{app_id}")
        self.tracer.write(os.path.join(
            ROOT, ".perfbench_out", f"spans_{self.args.workload}_seed{self.args.seed}.jsonl"))
        return self._result(metrics, PER_LAYER)

    def fixpoint(self) -> None:
        if self.hive:
            import hivecat

            try:
                bad = hivecat.migration_fixpoint(self.spark, self.catalog, self.reference)
            except Exception as exc:  # a failed replay fails every table
                print(f"migration fixpoint: {type(exc).__name__}: {exc}", file=sys.stderr)
                bad = {f"{t.db}.{t.name}" for t in self.catalog.tables}
            if bad:
                print(f"migration fixpoint differs for {bad}", file=sys.stderr)
            self._count(len(self.catalog.tables), len(bad))

    def _layer_metrics(self, event_log: str) -> dict[str, float]:
        from spans import EventLog

        log = EventLog(event_log)
        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        per_pass = []
        for p in traced:
            m = self.tracer.layer_metrics([gid for gid, _, _ in p["ops"]])
            m.update(log.metrics(p["ops"]))
            m["cache.stage_bytes"] = p["stage_bytes"]
            per_pass.append(m)
        metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        metrics["session.get_spark_s"] = self.get_spark_s
        metrics["setup.wall_s"] = self.setup_wall_s
        metrics["pass.wall_s"] = statistics.median(p["wall_s"] for p in plain)
        metrics["pass.stolen_s"] = statistics.median(p["stolen_s"] for p in plain)
        metrics["trace.overhead_s"] = (statistics.median(p["run_s"] for p in traced)
                                       - statistics.median(p["run_s"] for p in plain))
        metrics["probe.median_s"] = statistics.median(p["probe_s"] for p in self.passes)
        return metrics

    def _result(self, metrics: dict[str, float], units: dict[str, str]) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def close(self) -> None:
        """Stop the probe pool, the session and the JVM, waiting for each."""
        if self.probe is not None:
            self.probe.close()
        if self.spark is not None:
            self.spark.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    _adopt_orphans()
    scratch = os.path.join(ROOT, ".perfbench_scratch", str(os.getpid()))
    for sub in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    # everything this process, the JVM and its workers write lands in scratch
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    sys.path[:0] = [ROOT, HERE]
    os.chdir(scratch)
    bench = None
    try:
        bench = Bench(args, scratch)
        result = bench.run()
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            _reap_children()
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
