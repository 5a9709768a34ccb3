"""SparkSession factory.

Local mode runs one JVM with N executor threads; on a real cluster the same
configs hold, with AQE doing runtime re-planning (broadcast-join demotion,
skew-join splitting, partition coalescing). Everything here is plain public
Spark configuration.

JVM start-up archive
--------------------
The paper's workload is one cold start plus one short extract, and most of
that start is the JVM loading Spark's and the metastore's classes. When
``get_spark`` launches the JVM itself, it starts it from a JDK dynamic
class-data-sharing (AppCDS) archive, which JDK 17 cannot create on its own
(``-XX:+AutoCreateSharedArchive`` is JDK 19+):

- The archive is ``${XDG_CACHE_HOME:-~/.cache}/hive_ddl_extract_tool_spark/
  <key>-{hive|mem}.jsa``, one per catalog mode, 170-210 MB each. The key
  hashes the ``java`` binary, the Spark version and the
  ``$SPARK_HOME/jars`` listing, so a JDK or Spark upgrade records a new
  archive and the old one is deleted. To reset it, delete that
  directory. Every caller of ``get_spark`` shares it, the test suite and
  ``tools/catalog_parity.py`` included, so the first of them to run on a
  machine records it.
- The first session of a mode records it (``-XX:ArchiveClassesAtExit``).
  It starts 5-8 s slower, and at exit Python waits ~19 s (up to
  ``DUMP_TIMEOUT_S``) while the JVM writes the archive. The dump goes to
  a temporary file that becomes the archive only if the JVM exited 0,
  because a truncated archive crashes the next JVM at start; a caller
  that kills the JVM sooner (``perfbench`` waits 30 s) publishes nothing,
  and the next session records again. Later sessions map it
  (``-XX:SharedArchiveFile``). One the JVM cannot use falls back to a
  normal start; the session then finds the archive missing from the
  JVM's ``/proc/<pid>/maps`` and deletes it, so the next session records
  a fresh one (the key cannot cover everything the JVM checks, such as
  the base CDS archive of an updated JDK under an unchanged ``java``).
  The flag a session got is in its ``spark.driver.extraJavaOptions``.
- The JDK refuses to record with a non-empty directory on the class path,
  and Spark puts its conf dir there. So the archive is used only when the
  conf dir holds nothing but ``*.template`` files (the launch then points
  ``SPARK_CONF_DIR`` at an empty directory, which changes nothing Spark
  reads) and no other directory can join the class path
  (``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH``,
  ``PYSPARK_SUBMIT_ARGS`` and ``spark.driver.extraClassPath`` unset). A
  ``hive-site.xml`` or ``spark-defaults.conf`` in the conf dir turns it
  off. A ``hive-site.xml`` in the directory named by ``HIVE_CONF_DIR``
  does not: Hive's client reads it from there when the class path has
  none, so that is how a run reaches an existing metastore and keeps the
  archive (Spark then takes its own warehouse dir from
  ``spark.sql.warehouse.dir``, not from that file).
- A driver launched by ``spark-submit`` never uses it: its JVM is up
  before Python runs. That includes the kerberized setup in the README,
  which needs ``HADOOP_CONF_DIR`` too.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shlex
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Seconds a recording session's exit waits for the JVM's dump (~19 s).
DUMP_TIMEOUT_S = 120


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "hive-ddl-extract-tool-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    enable_hive: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are sized for local[N] testing but are the same knobs that
    matter on a 1000-executor cluster:

    - AQE on (runtime join-strategy selection, skew splitting, partition
      coalescing) -- at 100 TB the static plan is always wrong somewhere.
    - shuffle.partitions ~ cores locally; at scale you'd set it to
      2-3x total executor cores and let AQE coalesce.
    - Arrow on for any pandas interchange (vectorized, batch transfer).
    - Session timezone pinned to UTC so timestamp semantics are stable
      across driver machines (and match the DuckDB oracle).
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Split size sized to the test SF (single ~10 MB parquet files):
        # the default 128 MB would scan each table in ONE task, idling the
        # other 31 cores (measured: q02 1.05s -> 0.81s). At 100 TB with
        # many-GB file sets, raise back toward 128 MB so task count stays
        # ~2-3x cores, not millions.
        .config("spark.sql.files.maxPartitionBytes", "4m")
    )
    if enable_hive:
        builder = builder.enableHiveSupport()
    conf = dict(extra_conf or {})
    archive = _plan_archive(enable_hive, conf)
    if archive is not None:
        opts = conf.get("spark.driver.extraJavaOptions", "")
        flags = " ".join(shlex.quote(f) for f in archive.flags)
        conf["spark.driver.extraJavaOptions"] = f"{opts} {flags}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate() if archive is None else archive.launch(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def archive_key(java: str, spark_version: str, jars_dir: str) -> str:
    """Hash of what the archived classes come from: the ``java`` binary,
    the Spark version and the name and size of every jar in ``jars_dir``."""
    st = os.stat(java)
    h = hashlib.sha256(f"{os.path.realpath(java)} {st.st_size} {st.st_mtime_ns} {spark_version}".encode())
    for name in sorted(os.listdir(jars_dir)):
        h.update(f"\n{name} {os.path.getsize(os.path.join(jars_dir, name))}".encode())
    return h.hexdigest()[:16]


class _Archive:
    """The archive flag of one JVM launch, and on a miss the recording's
    promotion at exit."""

    def __init__(self, final: str, conf_dir: str) -> None:
        self.final = final
        self.conf_dir = conf_dir
        if os.path.isfile(final):
            self.tmp = None
            self.flags = [f"-XX:SharedArchiveFile={final}"]
        else:
            self.tmp = f"{final}.{os.getpid()}.tmp"
            # the dump warns once per class it skips (~500 lines on stdout)
            self.flags = [f"-XX:ArchiveClassesAtExit={self.tmp}", "-Xlog:cds=error"]

    def launch(self, builder: SparkSession.Builder) -> SparkSession:
        """``builder.getOrCreate()`` with the JVM's conf dir pointed at the
        empty one, restored for the rest of this process."""
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        if self.tmp is not None:
            atexit.register(self._promote, SparkContext._gateway.proc)
        else:
            self._drop_if_unmapped(SparkContext._gateway.proc.pid)
        return spark

    def _drop_if_unmapped(self, pid: int) -> None:
        """Delete the archive if the JVM ``pid`` did not map it, so that the
        next session records a fresh one. Skipped where ``/proc`` is
        missing."""
        try:
            with open(f"/proc/{pid}/maps") as f:
                mapped = self.final in f.read()
        except OSError:
            return
        if not mapped:
            try:
                os.remove(self.final)
            except FileNotFoundError:
                pass

    def _promote(self, proc: subprocess.Popen) -> None:
        """End the JVM (it exits when its stdin closes), let it finish the
        dump, and publish the recording only if the JVM exited 0."""
        if proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(timeout=DUMP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode == 0 and os.path.isfile(self.tmp):
            os.replace(self.tmp, self.final)
            _sweep(self.final)
        elif os.path.exists(self.tmp):
            os.remove(self.tmp)


def _plan_archive(enable_hive: bool, conf: dict[str, str]) -> _Archive | None:
    """The archive for a JVM this call is about to launch, or None when no
    JVM is launched here or its class path could hold a non-empty
    directory."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if any(os.environ.get(v) for v in
           ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS")):
        return None
    if "spark.driver.extraClassPath" in conf:
        return None
    from pyspark import __version__
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(f.endswith(".template") for f in os.listdir(conf_dir)):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    root = os.path.join(cache, "hive_ddl_extract_tool_spark")
    empty = os.path.join(root, "empty-conf")
    try:
        key = archive_key(java, __version__, os.path.join(spark_home, "jars"))
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
    except OSError:
        return None
    return _Archive(os.path.join(root, f"{key}-{'hive' if enable_hive else 'mem'}.jsa"), empty)


def _sweep(final: str) -> None:
    """Keep one archive per mode: delete the other keys' archives of the
    mode of ``final`` and every recording whose writer is gone."""
    root, name = os.path.split(final)
    mode = name.split("-", 1)[1]
    for f in os.listdir(root):
        if f.endswith(".tmp"):
            try:
                pid = int(f.rsplit(".", 2)[1])
            except ValueError:
                continue
            if _alive(pid):
                continue
        elif not (f.endswith(f"-{mode}") and f != name):
            continue
        try:
            os.remove(os.path.join(root, f))
        except FileNotFoundError:
            pass


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True
