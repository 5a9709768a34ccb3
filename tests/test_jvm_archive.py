"""The JVM start-up archive of `session.get_spark` (see its module
docstring): the first session records it, later ones map it, one the JVM
rejects only costs the speed-up, a JVM that did not exit cleanly publishes
nothing, and a real file in the conf dir turns it off while a metastore
named by `HIVE_CONF_DIR` does not. Each session runs in
its own process with its own `XDG_CACHE_HOME`, because the archive flag
applies only to a JVM launched by that call."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hive_ddl_extract_tool_spark.session import _sweep, archive_key

MARK = "ARCHIVE_PROBE "

# One session on the in-memory catalog (`hive`: a Hive metastore): a
# caller's own JVM option, a partitioned table extracted, and what the JVM
# was started with. With `kill`, the JVM is SIGKILLed before Python exits.
SESSION = textwrap.dedent(f"""
    import json, os, signal, sys
    sys.path.insert(0, {REPO!r})
    from hive_ddl_extract_tool_spark.catalog.extractor import extract_ddl
    from hive_ddl_extract_tool_spark.session import get_spark

    spark = get_spark(cpus=1, enable_hive="hive" in sys.argv,
                      extra_conf={{"spark.driver.extraJavaOptions": "-Dprobe.x=1"}})
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    with open(f"/proc/{{pid}}/maps") as f:
        mapped = sorted({{ln.split()[-1] for ln in f if ln.rstrip().endswith(".jsa")}})
    spark.sql("CREATE DATABASE d")
    spark.sql("CREATE TABLE d.t (a INT, s STRING) USING parquet PARTITIONED BY (s)")
    spark.sql("INSERT INTO d.t VALUES (1, 'x'), (2, 'y')")
    print({MARK!r} + json.dumps({{
        "cds": [a for a in args if a.startswith(("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit"))],
        "mapped": mapped,
        "probe_x": jvm.java.lang.System.getProperty("probe.x"),
        "conf": spark.conf.get("spark.probe.conf", None),
        "script": extract_ddl(spark, "d", "*", None),
        "pid": os.getpid(),
    }}), flush=True)
    if "kill" in sys.argv:
        os.kill(pid, signal.SIGKILL)
""")


def _conf_dir(path, files: dict[str, str]) -> str:
    path.mkdir()
    for name, text in files.items():
        (path / name).write_text(text)
    return str(path)


def _session(cache, conf_dir: str, workdir, *argv: str, **extra_env: str) -> dict:
    os.makedirs(workdir, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if k not in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                        "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "HIVE_CONF_DIR")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=conf_dir, **extra_env)
    proc = subprocess.run([sys.executable, "-c", SESSION, *argv], cwd=workdir, env=env,
                          capture_output=True, text=True, timeout=300)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith(MARK)]
    assert lines, f"session did not start (rc={proc.returncode}):\n{proc.stderr[-3000:]}"
    return json.loads(lines[0][len(MARK):])


def _files(cache, suffix: str) -> list[str]:
    root = cache / "hive_ddl_extract_tool_spark"
    return sorted(f for f in os.listdir(root) if f.endswith(suffix)) if root.is_dir() else []


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


@pytest.fixture(scope="module")
def templates_only(tmp_path_factory) -> str:
    return _conf_dir(tmp_path_factory.mktemp("conf") / "conf",
                     {"spark-defaults.conf.template": "spark.probe.conf 42\n"})


@pytest.fixture(scope="module")
def miss(tmp_path_factory, templates_only):
    """A first session in a cache that holds another key's archive of the
    same mode and a dead writer's recording."""
    cache = tmp_path_factory.mktemp("cache")
    root = cache / "hive_ddl_extract_tool_spark"
    root.mkdir()
    (root / "0123456789abcdef-mem.jsa").write_bytes(b"old")
    (root / f"0123456789abcdef-mem.jsa.{_dead_pid()}.tmp").write_bytes(b"partial")
    return cache, _session(cache, templates_only, tmp_path_factory.mktemp("work"))


@pytest.fixture(scope="module")
def hit(miss, templates_only, tmp_path_factory):
    cache, _ = miss
    return _session(cache, templates_only, tmp_path_factory.mktemp("work"))


def test_first_session_records_the_archive(miss):
    cache, run = miss
    assert len(run["cds"]) == 1 and run["cds"][0].startswith("-XX:ArchiveClassesAtExit=")
    assert "-mem.jsa" in run["cds"][0]
    assert "CREATE TABLE" in run["script"]
    # promoted after the clean exit; the other key's archive and the dead
    # writer's recording are gone
    assert len(_files(cache, ".jsa")) == 1
    assert _files(cache, ".jsa")[0] != "0123456789abcdef-mem.jsa"
    assert _files(cache, ".tmp") == []


def test_later_session_maps_the_archive(miss, hit):
    cache, first = miss
    archive = str(cache / "hive_ddl_extract_tool_spark" / _files(cache, ".jsa")[0])
    assert hit["cds"] == [f"-XX:SharedArchiveFile={archive}"]
    assert archive in hit["mapped"]
    assert hit["script"] == first["script"]


def test_caller_java_options_survive(miss, hit):
    for run in (miss[1], hit):
        assert run["probe_x"] == "1"
        assert len(run["cds"]) == 1


def test_killed_jvm_publishes_nothing(tmp_path, templates_only):
    cache = tmp_path / "cache"
    killed = _session(cache, templates_only, tmp_path / "w1", "kill")
    assert killed["cds"][0].startswith("-XX:ArchiveClassesAtExit=")
    assert _files(cache, ".jsa") == [] and _files(cache, ".tmp") == []
    # the next session starts (and records)
    assert "CREATE TABLE" in _session(cache, templates_only, tmp_path / "w2")["script"]
    assert len(_files(cache, ".jsa")) == 1


def test_stale_archive_falls_back_to_a_normal_start(miss, tmp_path, templates_only):
    # recorded with another cache's empty conf dir on the class path, so
    # the JVM rejects it
    cache, first = miss
    name = _files(cache, ".jsa")[0]
    stale = tmp_path / "cache" / "hive_ddl_extract_tool_spark" / name
    stale.parent.mkdir(parents=True)
    stale.write_bytes((cache / "hive_ddl_extract_tool_spark" / name).read_bytes())
    run = _session(tmp_path / "cache", templates_only, tmp_path / "w")
    assert run["cds"] == [f"-XX:SharedArchiveFile={stale}"]
    assert str(stale) not in run["mapped"]
    assert run["script"] == first["script"]
    # the rejected archive is deleted, the next session records a fresh
    # one and the one after maps it
    assert not stale.exists()
    again = _session(tmp_path / "cache", templates_only, tmp_path / "w2")
    assert again["cds"] == [f"-XX:ArchiveClassesAtExit={stale}.{again['pid']}.tmp"]
    assert stale.is_file()
    mapped = _session(tmp_path / "cache", templates_only, tmp_path / "w3")
    assert mapped["cds"] == [f"-XX:SharedArchiveFile={stale}"]
    assert str(stale) in mapped["mapped"]
    assert mapped["script"] == first["script"]


def test_real_conf_file_turns_the_archive_off(tmp_path):
    conf_dir = _conf_dir(tmp_path / "conf", {"spark-defaults.conf": "spark.probe.conf 42\n"})
    cache = tmp_path / "cache"
    run = _session(cache, conf_dir, tmp_path)
    assert run["cds"] == []
    assert run["conf"] == "42"
    assert run["probe_x"] == "1"
    assert not cache.exists()


def test_hive_conf_dir_names_the_metastore_and_keeps_the_archive(tmp_path, templates_only):
    # the way a run reaches an existing metastore without a conf-dir file
    metastore = tmp_path / "metastore"
    hive_conf = _conf_dir(tmp_path / "hive-conf", {"hive-site.xml": (
        "<configuration><property><name>javax.jdo.option.ConnectionURL</name>"
        f"<value>jdbc:derby:;databaseName={metastore};create=true</value>"
        "</property></configuration>")})
    cache = tmp_path / "cache"
    run = _session(cache, templates_only, tmp_path / "w", "hive", "kill", HIVE_CONF_DIR=hive_conf)
    assert len(run["cds"]) == 1 and run["cds"][0].startswith("-XX:ArchiveClassesAtExit=")
    assert "-hive.jsa" in run["cds"][0]
    assert "CREATE TABLE" in run["script"]
    assert metastore.is_dir() and not (tmp_path / "w" / "metastore_db").exists()
    assert _files(cache, ".jsa") == [] and _files(cache, ".tmp") == []


def test_key_follows_jar_sizes(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"abc")
    (jars / "b.jar").write_bytes(b"b")
    key = archive_key(sys.executable, "4.1.2", str(jars))
    assert archive_key(sys.executable, "4.1.2", str(jars)) == key
    assert archive_key(sys.executable, "4.1.3", str(jars)) != key
    (jars / "a.jar").write_bytes(b"abcd")
    assert archive_key(sys.executable, "4.1.2", str(jars)) != key


def test_sweep_keeps_one_archive_per_mode(tmp_path):
    names = {
        "k1-mem.jsa": True,                        # the one promoted
        "k0-mem.jsa": False,                       # another key, same mode
        "k0-hive.jsa": True,                       # another mode
        f"k1-hive.jsa.{os.getpid()}.tmp": True,    # a live writer's recording
        f"k1-mem.jsa.{_dead_pid()}.tmp": False,    # a dead writer's
    }
    for name in names:
        (tmp_path / name).write_bytes(b"x")
    _sweep(str(tmp_path / "k1-mem.jsa"))
    assert sorted(os.listdir(tmp_path)) == sorted(n for n, kept in names.items() if kept)
