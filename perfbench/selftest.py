#!/usr/bin/env python3
"""Fast self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs ``run.py`` on sf0.001-sized tables and a 4-table catalog, one second of
measuring each, and asserts that:

- every metric of ``BENCHMARK.json`` is emitted with its unit, end-to-end
  metrics untraced and per-layer metrics traced;
- a deliberately corrupted result (a row count off by one, a dropped ADD
  PARTITION line) is counted as failed;
- ``cache.cached_df.calls`` is 0 on ``headline_unstaged`` and positive on
  ``lsh_staged``, and the extractor's counts are 0 on query workloads;
- in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  command exits non-zero without printing a result;
- no process started by a run, zombies included, is left once it exits.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def session_members(sid: int) -> list[str]:
    """Command lines of the processes, zombies too, in session ``sid``."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[3]) == sid:
            found.append(stat[:stat.rindex(")") + 1])
    return found


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    """Run the benchmark in a session of its own and assert that no process
    of that session outlives it."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    out, err = proc.communicate(timeout=300)
    left = session_members(proc.pid)
    assert not left, f"left running after the run: {left}"
    return subprocess.CompletedProcess(proc.args, proc.returncode, out, err)


def result(workload: str, trace: int, *extra: str) -> dict:
    proc = run(workload, trace, *extra)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["attempted"] >= 1 and 0 <= res["failed"] <= res["attempted"], res
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, (got, want)
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()), res
    return res


def value(res: dict, name: str) -> float:
    return res["metrics"][name]["value"]


def test_corrupted_row_count_is_a_failure() -> None:
    res = result("headline_unstaged", 0, "--corrupt", "rows")
    assert res["failed"] >= 1 and not res["correct"], res


def test_unstaged_sweep_never_stages() -> None:
    res = result("headline_unstaged", 1)
    assert res["correct"], res
    assert value(res, "cache.cached_df.calls") == 0
    assert value(res, "tables.load.calls") > 0 and value(res, "exec.jobs") > 0
    assert all(v["value"] == 0 for k, v in res["metrics"].items() if k.startswith("extractor.")), res


def test_staged_sweep_stages_and_hits() -> None:
    res = result("lsh_staged", 1)
    assert res["correct"], res
    assert value(res, "cache.cached_df.calls") > 0 and value(res, "cache.cached_df.hits") > 0
    assert value(res, "cache.stage_bytes") > 0
    assert all(v["value"] == 0 for k, v in res["metrics"].items() if k.startswith("extractor.")), res


def test_extract_is_checked() -> None:
    res = result("ddl_extract", 0, "--tiny")
    assert res["correct"], res
    res = result("ddl_extract", 1, "--tiny", "--corrupt", "partition")
    assert res["failed"] >= 1 and not res["correct"], res
    assert value(res, "extractor.get_partitions.calls") > 0
    assert value(res, "extractor.sql.describe_calls") > 0


def test_fails_without_the_program() -> None:
    bare = os.path.join(ROOT, ".perfbench_scratch", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = run("lsh_staged", 0, cwd=bare)
        assert proc.returncode != 0 and '"metrics"' not in proc.stdout, proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        if not os.listdir(os.path.dirname(bare)):
            os.rmdir(os.path.dirname(bare))


def main() -> int:
    tests = [v for k, v in globals().items() if k.startswith("test_")]
    for test in tests:
        test()
        print(f"ok {test.__name__}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
