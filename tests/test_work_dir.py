"""_fresh_work_dir regression tests (round-6 verdict item 1 + 6).

The round-6 snapshot commit introduced a module-level `shutil` use without
the module-level import — every streaming/bucketed query died on NameError
and no test exercised the helper. These tests (a) call the helper directly
so a missing import can never ship silently again, and (b) pin the reaping
contract: dead-pid siblings older than the race-guard window are reaped,
fresh dirs are never touched (pid reuse / startup race), and stale dirs
are reaped regardless of what the pid probe says.
"""

from __future__ import annotations

import os
import time

import pytest

from robokop_build_spark.plans.benchmark_queries import _fresh_work_dir


def _mkdir_with_age(base: str, name: str, age_s: float) -> str:
    path = os.path.join(base, name)
    os.makedirs(path, exist_ok=True)
    stamp = time.time() - age_s
    os.utime(path, (stamp, stamp))
    return path


def _dead_pid() -> int:
    # fork+exit gives a real, definitely-dead pid that existed on this host
    pid = os.fork()
    if pid == 0:
        os._exit(0)
    os.waitpid(pid, 0)
    return pid


def test_fresh_work_dir_returns_pid_keyed_path(tmp_path):
    base = str(tmp_path / "scratch")
    work = _fresh_work_dir(base, "0.01")
    assert work == os.path.join(base, f"sf0.01_pid{os.getpid()}")


def test_own_dir_wiped_on_reuse_and_kept_with_wipe_false(tmp_path):
    base = str(tmp_path / "scratch")
    work = _fresh_work_dir(base, "0.01")
    os.makedirs(work)
    marker = os.path.join(work, "marker")
    open(marker, "w").close()
    # wipe=False (write-once layouts) keeps the caller's own dir
    assert _fresh_work_dir(base, "0.01", wipe=False) == work
    assert os.path.exists(marker)
    # default wipe=True clears it
    _fresh_work_dir(base, "0.01")
    assert not os.path.exists(work)


def test_dead_pid_sibling_reaped_once_past_race_window(tmp_path):
    base = str(tmp_path / "scratch")
    dead = _dead_pid()
    reapable = _mkdir_with_age(base, f"sf0.1_pid{dead}", age_s=2 * 3600)
    _fresh_work_dir(base, "0.01")
    assert not os.path.exists(reapable)


def test_fresh_dead_pid_sibling_survives_race_window(tmp_path):
    # A dir created moments ago may belong to a run whose pid probe races
    # us (or a recycled pid) — never reap inside the min-age window.
    base = str(tmp_path / "scratch")
    dead = _dead_pid()
    fresh = _mkdir_with_age(base, f"sf0.1_pid{dead}", age_s=60)
    _fresh_work_dir(base, "0.01")
    assert os.path.exists(fresh)


def test_live_pid_sibling_survives(tmp_path):
    base = str(tmp_path / "scratch")
    # pid 1 is always alive; os.kill(1, 0) raises PermissionError for us,
    # which the reaper must treat as "live owner"
    live = _mkdir_with_age(base, "sf0.1_pid1", age_s=2 * 3600)
    _fresh_work_dir(base, "0.01")
    assert os.path.exists(live)


def test_stale_sibling_reaped_even_if_pid_probe_says_alive(tmp_path):
    # pid-reuse guard: an orphan pinned by a recycled live pid must still
    # age out (reaped past the max-age window regardless of the probe)
    base = str(tmp_path / "scratch")
    stale = _mkdir_with_age(base, "sf0.1_pid1", age_s=3 * 86400)
    _fresh_work_dir(base, "0.01")
    assert not os.path.exists(stale)


def test_non_pid_dirs_never_touched(tmp_path):
    base = str(tmp_path / "scratch")
    other = _mkdir_with_age(base, "unrelated_dir", age_s=10 * 86400)
    _fresh_work_dir(base, "0.01")
    assert os.path.exists(other)


def _committed(workdir: str) -> list[str]:
    if not os.path.isdir(workdir):
        return []
    return sorted(
        d
        for d in os.listdir(workdir)
        if os.path.exists(os.path.join(workdir, d, "_STAGE_COMMITTED"))
    )


def test_kg_queries_build_fresh_under_a_new_source_key(spark, fixture_dir, monkeypatch):
    """A new source_key() gives the kg_* queries a new workdir and the
    goldens a new directory, and the build there starts from no committed
    stage; the same key in the same process reuses the workdir."""
    import shutil

    from robokop_build_spark.datagen import fixtures
    from robokop_build_spark.datagen.oracle_fixtures import oracle_dir
    from robokop_build_spark.plans import benchmark_queries as BQ
    from robokop_build_spark.plans import pipeline as P

    run_pipeline = P.run_pipeline
    seen = []  # (workdir, stages committed there when the build starts)

    def spy(spark, fx, workdir, **kwargs):
        seen.append((workdir, _committed(workdir)))
        return run_pipeline(spark, fx, workdir, **kwargs)

    monkeypatch.setattr(P, "run_pipeline", spy)
    monkeypatch.setattr(BQ, "_fixture_dir_for", lambda sf_dir: fixture_dir)
    goldens = []
    try:
        for key in ("keyA", "keyB", "keyB"):
            monkeypatch.setattr(fixtures, "source_key", lambda k=key: k)
            assert BQ.kg_end_to_end(spark, "/root/testdata/sf0.001").count() > 0
            goldens.append(oracle_dir(0.001))
    finally:
        for work in {w for w, _ in seen}:
            shutil.rmtree(work, ignore_errors=True)
    (work_a, before_a), (work_b, before_b), (work_b2, before_b2) = seen
    assert work_a.endswith(f"_keyA_pid{os.getpid()}") and before_a == []
    assert work_b.endswith(f"_keyB_pid{os.getpid()}") and before_b == []
    assert work_b2 == work_b and "mentions" in before_b2
    assert goldens[0].endswith("_keyA") and goldens[1] == goldens[2]
    assert goldens[1].endswith("_keyB")


def test_source_key_covers_every_package_source(tmp_path):
    """source_key() covers sources outside datagen/: editing
    operators/expand.py in a copy of the package changes it."""
    import shutil
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(
        os.path.join(root, "robokop_build_spark"),
        tmp_path / "robokop_build_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )

    def key() -> str:
        return subprocess.run(
            [sys.executable, "-c", "from robokop_build_spark.datagen.fixtures "
             "import source_key; print(source_key())"],
            cwd=tmp_path, capture_output=True, text=True, check=True,
        ).stdout.strip()

    before = key()
    with open(tmp_path / "robokop_build_spark/operators/expand.py", "a") as f:
        f.write("# edited\n")
    assert key() != before
