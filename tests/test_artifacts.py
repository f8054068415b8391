"""The session-artifact registry (aws_dms_to_hudi_spark.artifact_time):
memoization per (session, name, key), view naming, lake lifetime, and
the rule that it is the only place session state is kept."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from aws_dms_to_hudi_spark import artifact_time

REPO = Path(__file__).resolve().parent.parent


class _Counter:
    def __init__(self, value=lambda n: n):
        self.calls = 0
        self.value = value

    def __call__(self):
        self.calls += 1
        return self.value(self.calls)


def test_one_build_per_key():
    session = object()
    build = _Counter()
    first = artifact_time.get(session, "t_once", "k", build)
    assert artifact_time.get(session, "t_once", "k", build) == first
    assert build.calls == 1
    assert "t_once" in artifact_time.snapshot()


def test_different_keys_and_sessions_get_different_values():
    s1, s2 = object(), object()
    build = _Counter()
    values = {
        artifact_time.get(s1, "t_keys", "a", build),
        artifact_time.get(s1, "t_keys", "b", build),
        artifact_time.get(s2, "t_keys", "a", build),
        artifact_time.get(s1, "t_keys_other", "a", build),
    }
    assert len(values) == 4 and build.calls == 4


def test_failed_build_caches_nothing():
    session = object()

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifact_time.get(session, "t_fail", "k", boom)
    build = _Counter()
    assert artifact_time.get(session, "t_fail", "k", build) == 1
    assert build.calls == 1


def test_nested_gets_do_not_deadlock():
    session = object()
    inner = _Counter(lambda n: "inner")

    def outer():
        return artifact_time.get(session, "t_inner", "k", inner) + "+outer"

    done = []
    worker = threading.Thread(target=lambda: done.append(
        artifact_time.get(session, "t_outer", "k", outer)))
    worker.start()
    worker.join(timeout=30)
    assert done == ["inner+outer"]
    assert artifact_time.get(session, "t_inner", "k", inner) == "inner"
    assert inner.calls == 1


def test_nested_build_time_is_not_counted_twice():
    session = object()
    clock = artifact_time.total()

    def inner():
        threading.Event().wait(0.2)

    artifact_time.get(session, "t_time_outer", "k",
                      lambda: artifact_time.get(session, "t_time_inner",
                                                "k", inner))
    assert 0.2 <= artifact_time.total() - clock < 0.4


def test_entry_rebuilt_after_its_lake_is_deleted():
    session = object()
    lake_builds = _Counter(lambda n: artifact_time.lake("t_lake_"))
    outer_builds = _Counter(lambda n: artifact_time.get(
        session, "t_lake", "k", lake_builds))
    lake = artifact_time.get(session, "t_lake_outer", "k", outer_builds)
    assert lake.is_dir()
    assert artifact_time.get(session, "t_lake_outer", "k",
                             outer_builds) == lake
    shutil.rmtree(lake)
    # the outer entry depends on the lake through its nested get
    rebuilt = artifact_time.get(session, "t_lake_outer", "k", outer_builds)
    assert rebuilt != lake and rebuilt.is_dir()
    assert (lake_builds.calls, outer_builds.calls) == (2, 2)
    assert artifact_time.get(session, "t_lake", "k", lake_builds) == rebuilt


def test_lake_root_removed_at_interpreter_exit(tmp_path):
    code = ("from aws_dms_to_hudi_spark import artifact_time as a\n"
            "p = a.lake('t_exit_')\n"
            "(p / 'part-0.parquet').write_text('x')\n"
            "print(p)\n")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True,
        capture_output=True, text=True,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    ).stdout.strip()
    lake = Path(out)
    assert lake.parent.parent == tmp_path
    assert not lake.parent.exists()
    assert list(tmp_path.iterdir()) == []


def test_new_session_never_gets_another_sessions_view(spark):
    other = spark.newSession()
    mine = artifact_time.view(spark, "t_view", "k", lambda: spark.range(3))
    theirs = artifact_time.view(other, "t_view", "k", lambda: other.range(5))
    assert mine != theirs
    assert spark.table(mine).count() == 3
    assert other.table(theirs).count() == 5
    assert not other.catalog.tableExists(mine)
    assert artifact_time.view(other, "t_view", "k", lambda: 1 / 0) == theirs


def test_view_registers_each_frame_of_a_tuple(spark):
    a, b = artifact_time.view(spark, "t_pair", "k",
                              lambda: (spark.range(2), spark.range(4)))
    assert (spark.table(a).count(), spark.table(b).count()) == (2, 4)


def _program_files():
    files = [REPO / "__spark_entry__.py"]
    files += sorted((REPO / "aws_dms_to_hudi_spark").rglob("*.py"))
    return [f for f in files if f.name != "artifact_time.py"]


# module-level memo dicts, cache locks and done-sets, and ad-hoc temp lakes
_FORBIDDEN = (
    re.compile(r"^_(?:[A-Z0-9_]*_)?CACHE\b[^=\n]*=", re.M),
    re.compile(r"^_(?:[A-Z0-9_]*_)?LOCK\b[^=\n]*=", re.M),
    re.compile(r"^_[A-Z0-9_]+\s*(:\s*set\b[^=\n]*)?=\s*set\(", re.M),
    re.compile(r"^[^\n#]*\bR?Lock\(\)", re.M),
    re.compile(r"tempfile\.mkdtemp\("),
)


def test_session_state_lives_only_in_the_registry():
    found = []
    for f in _program_files():
        src = f.read_text()
        for pat in _FORBIDDEN:
            found += [f"{f.relative_to(REPO)}:"
                      f"{src.count(chr(10), 0, m.start()) + 1}: {m.group(0)}"
                      for m in pat.finditer(src)]
    assert not found, (
        "session state outside artifact_time.py (use artifact_time.get, "
        f"view or lake): {found}")
