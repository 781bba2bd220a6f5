"""sparkrdf.session: content-keyed artifact caches (a cached jar or zip is
reused only when it holds what the current sources would build) and the
concurrent-jobs helper."""

import os
import shutil
import tempfile
import time
import zipfile

import pytest

from sparkrdf.session import ensure_farmhash_jar, package_zip, run_concurrently

CLASSES = {f"sparkrdf/{c}.class" for c in ("FarmHashKey", "VecDot", "VecSqDist")}


def _names(path):
    with zipfile.ZipFile(path) as z:
        return set(z.namelist())


def test_stale_artifacts_are_rebuilt(tmp_path, monkeypatch):
    # a private tmp dir: the session's own jar and zip stay untouched
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert shutil.which("javac"), "javac missing: the JVM UDF jar cannot be built"

    jar = ensure_farmhash_jar()
    assert jar and os.path.dirname(jar) == str(tmp_path)
    assert CLASSES <= _names(jar)
    # a jar from an older build that lacks VecDot, at the cached name
    with zipfile.ZipFile(jar) as z:
        kept = {n: z.read(n) for n in z.namelist() if n != "sparkrdf/VecDot.class"}
    with zipfile.ZipFile(jar, "w") as z:
        for n, data in kept.items():
            z.writestr(n, data)
    assert "sparkrdf/VecDot.class" not in _names(jar)
    again = ensure_farmhash_jar()
    assert again == jar and CLASSES <= _names(again)

    # a stale zip with different content at a given path is rewritten
    path = str(tmp_path / "sparkrdf.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("sparkrdf/__init__.py", "STALE = True\n")
    assert package_zip(path) == path
    with zipfile.ZipFile(path) as z:
        assert b"STALE" not in z.read("sparkrdf/__init__.py")
        assert "sparkrdf/session.py" in z.namelist()
    # the default zip is named by content: the same sources give one name
    assert package_zip() == package_zip()
    assert os.path.dirname(package_zip()) == str(tmp_path)
    assert not [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]


def test_run_concurrently_orders_results_and_joins_before_raising(spark):
    sc = spark.sparkContext
    finished = []

    def slow(v, delay):
        time.sleep(delay)
        finished.append(v)
        return v

    # later arguments finish first; results still come back in argument order
    fns = [lambda: slow("a", 0.3), lambda: slow("b", 0.1), lambda: slow("c", 0)]
    assert run_concurrently(*fns) == ["a", "b", "c"]
    assert finished == ["c", "b", "a"]

    def fail(exc, delay):
        time.sleep(delay)
        raise exc

    finished.clear()
    # the first failure in argument order is raised, and only once the
    # slowest sibling has finished
    with pytest.raises(ValueError, match="first"):
        run_concurrently(
            lambda: fail(ValueError("first"), 0.1),
            lambda: slow("late", 0.5),
            lambda: fail(KeyError("second"), 0),
        )
    assert finished == ["late"]

    # each thread starts with the caller's local properties (job group)
    sc.setJobGroup("run-concurrently", "inherited")
    try:
        groups = run_concurrently(*[lambda: sc.getLocalProperty("spark.jobGroup.id")] * 3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert groups == ["run-concurrently"] * 3
