"""Content-keyed artifact caches in sparkrdf.session: a cached jar or zip is
reused only when it holds what the current sources would build."""

import os
import shutil
import tempfile
import zipfile

from sparkrdf.session import ensure_farmhash_jar, package_zip

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
