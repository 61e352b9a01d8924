"""The session factory's Python-worker bootstrap.

On local masters ``get_spark`` launches Python workers through a wrapper that
strips Spark's zip/jar archives from the worker's PYTHONPATH (their
zipimporters make the per-task ``importlib.invalidate_caches()`` re-read each
archive's central directory — ~125 ms/task measured) and substitutes the
driver's directory-form pyspark, so the exact same code executes via
FileFinder imports.  The wrapper is a script in a per-user private
directory; these tests pin both the mechanics and the storage's safety.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile

import pytest

from page_evaluator_spark.session import (_worker_python_is_default,
                                          _worker_python_wrapper, get_spark)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")


def _spark_zips() -> list[str]:
    py4j_zips = glob.glob(os.path.join(LIB, "py4j-*-src.zip"))
    assert len(py4j_zips) == 1, py4j_zips
    return [os.path.join(LIB, "pyspark.zip"), py4j_zips[0]]


def _run_wrapper(wrapper: str, probe: str) -> list:
    """Run ``wrapper -c probe`` the way the JVM launches a worker: Spark's
    zips on PYTHONPATH.  Returns the probe's last stdout line, JSON-decoded."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(_spark_zips()))
    out = subprocess.run([wrapper, "-c", probe], capture_output=True,
                         text=True, env=env, timeout=120)
    assert out.returncode == 0, out.stderr[-500:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture
def private_tmp(tmp_path, monkeypatch):
    """A fresh tempdir for the wrapper, so each test sees its own
    ``<tempdir>/pageeval-<uid>``."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_worker_python_wrapper_mechanics():
    """Run the wrapper the way the JVM launches a worker (no Spark session)
    and check what the child imports."""
    wrapper = _worker_python_wrapper()
    if wrapper is None:  # driver itself runs pyspark from a zip — nothing to test
        return
    assert os.access(wrapper, os.X_OK)

    probe = ("import pyspark, py4j, json, sys; "
             "print(json.dumps([pyspark.__file__, pyspark.__version__, "
             "py4j.__file__]))")
    pyfile, version, py4jfile = _run_wrapper(wrapper, probe)
    import pyspark as driver_pyspark

    assert ".zip" not in pyfile, pyfile          # directory import, not zipimport
    assert ".zip" not in py4jfile, py4jfile
    assert version == driver_pyspark.__version__  # same code either way

    # a PYSPARK_PYTHON pointing at this same interpreter counts as default
    # (wrapping it changes bootstrap, not which Python runs); a different
    # interpreter is an explicit user choice
    old = os.environ.get("PYSPARK_PYTHON")
    try:
        os.environ["PYSPARK_PYTHON"] = sys.executable
        assert _worker_python_is_default()
        os.environ["PYSPARK_PYTHON"] = wrapper
        assert _worker_python_is_default()
        os.environ["PYSPARK_PYTHON"] = "/nonexistent/python9"
        assert not _worker_python_is_default()
    finally:
        if old is None:
            os.environ.pop("PYSPARK_PYTHON", None)
        else:
            os.environ["PYSPARK_PYTHON"] = old


def test_wrapper_lives_in_private_dir(private_tmp):
    wrapper = _worker_python_wrapper()
    if wrapper is None:
        pytest.skip("driver runs pyspark from a zip")
    folder = os.path.dirname(wrapper)
    assert folder == str(private_tmp / f"pageeval-{os.getuid()}")
    st = os.lstat(folder)
    assert st.st_uid == os.getuid() and st.st_mode & 0o777 == 0o700
    # the second call reuses the same file; nothing else accumulates
    assert _worker_python_wrapper() == wrapper
    assert os.listdir(folder) == [os.path.basename(wrapper)]


def test_planted_symlink_at_old_path_is_not_followed(private_tmp):
    """The wrapper used to be written with a symlink-following open() to
    ``<tempdir>/pageeval_worker_python_<uid>_<hash>`` — predictable whenever
    PYTHONHASHSEED is pinned.  A symlink planted there must stay unfollowed."""
    import pyspark

    site_dir = os.path.dirname(os.path.dirname(pyspark.__file__))
    home = os.environ.get("SPARK_HOME", "")
    home_real = os.path.realpath(home) if home else None
    old = private_tmp / (f"pageeval_worker_python_{os.getuid()}_"
                         f"{abs(hash((sys.executable, site_dir, home_real))) % 10**8}")
    victim = private_tmp / "victim.txt"
    victim.write_text("precious\n")
    os.symlink(victim, old)

    wrapper = _worker_python_wrapper()
    assert victim.read_text() == "precious\n"
    assert os.stat(victim).st_mode & 0o111 == 0
    assert wrapper is None or os.path.realpath(wrapper) != str(victim)


def test_planted_symlink_at_wrapper_path_is_replaced(private_tmp):
    """A symlink at the wrapper's own name (only its owner can plant one in
    the 0700 directory) is replaced by a regular file, never followed."""
    wrapper = _worker_python_wrapper()
    if wrapper is None:
        pytest.skip("driver runs pyspark from a zip")
    os.unlink(wrapper)
    victim = private_tmp / "victim.txt"
    victim.write_text("precious\n")
    os.symlink(victim, wrapper)
    assert _worker_python_wrapper() == wrapper
    assert victim.read_text() == "precious\n"
    assert not os.path.islink(wrapper) and os.access(wrapper, os.X_OK)


@pytest.mark.parametrize("plant", ["group_writable", "world_writable",
                                   "other_owner", "symlink"])
def test_unsafe_private_dir_is_refused(private_tmp, plant):
    folder = private_tmp / f"pageeval-{os.getuid()}"
    if plant == "symlink":
        real = private_tmp / "elsewhere"
        real.mkdir(mode=0o700)
        os.symlink(real, folder)
    else:
        folder.mkdir()
        if plant == "group_writable":
            os.chmod(folder, 0o770)
        elif plant == "world_writable":
            os.chmod(folder, 0o707)
        else:
            if os.getuid() != 0:
                pytest.skip("chown to another uid needs root")
            os.chmod(folder, 0o700)
            os.chown(folder, 54321, -1)
    assert _worker_python_wrapper() is None
    assert os.listdir(folder) == []


def test_wrapper_name_is_stable_across_hash_seeds(private_tmp):
    probe = ("from page_evaluator_spark.session import _worker_python_wrapper; "
             "print(_worker_python_wrapper())")
    names = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed, TMPDIR=str(private_tmp))
        out = subprocess.run([sys.executable, "-c", probe], capture_output=True,
                             text=True, env=env, cwd=REPO, timeout=120)
        assert out.returncode == 0, out.stderr[-500:]
        names.append(out.stdout.strip().splitlines()[-1])
    assert names[0] == names[1], names
    assert names[0] != "None"


def test_py4j_zip_kept_when_driver_py4j_is_zipped(private_tmp, monkeypatch):
    """Stock ``$SPARK_HOME/python`` layout: pyspark is a directory but py4j
    exists only as the zip — stripping it would kill every worker with
    ImportError: py4j."""
    import py4j

    pyspark_zip, py4j_zip = _spark_zips()
    monkeypatch.setattr(py4j, "__file__",
                        os.path.join(py4j_zip, "py4j", "__init__.py"))
    wrapper = _worker_python_wrapper()
    assert wrapper is not None
    path = _run_wrapper(wrapper, "import json, sys; print(json.dumps(sys.path))")
    assert py4j_zip in path
    assert pyspark_zip not in path


def test_py4j_directory_outside_site_dir_goes_on_worker_path(private_tmp, monkeypatch):
    """A directory-form py4j that is not next to pyspark replaces its zip
    on the worker path."""
    import py4j

    alt = private_tmp / "alt"
    (alt / "py4j").mkdir(parents=True)
    (alt / "py4j" / "__init__.py").write_text("")
    monkeypatch.setattr(py4j, "__file__", str(alt / "py4j" / "__init__.py"))
    wrapper = _worker_python_wrapper()
    assert wrapper is not None
    path = _run_wrapper(wrapper, "import json, sys; print(json.dumps(sys.path))")
    assert str(alt) in path
    assert not any(os.path.basename(p).startswith("py4j") for p in path), path


def test_get_spark_restores_pyspark_python(spark, monkeypatch):
    """PYSPARK_PYTHON is set only around getOrCreate: the caller's value (or
    its absence) is back afterwards, while the context keeps the wrapper."""
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    s = get_spark(app_name="pageeval-tests", master="local[4]", shuffle_partitions=8)
    assert os.environ["PYSPARK_PYTHON"] == sys.executable
    assert os.path.basename(s.sparkContext.pythonExec).startswith("pageeval_worker_python_")

    monkeypatch.delenv("PYSPARK_PYTHON")
    get_spark(app_name="pageeval-tests", master="local[4]", shuffle_partitions=8)
    assert "PYSPARK_PYTHON" not in os.environ


def _report_imports(batches):
    import pyarrow as pa
    import pyspark

    for _ in batches:
        yield pa.RecordBatch.from_pydict(
            {"file": [pyspark.__file__], "path": [json.dumps(sys.path)]})


def test_session_workers_import_from_directory(spark):
    """The default is on: the session's Python workers import pyspark from a
    directory and have none of Spark's zips on sys.path."""
    rows = (spark.range(0, 8, numPartitions=4)
            .mapInArrow(_report_imports, "file string, path string").collect())
    assert rows
    for row in rows:
        assert ".zip" not in row.file, row.file
        for entry in json.loads(row.path):
            base = os.path.basename(entry)
            assert base != "pyspark.zip", entry
            assert not (base.startswith("py4j-") and base.endswith("-src.zip")), entry


def _batch_sizes(batches):
    import pyarrow as pa

    for rb in batches:
        yield pa.RecordBatch.from_pydict({"rows": [rb.num_rows], "nbytes": [rb.nbytes]})


def test_arrow_input_batches_are_byte_capped(spark):
    """Under get_spark's defaults a mapInArrow over ~64 KiB page texts sees
    input batches of at most about ARROW_BATCH_BYTES, far below the 4,096-row
    cap (which alone would put all 64 pages, 4 MiB, in one batch)."""
    from pyspark.sql import functions as F

    from page_evaluator_spark.session import ARROW_BATCH_BYTES

    pages = spark.range(0, 64, numPartitions=1).select(
        F.repeat(F.lit("x"), 64 * 1024).alias("text"))
    sizes = pages.mapInArrow(_batch_sizes, "rows long, nbytes long").collect()
    assert sum(r.rows for r in sizes) == 64
    assert len(sizes) >= 4, sizes
    # a batch closes once it reaches the cap, so it may hold one page more
    assert max(r.nbytes for r in sizes) <= ARROW_BATCH_BYTES + 80 * 1024, sizes
