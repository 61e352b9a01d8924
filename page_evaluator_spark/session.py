"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading 100 TB; tested on local[N].
Every knob here exists for a reason at scale:
  * AQE on (runtime coalescing + skew-join splitting),
  * bounded Arrow batches so a batch of large documents cannot OOM a Python
    worker (parse-UDF memory ∝ batch_rows × doc_size, SURVEY.md §4.1),
  * shuffle partitions sized for the local test harness (overridden by AQE),
  * Arrow-optimized Python UDF transport throughout,
  * on local masters, Python workers that import pyspark from the driver's
    directory install instead of Spark's zips (``_worker_python_wrapper``:
    same code, no per-task zipimport cache rebuild).
"""

from __future__ import annotations

import hashlib
import os
import stat
import sys
import tempfile

from pyspark.sql import SparkSession


def _worker_python_wrapper() -> str | None:
    """Executable that launches Python WORKERS with the driver's directory-form
    PySpark on PYTHONPATH instead of $SPARK_HOME's pyspark.zip/py4j zip.

    Why (measured, guide §1/§4): pyspark's worker runs
    ``importlib.invalidate_caches()`` once per TASK (setup_spark_files), and
    CPython's ``zipimporter.invalidate_caches()`` re-reads the entire zip
    central directory — ~125 ms for the 3.5 MB pyspark.zip on this storage,
    a constant per-task tax on every Python-boundary stage (a 256-task
    identity mapInArrow stage measures 5.0 s at local[8] from this alone).
    Directory imports use ``FileFinder``, whose ``invalidate_caches()`` is
    O(1), so pointing workers at the directory install removes the tax
    without changing a byte of what executes.

    Returns None (Spark's default worker bootstrap) unless (a) the driver
    itself imports pyspark from a real directory, (b) its version equals the
    JVM-side Spark version shipped in $SPARK_HOME (else workers could run
    different code), (c) the interpreter path is shebang-safe and (d) the
    script can be stored safely (``_private_script``).  py4j's zip is
    stripped only when the driver's py4j is a directory install too — in the
    stock ``$SPARK_HOME/python`` layout py4j exists only as that zip.
    """
    try:
        import py4j
        import pyspark
    except ImportError:  # pragma: no cover
        return None
    pkg_init = getattr(pyspark, "__file__", "") or ""
    if not pkg_init.endswith(".py") or not os.path.isfile(pkg_init):
        return None  # driver itself runs from a zip — nothing better to offer
    site_dir = os.path.dirname(os.path.dirname(pkg_init))
    py4j_init = getattr(py4j, "__file__", "") or ""
    strip_py4j = py4j_init.endswith(".py") and os.path.isfile(py4j_init)
    paths = [site_dir]
    if strip_py4j:
        py4j_dir = os.path.dirname(os.path.dirname(py4j_init))
        if py4j_dir != site_dir:
            paths.append(py4j_dir)
    spark_home = os.environ.get("SPARK_HOME", "")
    if spark_home:
        rel = os.path.join(spark_home, "RELEASE")
        try:
            with open(rel) as fh:
                first = fh.readline()
            if f"Spark {pyspark.__version__} " not in first:
                return None
        except OSError:
            pass  # no RELEASE file (pip-only install): versions can't diverge
    python = sys.executable
    if not python or any(c.isspace() for c in python) or len(python) > 100:
        return None  # not representable in a shebang line
    home_real = os.path.realpath(spark_home) if spark_home else None
    script = (
        f"#!{python}\n"
        "import os, sys\n"
        f"_PATHS = {paths!r}\n"
        f"_HOME = {home_real!r}\n"
        f"_STRIP_PY4J = {strip_py4j!r}\n"
        "def _spark_archive(p):\n"
        "    # pyspark.zip / spark-core jar (and the py4j zip when py4j is a\n"
        "    # directory install too) that Spark prepends for its own code.\n"
        "    # zipimporter.invalidate_caches() re-reads each archive's central\n"
        "    # directory once per task, which is the whole point of stripping.\n"
        "    if not p.endswith(('.zip', '.jar')):\n"
        "        return False\n"
        "    base = os.path.basename(p)\n"
        "    if base.startswith('py4j'):\n"
        "        return _STRIP_PY4J\n"
        "    if base.startswith(('pyspark', 'spark-core')):\n"
        "        return True\n"
        "    return _HOME is not None and os.path.realpath(p).startswith(_HOME + os.sep)\n"
        'parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]\n'
        "parts = [p for p in parts if not _spark_archive(p)]\n"
        "parts = [p for p in _PATHS if p not in parts] + parts\n"
        'os.environ["PYTHONPATH"] = os.pathsep.join(parts)\n'
        f"os.execv({python!r}, [{python!r}] + sys.argv[1:])\n"
    )
    return _private_script(script)


def _private_script(script: str) -> str | None:
    """Store ``script`` as an executable only the current user can have
    written, and return its path (None when that cannot be guaranteed).

    The directory ``<tempdir>/pageeval-<uid>`` must be a real directory
    (lstat: not a symlink) owned by this uid with no group/other bits; the
    file name is a digest of the script, so it is stable across processes
    and hash seeds and never piles up.  An existing file is reused only when
    it is a regular file owned by this uid with the same content; otherwise
    a fresh copy is created with O_EXCL|O_NOFOLLOW under a random name and
    renamed into place (rename replaces a planted symlink, never follows it).
    """
    uid = os.getuid()
    folder = os.path.join(tempfile.gettempdir(), f"pageeval-{uid}")
    try:
        os.makedirs(folder, 0o700, exist_ok=True)
        st = os.lstat(folder)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != uid or st.st_mode & 0o077:
        return None
    data = script.encode()
    name = f"pageeval_worker_python_{hashlib.sha256(data).hexdigest()[:16]}"
    path = os.path.join(folder, name)
    try:
        fd = os.open(path, os.O_RDONLY | os.O_NOFOLLOW)
    except OSError:
        pass  # absent, or a symlink (ELOOP): write a fresh copy
    else:
        with os.fdopen(fd, "rb") as fh:
            st = os.fstat(fh.fileno())
            if (stat.S_ISREG(st.st_mode) and st.st_uid == uid
                    and st.st_mode & stat.S_IXUSR and fh.read() == data):
                return path
    tmp = os.path.join(folder, f".{name}.{os.urandom(8).hex()}")
    try:
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY | os.O_NOFOLLOW, 0o700)
    except OSError:
        return None
    try:
        with os.fdopen(fd, "wb") as fh:
            os.fchmod(fh.fileno(), 0o700)  # umask may have cleared u+x
            fh.write(data)
        os.replace(tmp, path)
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return None
    return path


def _worker_python_is_default() -> bool:
    """True when $PYSPARK_PYTHON is unset, already our wrapper, or resolves
    to the SAME interpreter the driver runs — i.e. wrapping it changes which
    bootstrap path the worker takes, not which Python executes.  A setting
    that points at a different interpreter is an explicit user choice and is
    left alone."""
    cur = os.environ.get("PYSPARK_PYTHON")
    if cur is None or os.path.basename(cur).startswith("pageeval_worker_python_"):
        return True
    import shutil

    resolved = shutil.which(cur) or cur
    try:
        return os.path.realpath(resolved) == os.path.realpath(sys.executable)
    except OSError:  # pragma: no cover
        return False


def get_spark(app_name: str = "page-evaluator-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              arrow_batch_rows: int = 4096) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", None)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else os.cpu_count() or 8
        shuffle_partitions = max(int(n), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Cap Arrow batch row count: parse-UDF batches hold whole page texts,
        # so the bound is rows × page_size, not rows alone.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # 128 MB input splits — reasonable parquet scan granularity at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # java.util.Properties.put is last-wins; str_to_map must match
        # (HOCRToken.java:20-29 title parse — duplicate keys keep the last)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # throughput GC: the pipeline allocates short-lived strings at a high
        # rate across many task threads; ParallelGC burns measurably less CPU
        # than G1's concurrent phases on this allocation profile
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
    )
    wrapper = None
    if master.startswith("local") and _worker_python_is_default():
        # Cluster executors keep Spark's default worker bootstrap: the
        # wrapper is a path on THIS host (there the fix is baking a directory
        # install into the executor image).
        wrapper = _worker_python_wrapper()
    # pyspark reads the worker executable from $PYSPARK_PYTHON once, at
    # SparkContext init (stored as sc.pythonExec, which every UDF uses), so
    # the env var is the binding surface — set only around getOrCreate and
    # restored after, so it cannot leak into a later session in this process.
    saved = os.environ.get("PYSPARK_PYTHON")
    if wrapper:
        os.environ["PYSPARK_PYTHON"] = wrapper
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("PYSPARK_PYTHON", None)
        else:
            os.environ["PYSPARK_PYTHON"] = saved
    # executors must be able to unpickle the Arrow kernels no matter where
    # the driver was launched from (spark-submit --py-files also covers this;
    # addPyFile is the belt-and-braces for harness-built sessions)
    from .shipping import ensure_shipped

    ensure_shipped(spark)
    return spark
