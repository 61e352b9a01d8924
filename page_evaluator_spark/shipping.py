"""Self-shipping: make the package importable on executors regardless of how
the driver was launched.

`spark-submit --py-files pageeval.zip` is the production path; but when a
harness hands us an already-built SparkSession from an arbitrary cwd, Python
workers would fail to unpickle the Arrow kernels (`ModuleNotFoundError`).
`ensure_shipped(spark)` zips the package once per session and registers it
with `SparkContext.addPyFile` — idempotent and a no-op overhead after the
first call.

The zip is built reproducibly (fixed timestamps, sorted entries) and stored
through ``session.private_file``: one ``pageeval_pkg_<digest>.zip`` per
package version in the per-user 0700 directory, reused across sessions and
processes, and never a file someone else could have planted.
"""

from __future__ import annotations

import io
import zipfile
from pathlib import Path

from .session import private_file

_SHIPPED_SESSIONS: set[int] = set()


def package_zip() -> bytes:
    """The package's sources as zip bytes that depend on their content only."""
    pkg_dir = Path(__file__).resolve().parent
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            info = zipfile.ZipInfo(str(Path(pkg_dir.name) / py.relative_to(pkg_dir)),
                                   date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, py.read_bytes())
    return buf.getvalue()


def ensure_shipped(spark) -> None:
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    zip_path = private_file(package_zip(), "pageeval_pkg", ".zip")
    if zip_path is None:
        # the per-user directory is not private (or not writable): any
        # other place in the shared tempdir could hand workers a planted zip
        raise RuntimeError(
            "cannot store the package zip in a private per-user temp "
            "directory; ship the package with spark-submit --py-files")
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)
