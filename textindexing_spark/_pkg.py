"""Package shipping: build a zip of textindexing_spark and addPyFile it so
Python workers can import the engine regardless of the driver's cwd. The
same zip is what ``spark-submit --py-files`` takes (BASELINE.md launch
mode)."""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

_SHIPPED_SESSIONS: set[int] = set()


def package_zip(dest: str | None = None) -> str:
    """Zip the package source tree (deterministic content order) and
    return the zip's path. Writes via a temp file + atomic rename so
    concurrent readers (e.g. a parallel spark-submit) never see a partial
    zip. The default ``dest`` is named after this checkout's root, so two
    checkouts on one host never overwrite each other's shipped engine."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # the package was itself imported from a zip (spark-submit
        # --py-files): that zip IS the distribution — never clobber it
        zip_path = pkg_dir
        while zip_path and not os.path.isfile(zip_path):
            parent = os.path.dirname(zip_path)
            if parent == zip_path:  # filesystem root: no zip ancestor
                raise RuntimeError(f"cannot package: {pkg_dir} not found")
            zip_path = parent
        if zip_path:
            return zip_path
        raise RuntimeError(f"cannot package: {pkg_dir} not found")
    root = os.path.dirname(pkg_dir)
    if dest is None:
        tag = hashlib.sha1(root.encode()).hexdigest()[:12]
        dest = os.path.join(tempfile.gettempdir(),
                            f"textindexing_spark-{tag}.zip")
    tmp = f"{dest}.{os.getpid()}.tmp"
    n = 0
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_dir):
            dirnames.sort()
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
                    n += 1
    if n == 0:  # never atomically replace a good zip with an empty one
        os.unlink(tmp)
        raise RuntimeError(f"no sources found under {pkg_dir}")
    os.replace(tmp, dest)
    return dest


def ensure_shipped(spark) -> None:
    """Make the engine importable on executors (idempotent per session)."""
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        # local-mode sessions whose workers share the driver's sys.path
        # don't need the zip; addPyFile can also reject duplicates.
        pass
    _SHIPPED_SESSIONS.add(key)
