"""Python daemon entry for local sessions: boot workers from bytecode.

Spark starts each SparkContext's Python daemon as ``python -m <module>
pyspark.worker`` with ``$SPARK_HOME/python/lib/pyspark.zip`` ahead of
site-packages on the path. That zip holds no bytecode, so the daemon
compiles every PySpark module it imports from source, about 1 s of
start-up in every new context. ``session.get_spark`` names this module
as the daemon for local masters. It drops the zip from the path when
the interpreter's installed PySpark, which is byte-compiled, is the
same copy, and then runs PySpark's own daemon.
"""

from __future__ import annotations

import os
import sys
import zipfile

# the release, and the modules that speak the JVM's worker protocol
PROTOCOL_FILES = ("version.py", "daemon.py", "worker.py", "worker_util.py", "serializers.py")


def same_pyspark(zip_path: str, site_dir: str) -> bool:
    """Whether ``site_dir/pyspark`` holds ``PROTOCOL_FILES`` byte for
    byte as the archive ``zip_path`` does. False on a difference, a
    missing file or a read error."""
    try:
        with zipfile.ZipFile(zip_path) as zf:
            for name in PROTOCOL_FILES:
                with open(os.path.join(site_dir, "pyspark", name), "rb") as f:
                    if f.read() != zf.read(f"pyspark/{name}"):
                        return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    return True


def pick_pyspark(path: list[str]) -> list[str]:
    """``path`` without its pyspark.zip entry when the first later
    directory entry holding ``pyspark/`` is the same copy
    (``same_pyspark``); otherwise ``path`` as it is."""
    i = next((i for i, e in enumerate(path) if os.path.basename(e) == "pyspark.zip"), None)
    if i is not None:
        later = (e for e in path[i + 1 :] if os.path.isdir(os.path.join(e, "pyspark")))
        site = next(later, None)
        if site is not None and same_pyspark(path[i], site):
            return path[:i] + path[i + 1 :]
    return path


def main() -> None:
    kept = pick_pyspark(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept
    # `python -m` imported this package outside any task; forked workers
    # must import it in their task, where __init__ installs _worker's guard
    for name in list(sys.modules):
        if name.split(".")[0] == "pdf_extractors_spark":
            del sys.modules[name]
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
