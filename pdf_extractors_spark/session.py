"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (single JVM, local[N]) but every knob is the one you
would set on a 1000-executor cluster reading 100 TB:

* AQE on (runtime coalescing + skew-split),
* Arrow batch size bounded so giant turn payloads cannot blow the Python
  worker (SURVEY.md §4 "Spill-to-disk ... Arrow batch size tuned down for
  giant turns"),
* shuffle partitions sized to cores in the sandbox; on a real cluster this
  is ~2-3x total executor cores and AQE coalesces down.

Python workers import the package zip shipped here when they unpickle a
package function, and that import installs ``_worker``'s guard: before
every task PySpark calls ``importlib.invalidate_caches()``, which on
CPython < 3.13 re-reads the directory of every zip archive on the
worker's path (pyspark.zip, the spark-core jar, ...), 0.2-0.4 s of CPU
per task. The guard skips the re-read while an archive's inode, size
and mtime are unchanged. It is inert on CPython >= 3.13, which re-reads
lazily, and is never installed in the driver's interpreter.

Local masters also start each context's Python daemon as
``pdf_extractors_spark._daemon`` (``spark.python.daemon.module``), with
the package zip on the workers' ``PYTHONPATH`` so that the module
imports before any task. Spark's default daemon imports PySpark from
``$SPARK_HOME/python/lib/pyspark.zip``, which holds no bytecode, so
every new context compiled it from source: ``boot`` was 1.0-1.6 s in
each task of its first job, 0.35-0.6 s with ``_daemon``. It drops the
zip from the path when the interpreter's installed PySpark is
byte-identical in its release and worker-protocol modules, and
otherwise starts PySpark as before.
Cluster masters keep Spark's daemon: the zip path exists only here.

``prepare`` is what makes any session able to run this package, whoever
built it: ``get_spark``, the spark-submit jobs and the driver contract
all go through it.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package so Spark Python workers can import it regardless of
    their cwd — the programmatic equivalent of ``spark-submit --py-files
    engine.zip`` (the north rule's packaging requirement). Cached by
    CONTENT hash (a pid-keyed cache ships stale code after pid reuse and
    a kill mid-zip leaves a truncated file the same pid would reuse);
    written to a temp name and renamed so a partial zip is never visible."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        raise NotADirectoryError(
            f"{pkg_dir}: the package was imported from an archive, which "
            "its launcher ships to the workers"
        )
    entries: list[tuple[str, str]] = []
    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        if "__pycache__" in root:
            continue
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            full = os.path.join(root, name)
            rel = os.path.join("pdf_extractors_spark", os.path.relpath(full, pkg_dir))
            entries.append((full, rel))
            h.update(rel.encode())
            with open(full, "rb") as f:
                h.update(f.read())
    out = os.path.join(
        tempfile.gettempdir(), f"pdf_extractors_spark_{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(out):
        tmp = f"{out}.tmp-{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as zf:
            for full, rel in entries:
                zf.write(full, rel)
        os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "pdf-extractors-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    if shuffle_partitions is None:
        if master.startswith("local") and "[" in master:
            # local[N] or local[N,maxFailures] → N cores
            inner = master[master.find("[") + 1 : master.find("]")].split(",")[0]
            shuffle_partitions = (
                int(os.cpu_count() or 32) if inner == "*" else int(inner)
            )
        else:
            # cluster master: start high (~2-3x a typical executor-core
            # total) and let AQE coalesce down; callers with known
            # cluster size should pass shuffle_partitions explicitly
            shuffle_partitions = 512

    package_zip = _package_zip()
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # the daemon and its workers run on this host, so the zip path
        # exists for them; the daemon module must import before any task
        conf.setdefault("spark.python.daemon.module", "pdf_extractors_spark._daemon")
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(filter(None, (conf.get(key), package_zip)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batches: extraction payloads can be many KB per row;
        # 2k rows/batch keeps the Python worker's resident set small while
        # amortizing the Arrow transfer (SURVEY.md §4).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # effective only when THIS call launches the driver JVM (plain
        # python). Under spark-submit the JVM already exists and Spark
        # ignores driver.memory set here — pass --driver-memory on the
        # submit command line instead (jobs/extract.py docstring).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())


def prepare(spark: SparkSession) -> SparkSession:
    """Make ``spark`` able to run this package, once per SparkContext.

    Ships the package zip to the Python workers when the package was
    imported from its source directory; under ``spark-submit --py-files
    engine.zip`` it was imported from that archive, which the launcher
    already ships. Then warms Spark 4's ICU collation machinery
    single-threaded: ``CollationAwareUTF8String.<clinit>`` (triggered by
    the first ``lower()``/``upper()``) takes seconds, and when dozens of
    tasks race the class-init lock it degrades to minutes. Constant-folding
    this expression initializes the class on the driver thread, which in
    local mode is the executor JVM too.

    The done state lives on the context object, so a new context after
    ``stop()`` is prepared again and a prepared one starts no job."""
    sc = spark.sparkContext
    if getattr(sc, "_pdf_extractors_prepared", False):
        return spark
    if os.path.isdir(os.path.dirname(os.path.abspath(__file__))):
        sc.addPyFile(_package_zip())
    spark.range(1).selectExpr("lower('ICU-WARMUP') as w").collect()
    sc._pdf_extractors_prepared = True
    return spark
