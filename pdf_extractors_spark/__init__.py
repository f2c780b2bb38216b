"""pdf_extractors_spark — a from-scratch PySpark-native main-content
extraction engine with the capabilities of ShahzadAmjadKhan/pdf-extractors.

The reference (read-only at /root/reference) is seven single-purpose Python
scripts that each parse one PDF family into a CSV. This package re-expresses
that capability set as a single Spark pipeline over an Iceberg/parquet table
of multi-turn transcripts ``(conv_id, turn_idx, role, text, tool, ts)``:

* ``extractors/`` — the oracle library: pure pandas/Python, compiled-regex
  extraction per payload family, shared between the Spark stage and pytest.
* ``pipeline``   — the Arrow-batched ``mapInArrow`` extraction stage (zero
  per-row Python at the Spark level) plus the conv_id-keyed stages.
* ``checkpoint`` — per-partition lineage manifests for resumable batch runs.
* ``operators/`` — large-scale training-data ops: dedup (exact / MinHash-LSH
  / SimHash / n-gram Jaccard), ANN similarity, text quality stats,
  multimodal column plumbing.
"""

from . import _worker

__version__ = "0.1.0"

# A Python worker imports this package when it unpickles a package
# function; from then on its tasks skip re-reading unchanged zip
# archives (see _worker).
if _worker.in_spark_task():
    _worker.install_zip_reload_guard()
