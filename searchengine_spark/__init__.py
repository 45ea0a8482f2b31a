"""searchengine_spark — a PySpark-native rebuild of the capabilities of
xKimChip/searchengine (reference at /root/reference, read-only).

Not a port: the reference is imperative single-node Python (threads +
multiprocessing + global dicts); this package re-expresses the same
observable semantics as declarative DataFrame plans (Catalyst-optimized),
Arrow-vectorized pandas UDFs for the two genuinely scalar stages
(HTML→text extraction, link extraction), and an iterative micro-batch
frontier over snapshot-versioned tables.

Layout:
  pycore/     pure-Python normative semantics (no Spark) — shared verbatim
              by the Spark UDFs and the single-node oracle so that
              "byte-identical extracted text per url" is testable.
  functions/  Column-expression + pandas-UDF surfaces.
  operators/  tf-idf index build, boolean DNF query, dedup, similarity,
              text analytics.
  crawler/    URL frontier + fetch scheduler (politeness, bloom url-seen,
              robots, salted priority queue, checkpoint/resume).
  sources/    synthetic pages generator + table IO (versioned-parquet
              snapshots implementing the Iceberg snapshot contract).
"""

__version__ = "0.1.0"

import sys as _sys

# In Spark's Python workers on CPython < 3.13, stop every task from
# re-reading pyspark.zip (see zipguard). Every round UDF's pickled
# closure imports this package, so a reused worker pays at most its
# first task. The driver and plain Python import nothing more here.
if _sys.version_info < (3, 13) and getattr(
    getattr(_sys.modules.get("pyspark.files"), "SparkFiles", None),
    "_is_running_on_worker",
    False,
):
    from searchengine_spark import zipguard as _zipguard

    _zipguard.install()
