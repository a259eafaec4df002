"""Job-free parquet reads: the schema comes from one footer read on the driver.

``spark.read.parquet(path)`` infers the schema with a one-task Spark job
(``ParquetFileFormat.mergeSchemasInParallel``) on every call.  A builder that
reads a dozen tables runs a dozen such jobs back to back, each a scheduler
round trip, where the reference's metastore (``spark.table``) looks the schema
up without running anything.  :func:`footer_schema` does the inference task's
work on the driver instead, with Spark's own functions through the JVM
gateway:

* **which file** — as the inference does without ``mergeSchema``: the first
  ``_common_metadata``, else the first ``_metadata``, else the first data file,
  "first" in full-path order over the leaves Spark's file index would list
  (``_``/``.``-prefixed names skipped, ``_common_metadata``/``_metadata`` and
  ``_``-prefixed ``key=value`` partition directories kept, ``._COPYING_``
  files skipped);
* **footer → schema** — ``ParquetFileReader.readFooter`` (row groups
  skipped), then ``ParquetFileFormat.readSchemaFromFooter`` with a
  ``ParquetToSparkSchemaConverter`` built from the session's ``SQLConf``: the
  Spark row metadata a Spark writer stores wins, else the parquet schema is
  converted under the session's binary-as-string / INT96 / NTZ-inference /
  ``nanosAsLong`` settings.  The result is Spark's inferred schema by
  construction; pyarrow's type mapping is never used (it differs on
  timestamps and NTZ).

:func:`read` hands that schema to ``spark.read.schema(..)``.  The file index
still lists the directory and infers partition columns as before (so a
``dt_partition`` directory keeps the session's partition typing), and the
relation's data schema is made nullable either way.  When no file is found —
a missing path, a directory with only ``_SUCCESS`` — :func:`footer_schema`
falls back to ``spark.read.parquet(path)`` so the caller sees Spark's own
error.

This module is the one place that reads parquet in ``alertas_spark/``
(pinned by ``tests/test_parquet_reads.py``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SUMMARY = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Whether Spark's file index keeps ``name`` (InMemoryFileIndex's
    ``shouldFilterOutPathName``, negated)."""
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".") \
        or name.endswith("._COPYING_")
    return not hidden or name.startswith(_SUMMARY)


def _schema_file(jvm, conf, path: str):
    """The Hadoop ``Path`` whose footer Spark's inference would read, or
    ``None`` when the path holds no file."""
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return None
    if fs.getFileStatus(root).isFile():
        return root
    leaves, dirs = [], [root]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            p = st.getPath()
            name = p.getName()
            if not _listed(name):
                continue
            if st.isDirectory():
                dirs.append(p)
            else:
                leaves.append((p.toString(), name, p))
    # the first leaf in path order of the best kind: summary files first
    rank = {name: k for k, name in enumerate(_SUMMARY)}
    best = min(sorted(leaves, key=lambda leaf: leaf[0]),
               key=lambda leaf: rank.get(leaf[1], len(_SUMMARY)), default=None)
    return best[2] if best else None


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read from one
    footer on the driver without a Spark job (module docstring)."""
    jvm = spark.sparkContext._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    file = _schema_file(jvm, conf, path)
    if file is None:
        return spark.read.parquet(path).schema  # Spark's own error (or glob)
    pq = jvm.org.apache.parquet
    footer = pq.hadoop.Footer(file, pq.hadoop.ParquetFileReader.readFooter(
        conf, file, pq.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
    spark_pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = spark_pq.ParquetToSparkSchemaConverter(state.conf())
    schema = spark_pq.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return StructType.fromJson(json.loads(schema.json()))


def read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job."""
    return spark.read.schema(footer_schema(spark, path)).parquet(path)
