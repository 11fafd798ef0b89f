"""Catalog seam: where encoded blocks + manifests live.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar, so the default catalog is a path-based layout (``blocks/`` +
``manifest/`` under the out_dir) with the same semantics (atomic per-run
visibility via the manifest join — see manifest.py).  The
seam keeps the swap trivial: an IcebergCatalog reads/writes
``catalog.db.table`` instead of paths and relies on snapshot commits instead
of the manifest run_id join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True if the Iceberg Spark runtime is on the classpath.

    Must actually LOAD the class: py4j resolves a nonexistent class path to
    a ``JavaPackage`` placeholder without raising, so a bare attribute
    probe (``spark._jvm.org.apache.iceberg.Table``) returns truthy on
    every classpath and the parquet fallback in :func:`read_table` would
    never trigger."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read an input table by reference: an Iceberg table name if the runtime
    is present and the ref has no '/', else a parquet path/glob."""
    if "/" not in ref and iceberg_available(spark):
        return spark.read.table(ref)
    return spark.read.parquet(ref)
