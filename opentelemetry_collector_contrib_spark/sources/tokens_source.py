"""Tokens-table scan + detokenize — the file_input receiver analog.

The reference tails log files and emits one entry per line
(receiver/stanzareceiver/e2e_test.go:89-92, register.go:19).  Our scan
reads the pre-tokenized sequences table (parquet here; the same code path
takes an Iceberg table when the catalog jar is present — see
``read_tokens(fmt=...)``) and materializes the pdata ``Body``
(converter.go:59) by detokenizing ``tokens``.

Scale notes:
- The scan is a plain columnar read: column pruning + predicate pushdown
  reach the parquet/Iceberg scan via Catalyst (verified in tests by
  checking PushedFilters in the physical plan).
- ``with_body`` keeps detokenization inside Catalyst (TRANSFORM + HEX
  + UNHEX + DECODE — zero Python).  The regex parse stage does not need it:
  it detokenizes inside its own Arrow hop
  (``operators/regex_parser.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the JVM classpath
    (the sandbox ships without it; a real deployment adds
    iceberg-spark-runtime via --packages/--jars)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def iceberg_conf(warehouse: str, catalog: str = "otel") -> dict[str, str]:
    """SparkSession conf for a Hadoop-type Iceberg catalog rooted at
    ``warehouse`` — pass as ``get_spark(extra_conf=iceberg_conf(...))``.
    Tables are then addressed as '<catalog>.<db>.<table>'."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def read_tokens(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Scan the tokens table: (doc_id, tokens, n_tok, source).

    fmt='iceberg' reads ``path`` as a catalog table name when the
    runtime jar is present, and RAISES (never silently degrades) when
    it is absent — the parquet stand-in is an explicit caller choice,
    mirroring how the snapshot publish (sinks/maintenance.py) stands in
    for the Iceberg commit."""
    if fmt == "iceberg":
        if not iceberg_available(spark):
            raise RuntimeError(
                "fmt='iceberg' requested but the Iceberg Spark runtime jar "
                "is not on the classpath; add iceberg-spark-runtime via "
                "--packages, or call with fmt='parquet'")
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)


def with_body(df: DataFrame) -> DataFrame:
    """Add ``body`` = detokenized log line.  ``tokens`` is carried
    through untouched (the per-row token-array-equality invariant)."""
    # pure Catalyst: each codepoint -> 8 hex digits, i.e. one UTF-32
    # (big-endian) code unit, then one decode of the joined bytes.
    # Spark's CHAR would be mod-256 and mangle every id above 255.
    hexed = F.array_join(
        F.transform(F.col("tokens"), lambda t: F.lpad(F.hex(t), 8, "0")), "")
    return df.withColumn("body", F.decode(F.unhex(hexed), "UTF-32"))
