"""Canonical sequence-table reader: Iceberg catalog or Parquet path.

The north-rule input is an Iceberg table of pre-tokenized training
sequences (doc_id string, tokens array<int32>, n_tok int32, source
string). On a real cluster the table is addressed through a configured
Iceberg catalog (``spark.sql.catalog.<name>`` + the iceberg-spark
runtime jar) and read with ``spark.read.table`` — Iceberg's Spark
source does partition pruning, hidden-partition transforms, and
column-projection pushdown through the normal DataFrame scan, so
everything downstream here is identical for both sources. This sandbox
has no Iceberg runtime jar, so the Iceberg branch is import-gated with
a clear error, and the Parquet branch (same schema, same pruning
semantics at the file-format level) is the tested path.

``columns`` matters at 10^12 rows: membership/frequency sketches read
only (doc_id, tokens); the KLL/n_tok quantile path reads only n_tok —
passing the projection here keeps it inside the scan (ReadSchema in the
physical plan) instead of after it.

A read launches no Spark job where it can avoid one. Without a schema,
``spark.read.parquet`` runs a job to read the footers; a local Parquet
table written by Spark (a file, or a directory of data files) is read
with the schema Spark stored in its footer instead, taken on the driver
from one file. Other Parquet sources (a URI scheme, partition
subdirectories, files written without Spark) let Spark infer as before.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

CANONICAL_COLUMNS = ("doc_id", "tokens", "n_tok", "source")

CANONICAL_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])

# CSV cannot hold arrays: the canonical text encoding stores ``tokens``
# as a space-joined string ("7 42 7"), decoded back to array<int32>
# inside the scan projection. Empty docs round-trip as the empty string.
_CSV_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.StringType()),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])

# the footer key Spark stores its own schema under, the one its
# readSchemaFromFooter prefers to the Parquet schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_EXT_FMT = {".parquet": "parquet", ".orc": "orc", ".json": "json",
            ".jsonl": "json", ".csv": "csv"}


def read_sequences(
    spark: SparkSession,
    source: str,
    fmt: str | None = None,
    columns: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """Read the canonical sequence table from an Iceberg identifier or a
    Parquet path.

    ``fmt``: "iceberg", "parquet", "orc", "json" (JSON lines), "csv", or
    None to infer — a known path extension picks its format, any other
    path reads as Parquet, and dotted identifiers (catalog.db.table)
    read as Iceberg tables. Projects to ``columns`` (default: the
    canonical four) inside the scan.

    A local Parquet table written by Spark is read with its stored
    schema (``_stored_schema``), so the read launches no Spark job.

    Text formats carry the canonical schema explicitly (never inferred —
    schema inference is a full extra pass over the data and can widen
    int32 to long): JSON lines hold ``tokens`` natively as an array; CSV
    stores it space-joined and this reader decodes it back to
    array<int32> in the scan projection, so downstream operators see one
    schema regardless of format.
    """
    if fmt is None:
        ext = "." + source.rstrip("/").rsplit(".", 1)[-1].lower() \
            if "." in source.rsplit("/", 1)[-1] else ""
        fmt = _EXT_FMT.get(ext, "parquet" if "/" in source else "iceberg")
    if fmt == "iceberg":
        try:
            df = spark.read.table(source)
        except Exception as exc:  # connector jar / catalog not configured
            raise RuntimeError(
                "Iceberg read failed — the iceberg-spark runtime jar and a "
                "spark.sql.catalog.* entry must be on the cluster (absent "
                f"in this sandbox): {exc}") from exc
    elif fmt == "parquet":
        stored = _stored_schema(source)
        reader = spark.read if stored is None else spark.read.schema(stored)
        df = reader.parquet(source)
    elif fmt == "orc":
        df = spark.read.orc(source)
    elif fmt == "json":
        df = spark.read.schema(CANONICAL_SCHEMA).json(source)
    elif fmt == "csv":
        raw = spark.read.schema(_CSV_SCHEMA).option("header", "true").csv(source)
        df = raw.withColumn(
            "tokens",
            F.when(F.coalesce(F.col("tokens"), F.lit("")) == "",
                   F.array().cast("array<int>"))
            .otherwise(F.split("tokens", " ").cast("array<int>")))
    else:
        raise ValueError(f"unknown format {fmt!r}")
    cols = tuple(columns) if columns else tuple(
        c for c in CANONICAL_COLUMNS if c in df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"sequence table at {source!r} is missing "
                         f"canonical columns {missing}")
    return df.select(*[F.col(c) for c in cols])


def _stored_schema(source: str) -> T.StructType | None:
    """The schema Spark stored in a local Parquet table, or None.

    Without a schema, ``spark.read.parquet`` runs one Spark job to read
    it from the files' footers. For a local file, or a local directory
    holding only data files, the schema Spark's footer reader would pick
    is one footer read away on the driver: the Spark key of the first
    data file (Spark also reads one file, taking the table's files to
    agree). Anything else — a URI scheme, partition subdirectories,
    summary files, a file without the Spark key, no data file — gives
    None, and Spark infers the schema as before (so an empty directory
    still raises).
    """
    if urlparse(source).scheme:
        return None
    path = source
    if os.path.isdir(source):
        names = os.listdir(source)
        if {"_metadata", "_common_metadata"} & set(names):
            return None
        data = sorted(os.path.join(source, n) for n in names
                      if not n.startswith(("_", ".")))
        if not data or not all(map(os.path.isfile, data)):
            return None
        path = data[0]
    try:
        stored = pq.read_metadata(path).metadata or {}
        return T.StructType.fromJson(json.loads(stored[_SPARK_SCHEMA_KEY]))
    except (KeyError, TypeError, OSError, ValueError, pa.ArrowException):
        return None


def write_sequences(df: DataFrame, path: str, fmt: str = "parquet",
                    mode: str = "error") -> None:
    """Write a canonical sequence table in ``fmt`` so ``read_sequences``
    round-trips it with per-row token-array equality.

    Parquet/ORC/JSON hold the array natively; CSV gets the canonical
    space-joined encoding (empty array -> empty string). Distributed
    writer throughout — one file per partition, no driver collect.
    """
    if fmt == "csv":
        df = df.withColumn("tokens", F.concat_ws(" ", F.col("tokens")))
        df.write.mode(mode).option("header", "true").csv(path)
    elif fmt in ("parquet", "orc", "json"):
        getattr(df.write.mode(mode), fmt)(path)
    else:
        raise ValueError(f"unknown format {fmt!r}")
