"""Readers: parquet / CSV / semi-structured JSON, with explicit schemas.

Reference behaviors covered (SURVEY.md §2.1):
  S1 scan_json          — semi-structured JSON array with ragged per-record
                          keys (reference: ``json.load`` at challenge.py:24-25)
                          → ``spark.read.json(multiLine=True)``; schema is the
                          union of keys, absent keys become nulls.
  S2/S3 scan_csv        — header CSV with whole-file dtype inference
                          (challenge.py:26-27, ``low_memory=False``) →
                          explicit schema when known (prod), else
                          ``inferSchema=True``.
  S7 error-checked open — FileNotFoundError → message + re-raise
                          (challenge.py:23-30) → AnalysisException wrapper.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free; JSON/CSV scans are splittable per-file (multiLine JSON
is not splittable — at 100 TB the ingest contract is "many files", each
read in parallel, which `spark.read.json(dir)` already does).

Schema memo: inferring a parquet file's schema costs one Spark job (a
footer read) on every ``spark.read.parquet`` call. ``read_parquet``
keeps the schema Spark inferred for a file for the rest of the session
and hands it back to the next read of that file as an explicit schema,
so a repeated read starts no job and plans the same scan. The entry
for a file's real path holds while these match: the SparkContext's
applicationId, the file's inode, size and mtime (ns), and every
``spark.sql.parquet.*`` and ``spark.sql.legacy.parquet.*`` conf the
session has set. A rewritten file, a changed conf or a new session
misses it. It holds StructTypes only (no DataFrame, data or JVM
reference). Directories, paths with a URI scheme and paths ``os.stat``
cannot see bypass it and infer as a plain read does; so does the first
read of each file in a session.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

# Driver-generated test tables (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class SourceNotFoundError(FileNotFoundError):
    """Raised when a scan target does not exist (reference: challenge.py:28-30)."""


def _wrap_not_found(fn, path: str):
    try:
        return fn()
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            raise SourceNotFoundError(f"source not found: {path}") from exc
        raise


#: real path → (identity, schema): the schema Spark inferred for that
#: file, valid while its identity (applicationId, inode, size, mtime ns,
#: parquet confs) is unchanged. One entry per file, so the memo stays
#: bounded by the number of distinct files read in the process.
_PARQUET_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}

_PARQUET_CONF_PREFIXES = ("spark.sql.parquet.", "spark.sql.legacy.parquet.")


def _parquet_identity(spark: SparkSession, path: str) -> tuple[str, tuple] | None:
    """(real path, identity) of a single local parquet file, or None
    where the read must infer (directory, URI scheme, path ``os.stat``
    cannot see). The conf names come back in one py4j call:
    ``spark.conf.getAll`` fetches every value one round trip at a time."""
    if urlparse(path).scheme:
        return None
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    names = spark._jsparkSession.sessionState().conf().getAllConfs().keys()
    confs = tuple(
        (k, spark.conf.get(k))
        for k in sorted(names.mkString("\n").split("\n"))
        if k.startswith(_PARQUET_CONF_PREFIXES)
    )
    return real, (spark.sparkContext.applicationId, st.st_ino, st.st_size,
                  st.st_mtime_ns, confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` through the session's schema memo
    (module docstring): a file read before in this session, unchanged
    and under the same parquet confs, is read with its memoized schema
    and starts no inference job. A missing path raises
    SourceNotFoundError."""
    real, identity = _parquet_identity(spark, path) or (None, None)
    held = _PARQUET_SCHEMAS.get(real)
    if held is not None and held[0] == identity:
        return _wrap_not_found(lambda: spark.read.schema(held[1]).parquet(path), path)
    df = _wrap_not_found(lambda: spark.read.parquet(path), path)
    if real is not None:
        _PARQUET_SCHEMAS[real] = (identity, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table as parquet (columnar scan, pushdown-capable)
    through ``read_parquet``: the first read of a table file in a
    session infers its schema, and later reads of the unchanged file
    reuse it (memo key and bypasses in the module docstring).

    ``events.ts`` has shipped in two parquet encodings across testdata
    generations: TIMESTAMP(NANOS), which Spark reads only as a
    nanos-since-epoch long (``spark.sql.legacy.parquet.nanosAsLong``, set
    in session.pin_session_conf) and is normalized here via integer
    division (a double division would lose precision above 2^53 ns); and
    TIMESTAMP(MICROS) with no timezone marker, which Spark 4 reads as
    TIMESTAMP_NTZ and needs no normalization (queries that do epoch math
    cast it to TIMESTAMP themselves — UTC session, value-preserving)."""
    path = f"{sf_dir}/{name}.parquet"
    df = read_parquet(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TPCH_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every test table as a temp view (for the SQL API surface)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def read_json_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = True,
) -> DataFrame:
    """S1: semi-structured JSON array → DataFrame with union-of-keys schema.

    ``multiline=True`` handles a single top-level JSON array (the reference's
    input shape); JSON-lines files set it False and stay splittable.
    """
    reader = spark.read.option("multiLine", "true" if multiline else "false")
    if schema is not None:
        reader = reader.schema(schema)
    return _wrap_not_found(lambda: reader.json(path), path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """S2/S3: CSV scan. Explicit schema preferred; inference mirrors the
    reference's whole-file dtype inference (``low_memory=False``)."""
    reader = spark.read.option("header", "true" if header else "false")
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return _wrap_not_found(lambda: reader.csv(path), path)
