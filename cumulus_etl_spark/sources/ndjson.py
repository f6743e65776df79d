"""FHIR bulk-export NDJSON sources (SURVEY §2.1 S1-S5).

The reference streams dict-per-line with a Python iterator
(cumulus_etl/common.py:134-168) and stages remote inputs to local disk
first (loaders/fhir/ndjson_loader.py:40-69). Spark-first, the whole layer
collapses to a schema'd ``spark.read.json`` with ``recursiveFileLookup``:
predicate pushdown prunes non-matching resourceType rows at scan time, and
S3 is read natively (s3a) with no staging copy.

Malformed lines are quarantined, not dropped silently: PERMISSIVE mode
routes them to ``_corrupt_record`` and callers can split good/bad with
:func:`scan_with_quarantine` (parity: common.py:159-168 warns and skips).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from cumulus_etl_spark.schemas import schema_for, wide_schema

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)])


def _conform(df: DataFrame, own: StructType, wide: StructType) -> DataFrame:
    """Project a per-type parsed frame onto the wide schema: absent fields
    become typed nulls; a scalar field whose wide form is an array (the
    Condition.category vs MedicationDispense.category divergence) is
    wrapped with ``F.array`` — parse stays exact per type, union stays
    cheap."""
    own_types = {f.name: f.dataType for f in own.fields}
    cols = []
    for f in wide.fields:
        have = own_types.get(f.name)
        if have is None:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif have == f.dataType:
            cols.append(F.col(f.name))
        else:  # scalar → array promotion (wide_schema guarantees this shape)
            c = F.col(f.name)
            cols.append(F.when(c.isNotNull(), F.array(c)).alias(f.name))
    return df.select(*cols)


def scan_resources(
    spark: SparkSession,
    root: str,
    resource_types: list[str] | tuple[str, ...],
) -> DataFrame:
    """S1: read every ``*.ndjson`` under ``root`` (recursively), keep rows of
    the requested resource types, under the contractual union schema.

    Each type parses under its OWN exact schema (a resourceType dispatch,
    like the reference's per-task scans — common.py:144-156); frames are
    conformed to the wide schema and unioned by name. The resourceType
    filter is a plain predicate Catalyst pushes into each scan. The common
    single-type call is exactly one pass over the files.
    """
    types = list(resource_types)
    wide = wide_schema(types)
    frames = []
    for rt in types:
        own = schema_for(rt)
        df = (
            spark.read.schema(_with_corrupt(own))
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.ndjson")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .json(root)
        )
        df = df.filter(
            F.col(CORRUPT_COL).isNull() & (F.col("resourceType") == rt)
        ).drop(CORRUPT_COL)
        frames.append(_conform(df, own, wide))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def scan_with_quarantine(
    spark: SparkSession,
    root: str,
    resource_types: list[str] | tuple[str, ...],
) -> tuple[DataFrame, DataFrame]:
    """S1 + K7: (good rows, quarantined raw lines) from one scan.

    The quarantine side carries the raw line plus its source file so a
    run can spill them to ``errors/`` (parity: etl/tasks/base.py:356-364).
    """
    types = list(resource_types)
    wide = wide_schema(types)
    # Text-then-parse, not read.json: Spark disallows queries that touch
    # only the corrupt-record column, and this keeps the raw line available
    # for the quarantine side.  Lines are dispatched on resourceType BEFORE
    # any schema parse (ref common.py:144-156 filters before validating):
    # a foreign-type line is simply skipped — it is someone else's input,
    # not an error — and only same-type parse failures quarantine.
    raw = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.ndjson")
        .text(root)
        .select(
            F.col("value").alias("raw_line"),
            F.input_file_name().alias("source_file"),
            F.get_json_object(F.col("value"), "$.resourceType").alias("_rt"),
        )
    )
    goods = []
    bads = [
        # Unparseable JSON / missing resourceType: malformed for every type.
        raw.filter(F.col("_rt").isNull()).select("raw_line", "source_file")
    ]
    for rt in types:
        own = schema_for(rt)
        mine = raw.filter(F.col("_rt") == rt).withColumn(
            "parsed",
            # PERMISSIVE + corrupt column: field-level type mismatches
            # (e.g. a singleton object where FHIR requires an array)
            # populate the corrupt column and route to quarantine instead
            # of flowing through with silently-nulled fields.
            F.from_json(
                F.col("raw_line"),
                _with_corrupt(own),
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            ),
        )
        ok = F.col("parsed").isNotNull() & F.col(f"parsed.{CORRUPT_COL}").isNull()
        goods.append(
            _conform(mine.filter(ok).select("parsed.*").drop(CORRUPT_COL), own, wide)
        )
        bads.append(mine.filter(~ok).select("raw_line", "source_file"))
    good = goods[0]
    for g in goods[1:]:
        good = good.unionByName(g)
    bad = bads[0]
    for b in bads[1:]:
        bad = bad.unionByName(b)
    return good, bad


def detect_resources(spark: SparkSession, root: str) -> set[str]:
    """S2: which resource types are present under ``root``?

    Reads only the ``resourceType`` column (column pruning keeps the scan
    cheap) — drives task selection like ndjson_loader.py:36-38.
    """
    if not _has_ndjson(root):
        return set()
    df = (
        spark.read.schema(StructType([StructField("resourceType", StringType(), True)]))
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.ndjson")
        .json(root)
    )
    return {r["resourceType"] for r in df.distinct().collect() if r["resourceType"]}


def read_deleted_ids(spark: SparkSession, root: str) -> DataFrame:
    """S4: parse ``deleted/`` Bundle NDJSON into (resource_type, id) rows.

    Bulk-export deleted bundles hold entries whose ``request.method`` is
    DELETE and ``request.url`` is ``Type/id``
    (loaders/fhir/ndjson_loader.py:92-116). Expressed as explode+filter+
    split — fully Catalyst, no driver loop.
    """
    deleted_dir = os.path.join(root, "deleted")
    schema = StructType(
        [
            StructField("resourceType", StringType(), True),
            StructField(
                "entry",
                ArrayType(
                    StructType(
                        [
                            StructField(
                                "request",
                                StructType(
                                    [
                                        StructField("method", StringType(), True),
                                        StructField("url", StringType(), True),
                                    ]
                                ),
                                True,
                            )
                        ]
                    )
                ),
                True,
            ),
        ]
    )
    if not _has_ndjson(deleted_dir):
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("resource_type", StringType(), False),
                    StructField("id", StringType(), False),
                ]
            ),
        )
    df = (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.ndjson")
        .json(deleted_dir)
    )
    entries = df.filter(F.col("resourceType") == "Bundle").select(
        F.explode("entry").alias("e")
    )
    url = F.col("e.request.url")
    parts = F.split(url, "/")
    return (
        entries.filter(F.upper(F.col("e.request.method")) == "DELETE")
        .filter(F.size(parts) == 2)
        .select(parts.getItem(0).alias("resource_type"), parts.getItem(1).alias("id"))
        .distinct()
    )


def _has_ndjson(root: str) -> bool:
    """Local-path existence probe so empty dirs don't throw AnalysisException.

    On object stores Spark handles missing-path listing itself; this guard
    is test/local convenience only.
    """
    if "://" in root:
        return True
    for dirpath, _dirs, files in os.walk(root):
        if any(f.endswith(".ndjson") for f in files):
            return True
    return False
