"""Sources & sinks (SURVEY §2.1): the ingest/egress surface.

S1/S2  parquet table scans         -> catalog.load_table
S3     indexed filtered scans      -> partitioned layout + pushdown (below)
S4     JSON ingest                 -> parse_json_props / events_from_json
S5     append sink                 -> write_partitioned
S6     upsert sink                 -> operators.mutation.upsert_latest
S7     backup sink                 -> operators.mutation.snapshot
S8     retention delete            -> operators.mutation.retention_rewrite
S9     in-memory fixture source    -> memory_events
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The sheets-selection payload schema (SURVEY §1.2; sheets-code.gs:273-282) —
# the shape carried in the reference's updates.content JSON.
SELECTION_SCHEMA = (
    "spreadsheetId STRING, sheetName STRING, range STRING, "
    "numRows INT, numColumns INT, timestamp STRING, active BOOLEAN, syncEnabled BOOLEAN"
)

# The Slides element payload — the reference's richest data shape, built
# client-side by getElementProperties (slides-code.gs:312-375) with the
# per-type branches (shape/text fill+border, image properties, table
# properties incl. the hasHeader row-height heuristic at slides-code.gs:358,
# group child count), plus the TABLE_CELL selection envelope
# (slides-code.gs:257-262: tableSelection{row,column,rowSpan,columnSpan}),
# the PAGE selection properties (slides-code.gs:282-285: pageNumber+layout)
# and the text-style struct (slides-code.gs:294-310). Fields absent for a
# given element type are null (the reference simply omits them from the JS
# object; JSON omission parses to null here).
ELEMENT_SCHEMA = (
    # slideId/slideName/slideIndex all carry the page objectId — the
    # reference assigns the same getObjectId() to all three
    # (slides-code.gs:254-256, 280-282), so slideIndex is a STRING id,
    # not a numeric position.
    "elementId STRING, elementType STRING, slideId STRING, slideName STRING, "
    "slideIndex STRING, "
    "tableSelection STRUCT<row: INT, column: INT, rowSpan: INT, columnSpan: INT>, "
    "properties STRUCT<"
    "type: STRING, "
    "position: STRUCT<left: DOUBLE, top: DOUBLE>, "
    "size: STRUCT<width: DOUBLE, height: DOUBLE>, "
    "text: STRING, "
    "shapeType: STRING, "
    "fill: STRUCT<type: STRING, color: STRING>, "
    "border: STRUCT<weight: DOUBLE, dashStyle: STRING, color: STRING>, "
    "imageProperties: STRUCT<sourceUrl: STRING, brightness: DOUBLE, contrast: DOUBLE, transparency: DOUBLE>, "
    "tableProperties: STRUCT<numRows: INT, numColumns: INT, hasHeader: BOOLEAN>, "
    "groupProperties: STRUCT<numChildren: INT>, "
    "pageNumber: STRING, "
    "layout: STRING, "
    "textStyle: STRUCT<bold: BOOLEAN, italic: BOOLEAN, underline: BOOLEAN, "
    "strikethrough: BOOLEAN, fontSize: INT, fontFamily: STRING, "
    "foregroundColor: STRING, backgroundColor: STRING>"
    ">, "
    "timestamp BIGINT"
)


def parse_json_props(df: DataFrame, col: str, schema: str | StructType) -> DataFrame:
    """S4 schema-on-read JSON (reference: JSON.parse client-side,
    sheets-code.gs:364-365): string column -> typed struct. Malformed rows
    yield null structs rather than failing the job (PERMISSIVE)."""
    return df.withColumn(f"{col}_parsed", F.from_json(F.col(col), schema))


def events_from_json(spark: SparkSession, json_lines: list[str], schema: str | StructType) -> DataFrame:
    """S4 HTTP-body ingest analog: JSON strings -> typed rows."""
    raw = spark.createDataFrame([(s,) for s in json_lines], "raw STRING")
    return raw.select(F.from_json("raw", schema).alias("r")).select("r.*")


def json_ingest_quarantine(
    spark: SparkSession, json_lines: list[str], schema: str | StructType
) -> tuple[DataFrame, DataFrame]:
    """S4 ingest with a dead-letter queue: malformed payloads are NOT
    silently nulled (the trap in plain PERMISSIVE parsing) — they are
    split into a quarantine DataFrame that preserves the original bytes
    for replay after a fix. Returns (good_rows, quarantined_raw).

    The reference ACKs every update it can't parse and loses it
    (server.mjs catch -> 400, no persistence); a pipeline at scale instead
    writes the quarantine side to its own sink and alerts on its rate.
    Implemented with from_json's columnNameOfCorruptRecord so one parse
    pass serves both sides — no second scan of the input."""
    if isinstance(schema, StructType):
        schema = schema.simpleString()[7:-1].replace(":", " ")  # struct<...> -> DDL
    full = f"{schema}, _corrupt STRING"
    raw = spark.createDataFrame([(s,) for s in json_lines], "raw STRING")
    parsed = raw.select(
        "raw",
        F.from_json(
            "raw", full, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"}
        ).alias("r"),
    )
    good = parsed.filter(F.col("r._corrupt").isNull()).select("r.*").drop("_corrupt")
    quarantined = parsed.filter(F.col("r._corrupt").isNotNull()).select(
        F.col("raw").alias("raw_payload")
    )
    return good, quarantined


def memory_events(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """S9 mock/echo source (test-server.mjs:12-15): deterministic in-memory
    fixtures for tests and streaming micro-batch seeds."""
    return spark.createDataFrame(rows, schema)


def write_partitioned(df: DataFrame, table_dir: str, partition_cols: list[str]) -> None:
    """S5 append sink with the S3 'index' analog: partitioning by the
    filter columns (the reference's B-tree indexes on active/processed/type,
    db.mjs:92-98) so equality predicates become partition pruning instead of
    index probes. At 100 TB this is the difference between scanning one
    directory and scanning the table."""
    df.write.mode("append").partitionBy(*partition_cols).parquet(table_dir)


def read_partitioned(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read back a partitioned table; partition columns come from the
    directory layout and equality filters on them prune at planning time.

    Plain inference on purpose, not ``catalog.read_parquet``: its cache key
    is a non-recursive listing, which cannot see files appended under an
    existing partition directory."""
    return spark.read.parquet(table_dir)


# --- interchange formats ---------------------------------------------------
# The reference's only storage is a single SQLite file (db.mjs:5-14); an
# analytics engine additionally needs the standard interchange formats. All
# readers take an explicit schema: schema inference re-reads the input (a
# full extra pass at 100 TB) and can silently drift between runs.

INTERCHANGE_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Write a DataFrame in any interchange format. CSV keeps a header for
    interoperability; parquet/orc are the columnar choices for anything that
    will be re-read (predicate pushdown + column pruning need them)."""
    if fmt not in INTERCHANGE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {INTERCHANGE_FORMATS}")
    w = df.write.mode(mode)
    if fmt in ("json", "csv"):
        # default text-format timestamp pattern truncates to milliseconds;
        # micros keep parity with the parquet/orc representation
        w = w.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    if fmt == "csv":
        w = w.option("header", "true")
    df_writer = getattr(w, fmt)
    df_writer(path)


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet", schema: str | StructType | None = None
) -> DataFrame:
    """Read any interchange format. For json/csv a schema is REQUIRED —
    inference costs a full extra scan and types drift (e.g. ints promoted
    to bigint on an empty partition); for parquet/orc the file footer is
    authoritative."""
    if fmt not in INTERCHANGE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {INTERCHANGE_FORMATS}")
    r = spark.read
    if fmt in ("json", "csv"):
        if schema is None:
            raise ValueError(f"{fmt} read requires an explicit schema (inference = extra full scan)")
        r = r.schema(schema).option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        if fmt == "csv":
            r = r.option("header", "true")
    return getattr(r, fmt)(path)
