"""Sinks, bulk loads, and DDL — the staging/warehouse half of the
reference (SURVEY.md §2.1 S4-S8).

Reference behaviors re-expressed:
- JSON-lines staging to object storage (dag-knlp.py:109-111) →
  `df.write.json` (JSON-lines is Spark's native JSON framing; the s3a
  committer replaces boto3 PUTs on a real cluster).
- 10k-row chunked part-files (dag-knlp.py:126, 139-145) →
  `maxRecordsPerFile` — Spark's normal multi-part output.
- `COPY ... JSON 'auto'` name binding into a fixed-DDL table
  (dag-knlp.py:202-205) → `spark.read.schema(ddl).json` + select to
  DDL order.
- `CREATE TABLE IF NOT EXISTS` + `INSERT INTO ... SELECT`
  (dag-knlp.py:24-63, 66-71) → saveAsTable / insertInto.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_json_lines(df: DataFrame, path: str, max_records_per_file: int = 10_000, mode: str = "overwrite") -> None:
    """S4+S5: JSON-lines sink with bounded part-file size. The
    reference hand-rolls this chunking for memory relief
    (dag-knlp.py:139-145); here it's a writer option and partitioned
    execution does the rest."""
    df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file).json(path)


def read_json_auto(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """S6: bulk JSON load with name-based binding, like
    `COPY ... JSON 'auto'` (dag-knlp.py:202-205); a directory path
    loads every part-file (the reference's prefix COPY,
    dag-knlp.py:231-239). Pass `columns` to project to DDL order
    (the explicit column-list COPY variant, dag-knlp.py:202).

    Pass `schema` when the target table's DDL is known (the reference
    COPYs into fixed tables). Keys then bind by name to its fields:
    a missing key reads as NULL, keys outside it are ignored, and no
    inference pass runs, so building the DataFrame submits no Spark
    job (without it Spark scans all the data once just to infer).
    `columns` defaults to the schema's field names. Without a schema
    only keys that occur somewhere in the data become columns, and the
    JSON writer omits NULL fields: a column that is NULL in every
    staged row, or every column of an empty staging directory, is
    missing from the inferred schema and selecting it fails.

    Malformed-record policy (the part Redshift's COPY error table
    handles in the reference): PERMISSIVE (default) nulls bad rows —
    pass `corrupt_col` to quarantine the raw bad line into a column
    instead of dropping it silently; DROPMALFORMED discards;
    FAILFAST raises on the first bad record.
    """
    reader = spark.read.option("mode", mode)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        if columns is None:
            columns = schema.fieldNames()
        if corrupt_col is not None and corrupt_col not in schema.fieldNames():
            # the reader fills the corrupt-record column only if the
            # schema declares it
            schema = T.StructType(schema.fields + [T.StructField(corrupt_col, T.StringType())])
        reader = reader.schema(schema)
    df = reader.json(path)
    if columns is not None:
        keep = list(columns) + ([corrupt_col] if corrupt_col in df.columns else [])
        df = df.select(*[F.col(c) for c in keep])
    return df


def create_table_if_not_exists(spark: SparkSession, name: str, ddl_schema: str, location: str | None = None) -> None:
    """S7: `CREATE TABLE IF NOT EXISTS ... USING parquet` — the
    reference's DDL strings (dag-knlp.py:24-63) minus the identity
    column, which is engine-side (`plans.dimension.with_identity`)."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({ddl_schema}) USING parquet{loc}")


def insert_into(df: DataFrame, table: str, overwrite: bool = False) -> None:
    """S8: `INSERT INTO ... SELECT` append (dag-knlp.py:66-71)."""
    df.write.insertInto(table, overwrite=overwrite)


def hadoop_fs_path(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for any URI scheme Spark itself can write —
    marker/existence checks must resolve paths the same way the
    parquet writers do, or local-vs-remote drift creeps in (the bm25
    marker bug fixed in r7, the binary-source empty-drop bug in r8)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def hadoop_glob_nonempty(spark: SparkSession, pattern: str) -> bool:
    """True iff ``pattern`` matches at least one path, resolved through
    the Hadoop FileSystem API — the same resolution Spark's own readers
    use, so it works on any scheme (s3a://, hdfs://, file:). A
    driver-local ``glob.glob`` always misses on remote schemes, which
    turned the binary-source readers' empty-drop special case into
    silent data loss there (ADVICE r7 #1). ``globStatus`` returns null
    for a nonexistent parent and an empty array for an existing-but-
    unmatched one; both mean "no shards"."""
    fs, hpath = hadoop_fs_path(spark, pattern)
    matches = fs.globStatus(hpath)
    return matches is not None and len(matches) > 0


def write_completion_marker(spark: SparkSession, path: str, payload: str) -> None:
    """Write `{path}/_INDEX_COMPLETE` — call strictly AFTER every
    artifact under ``path`` has committed, so a crash mid-build reads
    as 'not built' rather than a half-index (ADVICE r6 #1 pattern,
    shared by the bm25 and pq persisted indexes)."""
    fs, marker = hadoop_fs_path(spark, f"{path}/_INDEX_COMPLETE")
    out = fs.create(marker, True)
    out.writeBytes(payload)
    out.close()


def completion_marker_exists(spark: SparkSession, path: str) -> bool:
    fs, marker = hadoop_fs_path(spark, f"{path}/_INDEX_COMPLETE")
    return fs.exists(marker)
