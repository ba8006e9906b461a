"""CSV / TSV reader (reference: file.go:452-493, stream.go:242-341).

Strategy: ``spark.read.csv`` with an all-string schema (distributed,
splittable scan — Spark's equivalent of the reference's chunked streaming),
then our sample-bounded inference pass over the first rows (the reference
also infers from chunk 1 only, stream.go:285-295), then ``try_cast`` to the
inferred types (cast failures → NULL, SURVEY §7.4 decision #1).

Empty-field semantics: Spark yields NULL where the reference keeps ``""``;
for numeric/datetime columns the observable behavior matches (SQLite's ``''``
in an INTEGER column fails numeric predicates just like NULL); for text
columns ``COUNT(col)`` differs — documented divergence (SURVEY §1.2).
"""

from __future__ import annotations

import csv
import io
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filesql_spark.errors import DuplicateColumnError, EmptyFileError
from filesql_spark.inference import ColumnType, infer_schema
from filesql_spark.sources.compression import (
    SPARK_NATIVE_READ,
    decompress_to_temp,
    open_reader,
)
from filesql_spark.sources.detect import Compression, FileFormat

INFERENCE_ROWS = 3000  # sampling pool; inference itself caps at 1000/col


def _read_header(path: str, compression: Compression, delimiter: str) -> list[str]:
    """Parse the first line with real CSV quoting rules (driver-side, bounded)."""
    with open_reader(path, compression) as f:
        first = f.read(1 << 20)  # 1 MiB is far beyond any sane header
    if not first.strip():
        raise EmptyFileError(f"file is empty: {path}")
    text = first.decode("utf-8-sig", errors="replace")
    # feed the whole buffer to csv.reader and take its first *record* — a
    # splitlines()[0] pre-cut would truncate quoted header fields that
    # contain embedded newlines, diverging from the multiLine=True data read
    reader = csv.reader(io.StringIO(text), delimiter=delimiter)
    header = next(reader, [])
    cleaned = [h.strip() for h in header]
    dupes = {h for h in cleaned if cleaned.count(h) > 1}
    if dupes:
        # Reference: duplicate column names are a hard error (types.go:202-214)
        raise DuplicateColumnError(
            f"duplicate column names in {os.path.basename(path)}: {sorted(dupes)}"
        )
    return cleaned


def apply_inferred_types(df: DataFrame, sample_rows: list[list[str | None]]) -> DataFrame:
    """Run the reference's inference vote and try_cast the winners."""
    schema = infer_schema(df.columns, sample_rows)
    cols = []
    for name, ctype in schema:
        c = F.col(name)
        if ctype in (ColumnType.INTEGER, ColumnType.REAL):
            c = F.trim(c).try_cast(ctype.spark_type)
        # DATETIME / TEXT stay strings (inference.py module docstring)
        cols.append(c.alias(name))
    return df.select(*cols)


def read_delimited(
    spark: SparkSession,
    path: str,
    fmt: FileFormat,
    compression: Compression,
) -> tuple[DataFrame, str | None]:
    """Load a CSV or TSV file → typed DataFrame.

    Returns (df, temp_path): temp_path is a spill file the caller must
    delete after the engine closes (non-native codecs only).
    """
    delimiter = "\t" if fmt == FileFormat.TSV else ","
    header = _read_header(path, compression, delimiter)

    src, tmp = path, None
    if compression not in SPARK_NATIVE_READ:
        suffix = ".tsv" if fmt == FileFormat.TSV else ".csv"
        tmp = decompress_to_temp(path, compression, suffix)
        src = tmp

    raw = (
        spark.read.option("header", True)
        .option("delimiter", delimiter)
        .option("inferSchema", False)
        .option("mode", "PERMISSIVE")
        .option("encoding", "UTF-8")
        # RFC-4180 embedded newlines (reference uses encoding/csv which
        # handles them, file.go:452-493). Trade-off: multiLine files are
        # not split across tasks. The one-task parse runs once per table
        # (on the first read of its in-memory snapshot, engine.py), not
        # once per statement; for cluster-scale CSVs that are known
        # newline-free, flip this off to restore splittable scans.
        .option("multiLine", True)
        # RFC-4180 quote escaping is a doubled quote; Spark's default
        # escape char is backslash (which encoding/csv does not treat
        # specially). Without this, `"{""k"": 1}"` splits mid-field.
        .option("escape", '"')
        .csv(src)
    )
    # normalize header: Spark keeps the BOM and padding; we match the
    # reference's trimmed names
    raw = raw.toDF(*header) if len(raw.columns) == len(header) else raw

    sample = [
        [row[i] for i in range(len(raw.columns))]
        for row in raw.limit(INFERENCE_ROWS).collect()
    ]
    return apply_inferred_types(raw, sample), tmp
