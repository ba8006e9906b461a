"""Fluent builder (reference: builder.go — NewBuilder/AddPath/AddReader/
EnableAutoSave/Build/Open).

    eng = (Builder()
           .add_path("data/")
           .add_reader(b"id,v\\n1,2\\n", "inline", "csv")
           .enable_auto_save("/tmp/out", format="parquet")
           .open())
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

from filesql_spark.engine import AutoSaveConfig, Engine
from filesql_spark.errors import ValidationError
from filesql_spark.naming import sanitize_name, table_name_from_path
from filesql_spark.sources.detect import FORMAT_EXTENSIONS


class Builder:
    def __init__(self) -> None:
        self._paths: list[str] = []
        self._readers: list[tuple[bytes, str, str]] = []
        self._auto_save: AutoSaveConfig | None = None
        self._chunk_size: int | None = None

    def add_path(self, path: str) -> Builder:
        self._paths.append(path)
        return self

    def add_paths(self, *paths: str) -> Builder:
        self._paths.extend(paths)
        return self

    def add_reader(self, data, table_name: str, file_format: str) -> Builder:
        """Register in-memory content (reference AddReader, builder.go:141-148).

        ``data``: bytes or a binary file-like object. ``file_format``: csv/
        tsv/ltsv/parquet/xlsx, optionally with a compression suffix
        ("csv.gz").
        """
        if data is None:
            raise ValidationError("reader data must not be None")
        if not table_name or not table_name.strip():
            raise ValidationError("reader table name must not be empty")
        raw = data if isinstance(data, bytes) else data.read()
        if not raw:
            raise ValidationError(f"reader for table {table_name!r} is empty")
        base_fmt = file_format.split(".")[0].lower()
        if f".{base_fmt}" not in FORMAT_EXTENSIONS:
            raise ValidationError(f"unsupported reader format: {file_format}")
        self._readers.append((raw, table_name.strip(), file_format.lower()))
        return self

    def enable_auto_save(
        self,
        output_dir: str,
        format: str | None = None,  # noqa: A002
        compression: str | None = None,
        on: str = "close",
    ) -> Builder:
        """Auto-save on close (builder.go:196-218); ``on="commit"`` mirrors
        EnableAutoSaveOnCommit (builder.go:220-241). Empty output_dir →
        overwrite original inputs on trigger (save.go:386-399)."""
        if on not in ("close", "commit"):
            raise ValidationError("auto-save trigger must be 'close' or 'commit'")
        self._auto_save = AutoSaveConfig(
            output_dir=output_dir, on=on, format=format, compression=compression
        )
        return self

    def set_chunk_size(self, rows: int) -> Builder:
        """Accepted for API parity (builder.go:159-164); Spark's partitioned
        reads supersede manual chunking — advisory only."""
        if rows < 1:
            raise ValidationError("chunk size must be >= 1")
        self._chunk_size = rows
        return self

    def open(self, spark: SparkSession | None = None) -> Engine:  # noqa: A003
        if not self._paths and not self._readers:
            raise ValidationError("at least one path or reader is required")
        for p in self._paths:
            if not os.path.exists(p):
                raise ValidationError(f"path does not exist: {p}")

        eng = Engine(spark=spark, auto_save=self._auto_save)
        try:
            if self._paths:
                eng.load_paths(self._paths)
            for raw, table_name, fmt in self._readers:
                # spill to a temp file named so the normal load path applies
                suffix = "." + fmt
                fd, tmp = tempfile.mkstemp(suffix=suffix, prefix=f"filesql_reader_")
                with os.fdopen(fd, "wb") as f:
                    f.write(raw)
                eng._temp_files.append(tmp)
                from filesql_spark.sources.loader import load_file

                result = load_file(eng.spark, tmp)
                eng._temp_files.extend(result.temp_files)
                # one table keeps the reader's name; the sheets of a
                # multi-sheet workbook are {table_name}_{sheet}, as a
                # file's sheets are {file}_{sheet}
                stem = sanitize_name(table_name_from_path(tmp))
                for auto_name, df in result.tables:
                    name = table_name
                    if len(result.tables) > 1:
                        name = f"{table_name}_{auto_name[len(stem) + 1:]}"
                    eng.register(name, df, origin=None)
            eng._flush()
        except BaseException:
            eng.close()
            raise
        return eng
