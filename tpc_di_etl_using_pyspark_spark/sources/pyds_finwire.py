"""Python DataSource V2 connector for FINWIRE-shaped fixed-width files
(Spark 4, SPARK-44076 Python data source API).

[SPEC: FINWIRE record layouts] — PTS char(15), RecType char(3),
CompanyName char(60), CIK char(10) for CMP records. /root/reference is
empty (SURVEY §0); the layout comes from the public TPC-DI spec.

This complements sources/fixedwidth.py (spark.read.text + substring
slicing — the preferred, fully-codegen'd path) with the *connector*
surface: a user-defined source that plugs into ``spark.read.format``
with its own partition planning. Each input file is one
``InputPartition``, so reads parallelize across executors exactly like
a built-in file source; the per-partition generator streams lines
without materializing the file. Arrow batches carry rows back to the
JVM. Use this shape when ingesting a format Spark has no reader for
(proprietary ticks, packed binary exports) — scale comes from the
partition count, not the per-row Python cost, and a real deployment
would split giant files by byte range in ``partitions()``.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

CMP_SCHEMA = "pts string, rec_type string, company_name string, cik string"


class FinwireCmpDataSource(DataSource):
    """``spark.read.format("finwire_cmp").option("path", dir)``."""

    @classmethod
    def name(cls) -> str:
        return "finwire_cmp"

    def schema(self) -> str:
        return CMP_SCHEMA

    def reader(self, schema) -> "FinwireCmpReader":  # noqa: ARG002
        return FinwireCmpReader(self.options)


class FinwireCmpReader(DataSourceReader):
    def __init__(self, options) -> None:
        self._path = options["path"]

    def partitions(self) -> list[InputPartition]:
        # one partition per data file (spark text sinks write part-*);
        # a byte-range split per file would go here for huge files.
        # Directories not written by a Spark sink have no part-* files
        # — fall back to every non-hidden regular file rather than
        # silently yielding zero rows.
        files = sorted(glob.glob(os.path.join(self._path, "part-*")))
        if not files:
            files = sorted(
                f
                for f in glob.glob(os.path.join(self._path, "*"))
                if os.path.isfile(f)
                and not os.path.basename(f).startswith((".", "_"))
            )
        return [InputPartition(f) for f in files] or [InputPartition(None)]

    def read(self, partition: InputPartition):
        path = partition.value
        if path is None:
            return
        with open(path, encoding="utf-8") as fh:
            for raw in fh:
                line = raw.rstrip("\n")
                if len(line) < 18 or line[15:18] != "CMP":
                    continue  # other record types: not this reader's layout
                yield (
                    line[0:15],
                    line[15:18],
                    # strip ONLY the fixed-width pad char: a bare
                    # rstrip() also eats a data-final U+0085/U+000B/…
                    # (Python str whitespace ⊃ space), diverging from
                    # F.rtrim / DuckDB rtrim which strip spaces only
                    # (a company name ending in NEL, for example)
                    line[18:78].rstrip(" "),
                    line[78:88],
                )
