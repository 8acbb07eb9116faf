"""Custom connector via the Python Data Source API (PySpark 4).

The reference's source surface is files Spark already speaks (CSV/parquet,
SURVEY.md §2.1); this module extends the engine with the idiomatic way to
speak formats Spark does NOT: a `DataSource` subclass registered on the
session, after which `spark.read.format("jsonl_files")` plans it like any
V2 source — one `InputPartition` per file (parallel scan, executor-side
reads, no driver collect) and `pushFilters` so supported predicates drop
rows inside the source instead of in a post-scan Filter node.

The concrete source reads JSON-Lines file trees. At 100 TB the same class
shape points at object-store listings: `partitions()` returns one split
per object (or byte range), `read()` streams a single split, and pushed
filters cut I/O at the source — the executor-parallel, driver-light
layout Spark expects of a connector.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


def _passes(row: dict, pushed: list[tuple[str, str, Any]]) -> bool:
    for op, name, value in pushed:
        v = row.get(name)
        if v is None:
            return False
        if op == "=" and not v == value:
            return False
        if op == ">" and not v > value:
            return False
    return True


class JsonlFilesReader(DataSourceReader):
    """One partition per .jsonl file; EqualTo / GreaterThan on top-level
    fields are evaluated inside the source (line-level, before Spark sees
    the row). Every other filter is returned to Spark unhandled, per the
    API contract."""

    def __init__(self, schema: StructType, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_files: a path option is required")
        self.schema = schema
        self.path = path
        self.pushed: list[tuple[str, str, Any]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if isinstance(f, (EqualTo, GreaterThan)) and len(f.attribute) == 1:
                op = "=" if isinstance(f, EqualTo) else ">"
                self.pushed.append((op, f.attribute[0], f.value))
            else:
                yield f

    def partitions(self) -> list[_FilePartition]:
        pattern = self.path
        if os.path.isdir(pattern):
            # bare dir: accept .jsonl trees and Spark's own json sink
            # layout (part-*.json) so connector and sink compose
            paths = sorted(
                glob.glob(os.path.join(pattern, "*.jsonl"))
                + glob.glob(os.path.join(pattern, "*.json"))
            )
        else:
            paths = sorted(glob.glob(pattern))
        if not paths:
            # zero-file tree: one empty split so the scan yields an empty
            # frame instead of failing to plan
            return [_FilePartition("")]
        return [_FilePartition(p) for p in paths]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        if not partition.path:
            return
        names = [f.name for f in self.schema.fields]
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                row = json.loads(line)
                if _passes(row, self.pushed):
                    yield tuple(row.get(n) for n in names)


class JsonlFilesDataSource(DataSource):
    """`spark.read.format("jsonl_files").schema(s).load(path)` — register
    with `spark.dataSource.register(JsonlFilesDataSource)`."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_files"

    def reader(self, schema: StructType) -> JsonlFilesReader:
        return JsonlFilesReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> "JsonlStreamReader":
        return JsonlStreamReader(schema, self.options)


def register(spark) -> None:
    # pushFilters is gated behind a conf (off by default in 4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(JsonlFilesDataSource)


class JsonlStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the connector: the source directory is an
    append-only log of .jsonl files consumed in filename order. The OFFSET
    is a position in that log — ``file`` files are consumed, plus ``pos``
    bytes of the next one — so `read(start)` returns the records from
    there to the last complete line of the newest file, and
    `readBetweenOffsets` replays an exact range on recovery: a
    checkpointed query resumes without loss or double-reads.

    A file may be written in place. Only complete (newline-terminated)
    lines of the newest file are consumed, and its tail is read by a later
    trigger; once a later file appears, the earlier one is read to its
    end.

    The *simple* stream API runs reads driver-side (Spark prefetches and
    ships record batches to executors) — right for control-plane-size
    feeds (an API poll, a manifest tail). A data-plane volume source
    would implement the partitioned `DataSourceStreamReader` instead,
    with one InputPartition per file exactly like the batch reader
    above."""

    def __init__(self, schema: StructType, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("jsonl_files: a path option is required")
        self.schema = schema
        self.path = path

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, "*.jsonl")))

    def _rows(self, files: list[str], start: dict, end: dict) -> list[tuple]:
        names = [f.name for f in self.schema.fields]
        rows = []
        for i in range(start["file"], end["file"] + 1):
            lo = start["pos"] if i == start["file"] else 0
            with open(files[i], "rb") as fh:
                fh.seek(lo)
                data = fh.read(end["pos"] - lo) if i == end["file"] else fh.read()
            for line in data.splitlines():
                if line.strip():
                    row = json.loads(line)
                    rows.append(tuple(row.get(n) for n in names))
        return rows

    def initialOffset(self) -> dict:
        return {"file": 0, "pos": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        files = self._files()
        if not files:
            return iter([]), start
        last = len(files) - 1
        lo = start["pos"] if start["file"] == last else 0
        with open(files[last], "rb") as fh:
            fh.seek(lo)
            end = {"file": last, "pos": lo + fh.read().rfind(b"\n") + 1}
        # a materialized list-iterator, not a generator: the prefetcher
        # advances it with next() and pickles the remainder
        return iter(self._rows(files, start, end)), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(self._rows(self._files(), start, end))
