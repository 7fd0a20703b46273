"""Spark 4 Python Data Source for the spool/record format (S5 as a
first-class `spark.read.format(...)` source).

The engine's sink writes gzip-9 JSON record files (reference
`spool.py:25-36` naming + atomic link); `sinks/records.py:read_spool`
reads them back via binaryFile + mapInArrow. This module registers the
same decode as a NATIVE Spark data source using the pyspark 4 Python
Data Source API (`pyspark.sql.datasource`), so the format composes with
the full reader surface:

    spark.dataSource.register(SpoolDataSource)
    spark.read.format("kinesyslogspool").load(spool_dir)          # batch
    spark.readStream.format("kinesyslogspool").load(spool_dir)    # stream
    env_df.write.format("kinesyslogspool").mode("append").save(spool_dir)
                                                                  # sink

Batch: one InputPartition per spool file — a multi-TB prefix fans out
one task per record blob, same layout binaryFile would produce, minus
the content round-trip through an intermediate row.

Streaming: a file-watermark source. Offsets are
`{"wm": <mtime>, "tie": [names at wm]}`; `latestOffset` scans the
directory and advances the watermark, `partitions(start, end)` assigns
the newly-arrived files of that window. Files are immutable once linked
into place (the sink writes tmp + link, so a visible name is complete),
which makes (mtime, name) a stable arrival order. At-least-once: a file
whose mtime lands *behind* an already-committed watermark (clock skew
across writers on a shared filesystem) would be skipped — same
limitation as Spark's own FileStreamSource without `latestFirst`;
acceptable for a machine-local spool where link time is scan time.

Requires pyspark >= 4.0 (the API module is import-gated; callers get a
clear ImportError otherwise).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from kinesyslog_spark.constants import SPOOL_PREFIX
from kinesyslog_spark.sinks.records import (
    ENVELOPE_SCHEMA,
    envelope_rows,
    record_payloads,
    spool_write,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.types import StructType

SPOOL_GLOB_PREFIX = SPOOL_PREFIX

ENVELOPE_DDL = ENVELOPE_SCHEMA + ", src_file string"


def _decode_file(path: str) -> Iterator[tuple]:
    """Multi-member gzip -> envelope tuples (one per record part)."""
    with open(path, "rb") as f:
        blob = f.read()
    name = os.path.basename(path)
    for row in envelope_rows(blob):
        yield (*row, name)


def _spool_files(path: str) -> list[tuple[float, str]]:
    """(mtime, absolute path) for every complete spool file, arrival
    order. Temp files never match the prefix (tmp + link naming)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if not name.startswith(SPOOL_GLOB_PREFIX):
            continue
        full = os.path.join(path, name)
        try:
            out.append((os.stat(full).st_mtime, full))
        except FileNotFoundError:
            continue  # uploaded/unlinked between listdir and stat
    out.sort()
    return out


class _SpoolPartition(InputPartition):
    def __init__(self, files: list[str]):
        self.files = files


class _SpoolBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kinesyslogspool requires a path (.load(dir))")

    def partitions(self) -> list[InputPartition]:
        files = [p for _, p in _spool_files(self.path)]
        # One partition per file: each spool file is one Firehose record
        # blob; there is no finer split unit (gzip members don't seek).
        return [_SpoolPartition([p]) for p in files] or [_SpoolPartition([])]

    def read(self, partition: _SpoolPartition) -> Iterator[tuple]:
        for path in partition.files:
            yield from _decode_file(path)


class _SpoolStreamReader(DataSourceStreamReader):
    """File-watermark micro-batch source over the spool directory."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kinesyslogspool requires a path (.load(dir))")

    # -- offset bookkeeping -------------------------------------------------
    def initialOffset(self) -> dict:  # noqa: N802
        return {"wm": 0.0, "tie": []}

    def latestOffset(self) -> dict:  # noqa: N802
        files = _spool_files(self.path)
        if not files:
            return {"wm": 0.0, "tie": []}
        wm = files[-1][0]
        tie = [os.path.basename(p) for m, p in files if m == wm]
        return {"wm": wm, "tie": sorted(tie)}

    def _window(self, start: dict, end: dict) -> list[str]:
        s_wm, s_tie = start["wm"], set(start["tie"])
        e_wm, e_tie = end["wm"], set(end["tie"])
        picked = []
        for m, p in _spool_files(self.path):
            name = os.path.basename(p)
            if m < s_wm or m > e_wm:
                continue
            if m == s_wm and name in s_tie:
                continue  # already delivered with the start watermark
            if m == e_wm and name not in e_tie:
                continue  # arrived after latestOffset snapshotted this wm
            picked.append(p)
        return picked

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        files = self._window(start, end)
        return [_SpoolPartition([p]) for p in files] or [_SpoolPartition([])]

    def read(self, partition: _SpoolPartition) -> Iterator[tuple]:
        for path in partition.files:
            yield from _decode_file(path)

    def commit(self, end: dict) -> None:
        pass  # spool retention is the uploader's job, not the reader's


class _SpoolCommit(WriterCommitMessage):
    def __init__(self, n_files: int):
        self.n_files = n_files


class _SpoolWriter(DataSourceArrowWriter):
    """`df.write.format("kinesyslogspool")`: envelope Arrow batches ->
    gzip-9 JSON record files through the SAME codec and atomic-link path
    as the relay sink (sinks/records.py `record_payloads` + K1).

    Each file becomes visible only through the temp+link publish, so a
    crashed task leaves no partial file; a RETRIED task re-links new
    uuid names, so delivery is at-least-once — exactly the reference
    spool's contract (its uploader dedups downstream, K3)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kinesyslogspool requires a path (.save(dir))")

    def write(self, iterator) -> "_SpoolCommit":
        n = 0
        for *_, blob in record_payloads(iterator):
            spool_write(blob, self.path)
            n += 1
        return _SpoolCommit(n)

    def commit(self, messages) -> None:
        pass  # files were atomically published per-part in write()

    def abort(self, messages) -> None:
        pass  # temp files never became visible; linked parts stay
        # (at-least-once, see class docstring)


class _SpoolStreamWriter(DataSourceStreamArrowWriter):
    """`df.writeStream.format("kinesyslogspool")`: the native streaming
    form of the relay's foreachBatch spool sink (sinks/records.py:
    spool_batch). Same per-part atomic publish; a replayed micro-batch
    re-links new uuid names, so delivery is at-least-once — the spool's
    contract (K3's uploader acks per record downstream)."""

    def __init__(self, options: dict):
        self._w = _SpoolWriter(options)

    def write(self, iterator) -> "_SpoolCommit":
        return self._w.write(iterator)

    def commit(self, messages, batchId) -> None:  # noqa: N803
        pass  # parts were atomically published in write()

    def abort(self, messages, batchId) -> None:  # noqa: N803
        pass


class SpoolDataSource(DataSource):
    """`format("kinesyslogspool")`: the engine's record format as a
    native batch + streaming source AND batch + streaming sink."""

    @classmethod
    def name(cls) -> str:
        return "kinesyslogspool"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def reader(self, schema: "StructType") -> DataSourceReader:
        return _SpoolBatchReader(self.options)

    def streamReader(self, schema: "StructType") -> DataSourceStreamReader:  # noqa: N802
        return _SpoolStreamReader(self.options)

    def writer(self, schema: "StructType", overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise ValueError(
                "kinesyslogspool is append-only (a spool directory is a "
                "queue; retention belongs to the uploader)"
            )
        return _SpoolWriter(self.options)

    def streamWriter(  # noqa: N802
        self, schema: "StructType", overwrite: bool
    ) -> DataSourceStreamWriter:
        return _SpoolStreamWriter(self.options)


def register_spool_source(spark) -> None:
    spark.dataSource.register(SpoolDataSource)
