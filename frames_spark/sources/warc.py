"""WARC / WET web-archive ingestion (Spark 4 Python DataSource).

Every crawl-derived corpus (Common Crawl and friends) arrives as
WARC shards (ISO 28500): a stream of records, each a version line
(``WARC/1.0``), a header block, a blank line, then exactly
``Content-Length`` payload bytes. WET files are the same container
holding pre-extracted ``conversion`` records. Spark has no built-in
reader; this source is a Python DataSource: the driver only LISTS
the directory, one task per shard, executors parse their own files
with stdlib code — no driver-side materialization, no external warc
library.

``.warc.gz`` shards are read transparently: the standard layout
gzips each record as its own member, and Python's gzip module
decompresses concatenated members as one stream.

Usage:
    spark.dataSource.register(WarcDataSource)
    df = (spark.read.format("warc")
          .option("path", "/data/crawl")           # dir or file
          .option("record_types", "response,conversion")  # optional
          .option("http_strip", "true")            # default true
          .load())

Schema (fixed):
    record_id    string  — WARC-Record-ID
    record_type  string  — WARC-Type (response, conversion, ...)
    target_uri   string  — WARC-Target-URI (NULL for warcinfo)
    warc_date    string  — WARC-Date as written (ISO-8601)
    content_type string  — record Content-Type header
    payload      binary  — record block; for ``response`` records
                           with ``http_strip`` the HTTP header block
                           is removed, leaving the entity body

Scale notes: a shard is the unit of parallelism (crawl pipelines
already emit ~1 GB shards by convention); decode cost is in the
executors. Downstream: ``functions.html.html_to_text`` turns
response/HTML payloads into clean text for the corpus pipeline.

Frames ref: no equivalent (crawl ingest extension, SURVEY.md §2c).
"""

from __future__ import annotations

import gzip
import io
import os
from collections.abc import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

WARC_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType(), True),
        T.StructField("record_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def parse_warc_stream(
    fh: io.BufferedIOBase,
    record_types: frozenset[str] | None = None,
    http_strip: bool = True,
) -> Iterator[tuple]:
    """Yield schema-shaped tuples from a binary WARC stream.

    Tolerant reader: skips garbage between records by scanning for
    the next ``WARC/`` version line; a record whose payload is
    truncated (EOF before Content-Length bytes) yields what was read.
    """
    while True:
        line = fh.readline()
        if not line:
            return
        if not line.strip().startswith(b"WARC/"):
            continue  # inter-record padding / damage: scan forward
        headers: dict[str, str] = {}
        while True:
            hline = fh.readline()
            if not hline or hline in (b"\r\n", b"\n"):
                break
            if b":" in hline:
                k, _, v = hline.partition(b":")
                headers[k.strip().decode("ascii", "replace").lower()] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        payload = fh.read(length) if length > 0 else b""
        rtype = headers.get("warc-type")
        if record_types is None or (rtype in record_types):
            if (
                http_strip
                and rtype == "response"
                and payload[:5] in (b"HTTP/", b"http/")
            ):
                for sep in (b"\r\n\r\n", b"\n\n"):
                    cut = payload.find(sep)
                    if cut != -1:
                        payload = payload[cut + len(sep) :]
                        break
            yield (
                headers.get("warc-record-id"),
                rtype,
                headers.get("warc-target-uri"),
                headers.get("warc-date"),
                headers.get("content-type"),
                payload,
            )


class _ShardPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WarcReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options["path"]
        if os.path.isdir(path):
            self.files = sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
                and (".warc" in f or ".wet" in f)
            )
        else:
            self.files = [path]
        types_opt = options.get("record_types")
        self.record_types = (
            frozenset(t.strip() for t in types_opt.split(",") if t.strip())
            if types_opt
            else None
        )
        self.http_strip = (
            options.get("http_strip", "true").lower() != "false"
        )

    def partitions(self):
        # one task per shard: executors parse independently, the
        # driver only lists the directory
        return [_ShardPartition(p) for p in self.files]

    def read(self, partition: _ShardPartition) -> Iterator[tuple]:
        opener = (
            gzip.open if partition.path.endswith(".gz") else open
        )
        with opener(partition.path, "rb") as fh:
            yield from parse_warc_stream(
                fh, self.record_types, self.http_strip
            )


class WarcDataSource(DataSource):
    """spark.read.format("warc") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        return WARC_SCHEMA

    def reader(self, schema: T.StructType) -> WarcReader:
        return WarcReader(self.options)

    def streamReader(self, schema: T.StructType) -> "WarcStreamReader":
        return WarcStreamReader(self.options)


def read_warc(
    spark,
    path: str,
    record_types: str | None = None,
    http_strip: bool = True,
):
    """Convenience wrapper: register + load in one call."""
    spark.dataSource.register(WarcDataSource)
    r = spark.read.format("warc").option("path", path).option(
        "http_strip", "true" if http_strip else "false"
    )
    if record_types:
        r = r.option("record_types", record_types)
    return r.load()


def write_wet(
    df,
    out_dir: str,
    uri_col: str = "doc_id",
    text_col: str = "text",
    date: str = "2026-01-01T00:00:00Z",
) -> None:
    """Export (uri, text) rows as WET ``conversion`` shards — the
    interchange format crawl consumers expect back. One shard per
    partition, written by the EXECUTOR owning that partition
    (foreachPartition; no driver collect). The date is a fixed
    caller-supplied literal so shards are bit-reproducible.

    Writes through local/NFS paths; an object-store deployment
    routes out_dir through its mounted filesystem the same way the
    parquet sinks do."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc")
        wrote = False
        with open(path, "wb") as fh:
            for row in it:
                payload = str(row[text_col]).encode("utf-8")
                head = (
                    b"WARC/1.0\r\n"
                    b"WARC-Type: conversion\r\n"
                    + f"WARC-Record-ID: <urn:wet:{row[uri_col]}>\r\n".encode()
                    + f"WARC-Target-URI: {row[uri_col]}\r\n".encode()
                    + f"WARC-Date: {date}\r\n".encode()
                    + b"Content-Type: text/plain\r\n"
                    + f"Content-Length: {len(payload)}\r\n".encode()
                )
                fh.write(head + b"\r\n" + payload + b"\r\n\r\n")
                wrote = True
        if not wrote:
            os.remove(path)

    df.select(uri_col, text_col).foreachPartition(write_partition)


# ---------------------------------------------------------------------------
# Streaming WARC ingest: crawl shards stream through the same parser
# as they LAND in the directory — the front door of a continuously
# ingesting crawl pipeline (pairs with streaming/corpus.py's cleaner:
# read_warc_stream -> html_to_text -> clean_corpus_stream).
# Offset = the sorted list of files already processed (exactly-once
# at file granularity: each microbatch's partitions are the files
# that appeared since the last offset; a restart replays only
# uncommitted files). One task per new shard, executor-side parse,
# same schema as the batch reader.
#
# ATOMIC PLACEMENT REQUIRED: a file is ingested ONCE, the first time
# a listing sees it — a shard still being written when latestOffset()
# runs would be ingested permanently truncated (the tolerant parser
# makes the loss silent). Producers MUST write to a '.'/'_'-prefixed
# temp name (which the listing skips) and rename into place; the WET
# writer in this module and every Hadoop committer already do this.
#
# Offset growth: the default offset carries every processed file name
# forever. With ``compact_offsets=true`` the offset collapses to a
# single name watermark ({"upto": max_name}) — sound ONLY when shard
# names arrive in lexicographically non-decreasing order (the crawl
# convention of timestamp-prefixed names): a late file sorting below
# the watermark would be silently skipped, so the flag is opt-in.
# ---------------------------------------------------------------------------


def _list_warc_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", ".")) and (".warc" in f or ".wet" in f)
        )
    return [path]


class WarcStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        types_opt = options.get("record_types")
        self.record_types = (
            frozenset(t.strip() for t in types_opt.split(",") if t.strip())
            if types_opt
            else None
        )
        self.http_strip = (
            options.get("http_strip", "true").lower() != "false"
        )
        self.compact_offsets = (
            options.get("compact_offsets", "false").lower() == "true"
        )

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        if self.compact_offsets:
            listing = _list_warc_files(self.path)
            # O(1) offset: "every file named <= upto is processed" —
            # requires monotone shard naming (see module note above)
            return {"upto": listing[-1] if listing else None, "files": []}
        return {"files": _list_warc_files(self.path)}

    def partitions(self, start: dict, end: dict):
        if "upto" in end or "upto" in start:
            # compacted form: re-list and take names in the
            # (start.upto, end.upto] window, minus any explicitly
            # listed names (a pre-compaction checkpoint's tail)
            s_upto = start.get("upto")
            e_upto = end.get("upto")
            seen = set(start.get("files", []))
            return [
                _ShardPartition(p)
                for p in _list_warc_files(self.path)
                if (e_upto is not None and p <= e_upto)
                and (s_upto is None or p > s_upto)
                and p not in seen
            ]
        seen = set(start.get("files", []))
        return [
            _ShardPartition(p)
            for p in end.get("files", [])
            if p not in seen
        ]

    def read(self, partition: _ShardPartition) -> Iterator[tuple]:
        opener = gzip.open if partition.path.endswith(".gz") else open
        with opener(partition.path, "rb") as fh:
            yield from parse_warc_stream(
                fh, self.record_types, self.http_strip
            )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing external to ack

    def stop(self) -> None:
        pass


def read_warc_stream(
    spark,
    path: str,
    record_types: str | None = None,
    http_strip: bool = True,
    compact_offsets: bool = False,
):
    """Streaming twin of read_warc (registers the source first).

    Producers must place shards ATOMICALLY (write to a '.'/'_'
    prefixed temp name, rename into place) — see the module note.
    ``compact_offsets`` keeps the checkpoint offset O(1) instead of
    one entry per file ever seen; requires lexicographically
    non-decreasing shard names."""
    spark.dataSource.register(WarcDataSource)
    r = spark.readStream.format("warc").option("path", path).option(
        "http_strip", "true" if http_strip else "false"
    ).option("compact_offsets", "true" if compact_offsets else "false")
    if record_types:
        r = r.option("record_types", record_types)
    return r.load()
