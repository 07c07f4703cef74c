"""WARC source connector — Common-Crawl-style ingest.

The reference ingests entity data over HTTP APIs; a 100 TB *web-text*
deployment of this engine ingests crawl archives, whose interchange
format is WARC (ISO 28500).  This connector turns WARC files into the
engine's canonical pages relation ``(url, warc_ts, html, text, lang)``
— the exact input shape of the pipeline — so
``run_pipeline(spark, cfg, pages=read_warc(spark, glob))`` ingests a
real crawl with no other change.

Scale posture:

* files load via Spark's ``binaryFile`` source — one task per file,
  parallelism = file count (Common Crawl ships ~1 GB segments in the
  tens of thousands per crawl: ideal task granularity, no shuffle);
* record parsing is a ``mapInPandas`` fan-out (file bytes → many page
  rows) — Arrow-batched, no row-at-a-time Python;
* whole-file gzip is handled; per-record gzip members (the CC layout)
  are split on gzip magic boundaries and decompressed member-wise —
  both paths covered by tests over deterministic synthetic archives;
* only ``WARC-Type: response`` records yield rows (request/metadata
  records are skipped), matching how crawl processors read CC.

Parsing is a small, total WARC/1.0 + HTTP reader: malformed records
are *dropped, counted per file*, never raised — one corrupt record in
a 100 TB crawl must not kill a stage.
"""

from __future__ import annotations

import gzip
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

GZIP_MAGIC = b"\x1f\x8b"
WARC_VERSION = b"WARC/1.0"

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def _split_gzip_members(data: bytes) -> list[bytes]:
    """Decompress concatenated gzip members (the CC per-record layout):
    one decompressobj per member, advancing through unused_data."""
    import zlib

    out = []
    buf = data
    while buf[:2] == GZIP_MAGIC:
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            body = d.decompress(buf)
        except zlib.error:
            break
        if not d.eof:  # truncated member
            break
        out.append(body)
        buf = d.unused_data
    return out


def _decompress(data: bytes) -> bytes:
    if data[:2] == GZIP_MAGIC:
        members = _split_gzip_members(data)
        if members:
            return b"".join(members)
    return data


def _parse_records(
    data: bytes,
    stats: dict | None = None,
    record_types: tuple[str, ...] = ("response",),
) -> Iterator[dict]:
    """Yield one pages row (a dict keyed by ``PAGES_SCHEMA``'s
    fields) per well-formed record of the requested types —
    ``response`` (crawl WARC: the HTTP status line + headers are
    stripped, ``html`` = the HTML bytes) or ``conversion`` (WET text
    archives: ``text`` = the body verbatim, decoded UTF-8 with invalid
    bytes replaced); the other payload column and ``lang`` are None.

    Offset-based scan driven by each record's Content-Length — NOT a
    split on the version marker, because a page body may itself
    contain the bytes ``WARC/1.0`` (a page about WARC, a mirrored
    archive) and a split-based reader would shear such records.  A
    record with a bad/missing length falls back to scanning forward
    from its own header, so one corrupt record costs at most itself.
    """
    if stats is None:
        stats = {}
    stats.setdefault("records", 0)
    stats.setdefault("responses", 0)
    stats.setdefault("dropped", 0)
    marker = WARC_VERSION + b"\r\n"
    pos = 0
    n = len(data)
    while pos < n:
        idx = data.find(marker, pos)
        if idx < 0:
            break
        stats["records"] += 1
        head_end = data.find(b"\r\n\r\n", idx)
        if head_end < 0:
            stats["dropped"] += 1
            break
        headers: dict[str, str] = {}
        for line in data[idx + len(marker):head_end].split(b"\r\n"):
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().decode("ascii", "replace").lower()] = (
                    v.strip().decode("ascii", "replace")
                )
        body_start = head_end + 4
        try:
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError
        except (KeyError, ValueError):
            stats["dropped"] += 1
            pos = body_start  # malformed: scan forward, drop record
            continue
        body = data[body_start:body_start + length]
        pos = body_start + length  # skip the body, whatever it contains

        rectype = headers.get("warc-type")
        if rectype not in record_types:
            continue  # other record kinds: skipped, not dropped
        url = headers.get("warc-target-uri")
        date = headers.get("warc-date")
        if not url or not date:
            stats["dropped"] += 1
            continue
        try:
            ts = datetime.fromisoformat(date.replace("Z", "+00:00"))
            ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
        except ValueError:
            stats["dropped"] += 1
            continue
        stats["responses"] += 1
        row = {"url": url, "warc_ts": ts, "html": None, "text": None,
               "lang": None}
        if rectype == "response":
            # HTTP response payload: strip the status line + headers
            http_end = body.find(b"\r\n\r\n")
            row["html"] = bytes(
                body[http_end + 4:] if http_end >= 0 else body)
        else:  # conversion: the body IS the payload
            row["text"] = body.decode("utf-8", "replace")
        yield row


def _read_pages(
    spark: SparkSession, path: str, record_type: str
) -> DataFrame:
    """The one parse path of ``read_warc`` and ``read_wet``: a
    ``mapInPandas`` fan-out of every file's ``record_type`` records
    into pages rows."""
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def parse_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                rec
                for content in pdf["content"]
                for rec in _parse_records(
                    _decompress(bytes(content)), record_types=(record_type,)
                )
            ]
            yield pd.DataFrame(rows, columns=PAGES_SCHEMA.names)

    return files.mapInPandas(parse_batches, PAGES_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC file glob → canonical pages DataFrame
    (url, warc_ts, html, text=NULL, lang=NULL).

    ``text`` is NULL (the extractor fills it) and ``lang`` is NULL
    (the language-ID operator fills it) — same contract as a pages
    table whose enrichment columns have not been computed yet.
    """
    return _read_pages(spark, path, "response")


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET (WARC text-conversion) file glob → canonical pages
    DataFrame (url, warc_ts, html=NULL, text, lang=NULL) — the
    Common-Crawl pre-extracted-text distribution.  ``conversion``
    records carry the extracted text verbatim as the record body
    (decoded UTF-8, invalid bytes replaced); ``html`` is NULL because
    the original markup is not in a WET archive.  Same tolerant
    offset-based parser, same three compression layouts as
    ``read_warc``."""
    return _read_pages(spark, path, "conversion")


def read_warc_metrics(spark: SparkSession, path: str) -> DataFrame:
    """(path, n_records, n_responses, n_dropped): per-file ingest
    audit — how many WARC records each file holds, how many yielded
    pages, how many were malformed and dropped.  A separate audit scan
    by design: the hot ingest path (``read_warc``) stays a pure
    fan-out with no side channel, and the audit runs on demand (or on
    a sampled file subset) with the same tolerant parser, so its
    numbers are exactly the ingest's numbers."""
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def audit_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "path": [], "n_records": [], "n_responses": [],
                "n_dropped": [],
            }
            for p, content in zip(pdf["path"], pdf["content"]):
                stats: dict = {}
                for _ in _parse_records(_decompress(bytes(content)), stats):
                    pass
                rows["path"].append(p)
                rows["n_records"].append(stats["records"])
                rows["n_responses"].append(stats["responses"])
                rows["n_dropped"].append(stats["dropped"])
            yield pd.DataFrame(rows)

    return files.mapInPandas(
        audit_batches,
        "path string, n_records long, n_responses long, n_dropped long",
    )


# ---------------------------------------------------------------------------
# deterministic synthetic archive (test/bench input, same convention as
# sources/pages.py: pure function of the row content, no randomness)


def _record_bytes(url: str, warc_ts, html: bytes, member_gzip: bool) -> bytes:
    """One WARC/1.0 response record (optionally its own gzip member —
    the Common-Crawl layout).  mtime=0 keeps the gzip bytes a pure
    function of the record content."""
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    )
    date = warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode()
    head = (
        WARC_VERSION + b"\r\n"
        + b"WARC-Type: response\r\n"
        + b"WARC-Target-URI: " + url.encode() + b"\r\n"
        + b"WARC-Date: " + date + b"\r\n"
        + b"Content-Length: " + str(len(http)).encode() + b"\r\n"
        + b"\r\n"
    )
    record = head + http + b"\r\n\r\n"
    return gzip.compress(record, mtime=0) if member_gzip else record


def write_warc_bytes(records: list[dict], member_gzip: bool = False) -> bytes:
    """Serialize (url, warc_ts, html) dicts as a WARC/1.0 archive.

    ``member_gzip=True`` produces the Common-Crawl layout (one gzip
    member per record)."""
    return b"".join(
        _record_bytes(r["url"], r["warc_ts"], r["html"], member_gzip)
        for r in records
    )


def write_warc(
    pages: DataFrame, out_dir: str, member_gzip: bool = True
) -> list[dict]:
    """Distributed WARC sink: one ``part-<pid>.warc[.gz]`` shard per
    non-empty partition, streamed Arrow-batch-by-batch (a shard is
    never buffered whole in memory), written to a temp name and
    atomically renamed — a retried/speculated task rewrites its own
    shard instead of corrupting it.  Returns the collected manifest
    ``[{shard, n_records}, ...]`` and drops a ``_SUCCESS`` marker, so
    a consumer can distinguish a committed archive set from a
    partial one.

    Shard bytes are deterministic given a deterministic partitioning
    (callers wanting canonical output repartition + sortWithinPartitions
    first; record gzip members use mtime=0).  File I/O is the plain
    ``open()`` API: correct for local/NFS paths, and the documented
    swap-in point for an fsspec/S3A client on object stores — the
    Spark-side contract (partition streaming, manifest, atomic rename,
    marker commit) is identical.
    """
    import os

    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    ext = ".warc.gz" if member_gzip else ".warc"
    # A rerun into the same dir must not mix shards from an earlier run
    # (a rerun with fewer partitions would leave high-numbered stale
    # part-* files that the readers' part-* glob ingests alongside the
    # new ones).  Clear the commit marker FIRST — the dir reads as
    # uncommitted for the whole rewrite — then every prior shard of
    # either extension plus orphan temp files.
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)
    for name in os.listdir(out_dir):
        stale = name.startswith("part-") and (
            name.endswith(".warc") or name.endswith(".warc.gz")
        )
        if stale or name.endswith(".inprogress"):
            os.remove(os.path.join(out_dir, name))

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        f = None
        tmp = final = None
        n = 0
        for pdf in batches:
            if len(pdf) and f is None:
                ctx = TaskContext.get()
                pid = ctx.partitionId()
                final = os.path.join(out_dir, f"part-{pid:05d}{ext}")
                # temp name carries the task ATTEMPT id: concurrent
                # attempts (speculation, zombie retries) each write
                # their own file, and whichever os.replace()s last
                # installs a complete shard — never interleaved bytes.
                # A losing attempt's orphan .inprogress file is inert
                # (readers glob part-*{ext}).
                tmp = f"{final}.{ctx.taskAttemptId()}.inprogress"
                f = open(tmp, "wb")
            for url, ts, html in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"]
            ):
                f.write(
                    _record_bytes(
                        url,
                        ts.to_pydatetime(),
                        bytes(html) if html is not None else b"",
                        member_gzip,
                    )
                )
                n += 1
        if f is not None:
            f.close()
            os.replace(tmp, final)
            yield pd.DataFrame({"shard": [final], "n_records": [n]})
        else:
            yield pd.DataFrame(
                {"shard": pd.Series([], dtype=object),
                 "n_records": pd.Series([], dtype="int64")}
            )

    manifest = (
        pages.select("url", "warc_ts", "html")
        .mapInPandas(dump, "shard string, n_records long")
        .collect()
    )
    # sweep losing-attempt temp files before committing the marker so
    # a later `part-*` glob sees only complete shards
    for name in os.listdir(out_dir):
        if name.endswith(".inprogress"):
            os.remove(os.path.join(out_dir, name))
    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
        pass
    return [
        {"shard": r["shard"], "n_records": r["n_records"]}
        for r in manifest
    ]
