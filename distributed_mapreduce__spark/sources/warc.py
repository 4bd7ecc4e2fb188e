"""WARC web-archive source — the canonical 100 TB corpus input.

Web-scale training corpora start as Common-Crawl-style WARC archives
(ISO 28500): a WARC file is a concatenation of records, each a header
block (``WARC/1.0`` + ``Name: value`` lines), a blank line, then
``Content-Length`` bytes of payload; ``.warc.gz`` files compress EACH
RECORD as its own gzip member, concatenated. ``response`` records
carry a raw HTTP response (status line, headers, body — possibly
chunked transfer coding) whose body is the HTML that the curation
family (sources→strip_html→clean_lines→dedup→…) consumes.

Everything here is stdlib byte slicing — no external WARC package —
so the parse runs inside Arrow ``mapInPandas`` tasks against
``binaryFile`` rows:

- **Parallelism model**: gzip members are not block-splittable, so one
  WARC file = one task — exactly how every production CC pipeline
  shards (the crawl ships as ~10⁵ files of ~1 GB; parallelism comes
  from file count, not intra-file splits). ``binaryFile`` gives one
  row per file with lazily-read content; column pruning keeps
  non-content columns metadata-only.
- **Nothing is silently dropped** (the CSV-quarantine posture,
  sources/text.py): a record that fails to parse is emitted as a row
  with ``warc_type='_malformed'`` and the error in ``error``; a
  truncated file tail becomes one such row, and the parser RESYNCS at
  the next ``\\r\\nWARC/`` boundary so one bad record mid-file costs
  only the bytes up to the next boundary, not the rest of the stream
  (the quarantine row records how many bytes were skipped). Filters
  select clean rows; the quarantine is queryable.
- **Memory**: ``binaryFile`` materializes the whole COMPRESSED file in
  its row, then decompressed records stream through a generator — so
  peak per task is file-bytes + the largest single decompressed
  record, fine for CC's ~1 GB shards. ``binaryFile`` also hard-caps a
  file at 2 GiB (Spark's byte-array row limit); rather than letting
  the scan throw mid-job, ``read_warc`` pre-lists the inputs and turns
  each oversized file into a ``_malformed`` quarantine row (the
  listing is driver-side metadata only, one stat per file — the same
  cost every FileScan pays at planning).

``read_warc`` returns typed records with the payload as ``binary``;
``warc_documents`` is the convenience projection to the ``documents``
shape (doc_id, url, fetch_time, content_type, text) that feeds
straight into ``operators/lines.strip_html`` + ``clean_lines``.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import local_frame

#: Parsed-record schema (the quarantine rows use warc_type='_malformed').
WARC_SCHEMA = (
    "warc_file string, record_offset long, warc_type string, "
    "record_id string, target_uri string, warc_date string, "
    "content_type string, http_status int, http_content_type string, "
    "body binary, error string"
)

_GZIP_MAGIC = b"\x1f\x8b"


def _gzip_members(raw: bytes) -> Iterator[bytes]:
    """Decompress a concatenation of gzip members (the .warc.gz
    layout). Plain (uncompressed) input yields itself."""
    if not raw.startswith(_GZIP_MAGIC):
        yield raw
        return
    view = memoryview(raw)  # zero-copy slicing between members
    pos = 0
    while pos < len(raw):
        d = zlib.decompressobj(wbits=31)
        yield d.decompress(view[pos:])
        tail = d.unused_data
        if not tail:
            return
        pos = len(raw) - len(tail)


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer coding."""
    out = []
    pos = 0
    while True:
        nl = body.index(b"\r\n", pos)
        size = int(body[pos:nl].split(b";")[0], 16)
        if size == 0:
            break
        out.append(body[nl + 2 : nl + 2 + size])
        pos = nl + 2 + size + 2  # chunk + trailing CRLF
    return b"".join(out)


def _parse_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from a raw HTTP response payload."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload.startswith(b"HTTP/"):
        return None, None, payload
    head = payload[:sep].decode("latin-1")
    lines = head.split("\r\n")
    try:
        status = int(lines[0].split(" ")[1])
    except (IndexError, ValueError):
        status = None
    ctype, chunked = None, False
    for line in lines[1:]:
        name, _, value = line.partition(":")
        lname = name.strip().lower()
        if lname == "content-type":
            ctype = value.strip()
        elif lname == "transfer-encoding" and "chunked" in value.lower():
            chunked = True
    body = payload[sep + 4 :]
    if chunked:
        try:
            body = _dechunk(body)
        except (ValueError, IndexError):
            pass  # keep the raw body; better than dropping the record
    return status, ctype, body


def _parse_warc_stream(data: bytes, path: str) -> Iterator[dict]:
    """Yield record dicts from one decompressed WARC byte stream."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        start = pos
        try:
            if not data.startswith(b"WARC/", pos):
                raise ValueError("missing WARC/ version line")
            hdr_end = data.index(b"\r\n\r\n", pos)
            headers: dict[str, str] = {}
            for line in data[pos:hdr_end].decode("utf-8", "replace").split("\r\n")[1:]:
                name, _, value = line.partition(":")
                headers[name.strip().lower()] = value.strip()
            length = int(headers["content-length"])
            body_start = hdr_end + 4
            if body_start + length > n:
                raise ValueError("truncated record payload")
            payload = data[body_start : body_start + length]
            pos = body_start + length
            wtype = headers.get("warc-type", "")
            status, http_ctype, body = (None, None, payload)
            if wtype == "response":
                status, http_ctype, body = _parse_http(payload)
            yield {
                "warc_file": path,
                "record_offset": start,
                "warc_type": wtype,
                "record_id": headers.get("warc-record-id"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "http_status": status,
                "http_content_type": http_ctype,
                "body": bytes(body),
                "error": None,
            }
        except (ValueError, KeyError, IndexError) as e:
            # framing is lost at this record — resync at the next
            # b"\r\nWARC/" boundary so ONE bad record doesn't abandon
            # the remainder of a (non-per-member-gzip) stream; the
            # quarantine row accounts for every skipped byte
            nxt = data.find(b"\r\nWARC/", start + 1)
            skip_end = nxt if nxt >= 0 else n
            note = (
                f"resynced at offset {nxt + 2}"
                if nxt >= 0
                else "no further WARC/ boundary; stream abandoned"
            )
            yield {
                "warc_file": path,
                "record_offset": start,
                "warc_type": "_malformed",
                "record_id": None,
                "target_uri": None,
                "warc_date": None,
                "content_type": None,
                "http_status": None,
                "http_content_type": None,
                "body": bytes(data[start : min(start + 4096, skip_end)]),
                "error": (
                    f"{type(e).__name__}: {e}; skipped "
                    f"{skip_end - start} bytes; {note}"
                ),
            }
            if nxt < 0:
                return
            pos = nxt + 2


#: Spark's ``binaryFile`` source refuses files above Int.MaxValue bytes
#: (the content column is one JVM byte array). Files at/over this cap
#: become quarantine rows instead of a mid-job scan failure.
BINARYFILE_MAX_BYTES = 2_147_483_647


def _split_oversized(
    spark: SparkSession, paths: Sequence[str], cap: int
) -> tuple[list[str], list[tuple[str, int]]]:
    """Resolve ``paths`` (files / dirs / globs) to concrete files and
    split them at ``cap`` bytes → (readable, [(oversized_path, size)]).
    Driver-side metadata listing only — one FileStatus per file, the
    same work the FileScan's own planning does."""
    from .sinks import hadoop_fs

    ok: list[str] = []
    over: list[tuple[str, int]] = []

    def walk(fs, status) -> None:
        if status.isDirectory():
            for child in fs.listStatus(status.getPath()):
                walk(fs, child)
            return
        size = status.getLen()
        p = status.getPath().toString()
        (over.append((p, size)) if size >= cap else ok.append(p))

    for p in paths:
        fs, hp = hadoop_fs(spark, p)
        for status in fs.globStatus(hp) or []:
            walk(fs, status)
    return ok, over


def read_warc(
    spark: SparkSession,
    paths: Sequence[str] | str,
    record_types: Sequence[str] | None = ("response",),
    max_file_bytes: int = BINARYFILE_MAX_BYTES,
) -> DataFrame:
    """Parse WARC / WARC.gz archives → one row per record
    (:data:`WARC_SCHEMA`).

    ``record_types`` filters server-side in the parse task (``None``
    keeps everything, including ``_malformed`` quarantine rows —
    malformed rows are ALWAYS kept regardless of the filter, so
    corruption is visible, never silent).

    Files at/over ``max_file_bytes`` (default: ``binaryFile``'s 2 GiB
    byte-array ceiling) can't be read by this source at all — they
    surface as ``_malformed`` quarantine rows naming the size, rather
    than failing the whole scan when the task hits them.
    """
    if isinstance(paths, str):
        paths = [paths]
    readable, oversized = _split_oversized(spark, list(paths), max_file_bytes)
    quarantine = None
    if oversized:
        quarantine = local_frame(
            spark,
            [
                {
                    "warc_file": p,
                    "warc_type": "_malformed",
                    "error": (
                        f"file is {size} bytes >= the {max_file_bytes}-byte "
                        "binaryFile ceiling; split the archive (CC shards "
                        "are ~1 GB) or raise the cap on a source that "
                        "streams"
                    ),
                }
                for p, size in oversized
            ],
            WARC_SCHEMA,
        )
    if not readable:
        if quarantine is not None:
            return quarantine
        return local_frame(spark, [], WARC_SCHEMA)
    files = spark.read.format("binaryFile").load(readable)
    keep = set(record_types) if record_types is not None else None

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for path, raw in zip(batch["path"], batch["content"]):
                members = _gzip_members(bytes(raw))
                while True:
                    # gzip-level corruption (bad CRC, truncated member,
                    # garbage between members) is the common failure
                    # mode of real crawl files — quarantine it like a
                    # framing error instead of failing the task
                    try:
                        member = next(members)
                    except StopIteration:
                        break
                    except zlib.error as e:
                        rows.append(
                            {
                                **{
                                    f.split()[0]: None
                                    for f in WARC_SCHEMA.split(", ")
                                },
                                "warc_file": path,
                                "warc_type": "_malformed",
                                "error": f"zlib.error: {e}",
                            }
                        )
                        break  # member framing is lost past bad gzip
                    for rec in _parse_warc_stream(member, path):
                        if (
                            keep is None
                            or rec["warc_type"] in keep
                            or rec["warc_type"] == "_malformed"
                        ):
                            rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=[f.split()[0] for f in WARC_SCHEMA.split(", ")],
            )

    parsed = files.select("path", "content").mapInPandas(
        parse, schema=WARC_SCHEMA
    )
    if quarantine is not None:
        parsed = parsed.unionByName(quarantine)
    return parsed


def warc_documents(
    spark: SparkSession,
    paths: Sequence[str] | str,
    min_status: int = 200,
    max_status: int = 299,
) -> DataFrame:
    """WARC responses projected to the ``documents`` shape:
    (doc_id, url, fetch_time, content_type, text) — doc_id is the
    63-bit md5 of the record id (content-addressed, stable across
    re-reads), text is the lossy-UTF-8 body. Feed into
    ``operators/lines.strip_html`` → ``clean_lines`` → the dedup
    family; quarantine rows are excluded here (query them via
    :func:`read_warc` with ``record_types=None``)."""
    recs = read_warc(spark, paths, record_types=("response",))
    return (
        recs.filter(
            (F.col("warc_type") == "response")
            & F.col("http_status").between(min_status, max_status)
        )
        .select(
            F.conv(F.substring(F.md5("record_id"), 1, 15), 16, 10)
            .cast("long")
            .alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetch_time"),
            F.col("http_content_type").alias("content_type"),
            F.decode(F.col("body"), "UTF-8").alias("text"),
        )
    )
