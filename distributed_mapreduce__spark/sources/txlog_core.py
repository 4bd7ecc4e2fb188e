"""The commit-log protocol of transactional tables, in one module that
needs no SparkSession: listing and loading commits, reader checks,
multi-table visibility, the single :class:`_Snapshot` fold, the
change walk, the commit claimers and the optimistic claim loop.
:mod:`.txlog` (the Spark-side table layer), :mod:`.multitx` and the
``txtable`` DataSource (``streaming/tx_source.py``, whose lifecycle
has no session) all call this code, so the log is folded in one
place.

Every function takes ``spark`` only to choose the FS object that
serves the table's path (:func:`_log_fs`); ``None`` is a valid
session. The FS object has ``listdir``, ``exists``, ``read_text`` and
``publish``:

- local paths and ``file:`` URIs use :class:`_LocalPlannerFS` (plain
  ``os`` calls; commits publish through the claimer registry, so a
  local commit is :class:`HardLinkClaimer`'s fsynced ``link(2)``);
- ``scheme://`` paths without a session use the adapter bound with
  :func:`register_planner_fs`, else :class:`_FsspecPlannerFS`;
- :class:`_HadoopFS` (the session's Hadoop FileSystem over py4j) is
  used only when a session holds a non-local path: a ``scheme://``
  path, or a scheme-less one whose ``fs.defaultFS`` is not local.
"""

from __future__ import annotations

import dataclasses
import json
import os
import uuid

#: Table-format feature level this build can READ (the Delta protocol
#: minReaderVersion idea): 1 = base log (append/overwrite/rewrites/
#: stats/multi-table), 2 = merge-on-read delete tombstones. Commits
#: and checkpoints that USE a level-2 feature are stamped
#: ``"reader": 2``; replay refuses any stamp above this constant
#: instead of silently misreading — a level-1 reader replaying a
#: tombstone commit would see "no files changed" and resurrect every
#: logically-deleted row. Time travel to versions below the first
#: stamped commit keeps working regardless. Level 3: hidden
#: partitioning (transform specs like ``days(ts)``) — the placement
#: directories carry DERIVED columns that are NOT table columns, and a
#: level-2 reader scanning them would surface the derived column as
#: data (wrong schema) instead of dropping it. Level 4: positional
#: deletion vectors (``tx_delete_where`` / ``tx_delete_positions``) —
#: a ``dv`` commit names (file, row position) pairs as logically
#: deleted; a lower-level reader replaying it would see "no files
#: changed" and resurrect every DV-deleted row.
READER_VERSION = 5

_PAD = 20  # zero-padded version filenames sort lexicographically

#: version races a commit may lose before it gives up
COMMIT_RETRIES = 20


def _read_small(spark, fs, p) -> bytes:
    raw = fs.open(p)
    try:
        return bytes(
            spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(
                raw
            )
        )
    finally:
        raw.close()


class CommitClaimer:
    """Pluggable commit-publish arm: how exactly ONE writer comes to
    own a log filename, per filesystem semantics. ``publish`` must
    guarantee (a) readers never observe a torn file and (b) of any
    number of concurrent publishers of the same path, at most one
    returns True and its payload is what readers see.

    Arms shipped here: :class:`HardLinkClaimer` (local FS — POSIX
    ``link(2)`` is an atomic put-if-absent: it fails with ``EEXIST``
    when the destination exists, with no replace variant, so the link
    result IS the claim and there is no separate claim file to
    orphan) and :class:`HdfsRenameClaimer` (HDFS — rename itself is
    atomic and does not replace, so the rename result is the claim).
    An object-store port registers a put-if-absent arm for its scheme
    (S3 ``If-None-Match:*``, GCS ``ifGenerationMatch=0``) via
    :func:`register_claimer` — one function, nothing else changes."""

    def publish(self, spark, fs, final_path_str: str, payload: bytes) -> bool:
        raise NotImplementedError


#: test seam: called by HardLinkClaimer between writing the payload
#: tmp and the link(2) that publishes it (race tests widen the window
#: here and prove the link's atomicity, not timing, decides the winner)
_prepublish_hook = None


class HardLinkClaimer(CommitClaimer):
    """Local-filesystem arm. The payload is written whole-file (and
    fsynced) to a unique ``.tmp``, then published by
    ``os.link(tmp, final)`` — POSIX ``link(2)`` atomically fails with
    ``EEXIST`` if the destination exists and has no replace mode, so
    of any number of racing publishers exactly one's link lands and
    that one's bytes are what readers see. Readers never observe a
    torn commit (the tmp was complete before the link), and a writer
    that crashes at ANY point leaves only an ignorable unique
    ``.tmp`` hardlink — there is no claim file whose orphan could
    wedge the version (a claim-file protocol has exactly that
    hazard: a crash between claim and rename needs manual
    recovery). RawLocalFileSystem's REPLACING rename is never used as
    a publish step here."""

    def publish(self, spark, fs, final_path_str: str, payload: bytes) -> bool:
        import os

        local = final_path_str
        if local.startswith("file://"):
            local = local[7:]
        elif local.startswith("file:"):
            local = local[5:]
        os.makedirs(os.path.dirname(local), exist_ok=True)
        tmp = local + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        if _prepublish_hook is not None:
            _prepublish_hook()
        try:
            os.link(tmp, local)
            won = True
        except FileExistsError:
            won = False  # another writer published this version first
        finally:
            os.unlink(tmp)
        if won:
            # make the new directory entry durable
            dfd = os.open(os.path.dirname(local), os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        return won


class HdfsRenameClaimer(CommitClaimer):
    """HDFS arm: tmp + rename, where HDFS's rename is atomic and
    FAILS when the destination exists — the rename result itself is
    the binding claim (the exists() pre-check is only a fast path).
    Correct on HDFS and any FS with no-replace rename semantics;
    NOT correct on raw local FS (use HardLinkClaimer) or
    object stores (register a put-if-absent arm)."""

    def publish(self, spark, fs, final_path_str: str, payload: bytes) -> bool:
        from .sinks import hadoop_fs

        tmp = hadoop_fs(spark, final_path_str + f".tmp-{uuid.uuid4().hex}")[1]
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        final = hadoop_fs(spark, final_path_str)[1]
        if fs.exists(final):
            fs.delete(tmp, False)
            return False
        ok = fs.rename(tmp, final)
        if not ok:
            fs.delete(tmp, False)
        return ok


def _split_object_uri(path: str) -> tuple[str, str]:
    """``s3a://bucket/a/b.json`` -> ``("bucket", "a/b.json")``."""
    rest = path.split("://", 1)[1]
    bucket, _, key = rest.partition("/")
    if not bucket or not key:
        raise ValueError(f"not a bucket/key object URI: {path!r}")
    return bucket, key


class S3ConditionalPutClaimer(CommitClaimer):
    """Object-store arm: S3 conditional PUT — ``If-None-Match: *``
    (public S3 API since 2024-08; also honored by GCS's XML interop
    layer and MinIO) makes the object write ITSELF the atomic
    put-if-absent claim. Single request: no claim files, no rename,
    nothing to vacuum on crash — of any number of racing publishers of
    one log filename, S3 persists exactly one body and answers the
    rest ``412 PreconditionFailed``, which maps to "lost the version
    race, re-read the log and retry at v+1".

    ``client`` is anything with boto3's
    ``put_object(Bucket=, Key=, Body=, IfNoneMatch=) -> dict`` shape,
    raising an error that carries ``.response["Error"]["Code"]`` on
    failure (botocore's ClientError). Injected for tests (see
    tests/test_txlog.py's FakeS3 race harness, which needs no
    network); default lazily constructs ``boto3.client("s3")``.

    Two non-success codes are protocol, not errors:

    - ``412 PreconditionFailed`` — the object exists: lost the race.
    - ``409 ConditionalRequestConflict`` — S3 detected CONCURRENT
      conditional writes of the same key and rejected this one
      without deciding a winner; the documented client contract is
      retry, after which the request resolves to success (we won) or
      412 (someone else did). Bounded retries, then raise.

    Opt in per scheme (never silently):
    ``register_claimer("s3a", S3ConditionalPutClaimer())``."""

    #: bounded retries for 409 ConditionalRequestConflict storms
    MAX_CONFLICT_RETRIES = 8

    def __init__(self, client=None):
        self._client = client

    def _c(self):
        if self._client is None:
            import boto3  # soft dep: only reached on a real S3 path

            self._client = boto3.client("s3")
        return self._client

    def publish(self, spark, fs, final_path_str: str, payload: bytes) -> bool:
        bucket, key = _split_object_uri(final_path_str)
        for _ in range(self.MAX_CONFLICT_RETRIES):
            try:
                self._c().put_object(
                    Bucket=bucket, Key=key, Body=payload, IfNoneMatch="*"
                )
                return True
            except Exception as e:  # noqa: BLE001 — code-dispatch below
                code = str(
                    (getattr(e, "response", None) or {})
                    .get("Error", {})
                    .get("Code", "")
                )
                if code in ("PreconditionFailed", "412"):
                    return False  # object exists: lost the race
                if code in ("ConditionalRequestConflict", "409"):
                    continue  # concurrent writers collided: retry
                raise
        raise RuntimeError(
            f"S3 conditional PUT of {final_path_str} kept answering "
            f"ConditionalRequestConflict after "
            f"{self.MAX_CONFLICT_RETRIES} retries"
        )


class GcsGenerationMatchClaimer(CommitClaimer):
    """GCS arm: upload with ``if_generation_match=0`` — generation 0
    means "the object must not exist yet", GCS's native single-request
    atomic put-if-absent (the JSON-API precondition the
    google-cloud-storage client exposes on every upload method).
    Exactly one of any number of racing publishers lands; the rest get
    ``412 PreconditionFailed`` = lost the version race.

    ``client`` is anything with google-cloud-storage's
    ``bucket(name).blob(key).upload_from_string(payload,
    if_generation_match=0)`` shape, raising an error whose ``code``
    attribute (or class name) says 412/PreconditionFailed on loss —
    injected for tests; default lazily constructs
    ``google.cloud.storage.Client()``. Concurrent-write 429/503
    backoff is the client library's own documented retry behavior, so
    unlike S3's 409 there is no conflict loop here.

    Opt in per scheme: ``register_claimer("gs",
    GcsGenerationMatchClaimer())``."""

    def __init__(self, client=None):
        self._client = client

    def _c(self):
        if self._client is None:
            from google.cloud import storage  # soft dep

            self._client = storage.Client()
        return self._client

    def publish(self, spark, fs, final_path_str: str, payload: bytes) -> bool:
        bucket, key = _split_object_uri(final_path_str)
        try:
            self._c().bucket(bucket).blob(key).upload_from_string(
                payload, if_generation_match=0
            )
            return True
        except Exception as e:  # noqa: BLE001 — code-dispatch below
            code = getattr(e, "code", None)
            if code == 412 or type(e).__name__ == "PreconditionFailed":
                return False  # object exists: lost the race
            raise


class AbfsIfNoneMatchClaimer(CommitClaimer):
    """Azure Blob / ADLS Gen2 arm: ``upload_blob(..., overwrite=False)``
    — the azure-storage-blob client sends ``If-None-Match: *`` on Put
    Blob, making the upload itself the atomic put-if-absent claim; a
    loser gets ``ResourceExistsError`` (HTTP 409 BlobAlreadyExists,
    which for Azure means "exists", not S3's retry-me conflict).

    ``client`` is anything with BlobServiceClient's
    ``get_blob_client(container=, blob=).upload_blob(data,
    overwrite=False)`` shape — injected for tests; default lazily
    constructs ``BlobServiceClient`` from the
    ``AZURE_STORAGE_CONNECTION_STRING`` environment variable. Opt in:
    ``register_claimer("abfss", AbfsIfNoneMatchClaimer())``."""

    def __init__(self, client=None):
        self._client = client

    def _c(self):
        if self._client is None:
            import os

            from azure.storage.blob import BlobServiceClient  # soft dep

            self._client = BlobServiceClient.from_connection_string(
                os.environ["AZURE_STORAGE_CONNECTION_STRING"]
            )
        return self._client

    def publish(self, spark, fs, final_path_str: str, payload: bytes) -> bool:
        container, key = _split_object_uri(final_path_str)
        # abfss://container@account.dfs.core.windows.net/path → the
        # authority carries "@account..."; the container is the part
        # before the @ and the blob is the path
        if "@" in container:
            container = container.split("@", 1)[0]
        try:
            self._c().get_blob_client(
                container=container, blob=key
            ).upload_blob(payload, overwrite=False)
            return True
        except Exception as e:  # noqa: BLE001 — code-dispatch below
            if (
                type(e).__name__ == "ResourceExistsError"
                or getattr(e, "status_code", None) == 409
            ):
                return False  # blob exists: lost the race
            raise


#: scheme -> claimer. Scheme-less paths are resolved through the
#: Hadoop FileSystem object actually serving them (never assumed
#: local: on a cluster whose fs.defaultFS is hdfs://, a scheme-less
#: table path IS an HDFS path, and publishing via os.link on the
#: driver's local disk would silently drop the commit).
_CLAIMERS: dict = {
    "file": HardLinkClaimer(),
    "hdfs": HdfsRenameClaimer(),
    "viewfs": HdfsRenameClaimer(),
}

#: object-store schemes where rename is copy+delete (neither atomic
#: nor exclusive): refuse loudly until a put-if-absent claimer is
#: registered, instead of silently dropping racing commits
_RENAME_UNSAFE_SCHEMES = {"s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "oss"}


def register_claimer(scheme: str, claimer: CommitClaimer) -> None:
    """Install the commit-publish arm for a filesystem scheme (the
    one-function object-store port: put-if-absent for s3a/gs/abfs).

    Two arms ship here, both race-tested against in-memory stores
    implementing the same semantics (no network needed):
    ``register_claimer("s3a", S3ConditionalPutClaimer())``
    (conditional PUT with ``If-None-Match: *``) and
    ``register_claimer("gs", GcsGenerationMatchClaimer())``
    (``if_generation_match=0``). An ABFS port sends
    ``If-None-Match: *`` on Put Blob — the identical shape. All are
    single-request atomic put-if-absent — no claim files, no rename,
    nothing to vacuum on crash. Registration is deliberately explicit
    (opt-in per deployment): a wrong-but-silent default on an object
    store would drop racing commits."""
    _CLAIMERS[scheme] = claimer


def _claimer_for(path_str: str, fs=None) -> CommitClaimer:
    scheme = None
    if ":" in path_str.split("/", 1)[0]:
        scheme = path_str.split(":", 1)[0]
    if scheme is None and fs is not None:
        # scheme-less path: dispatch on the filesystem ACTUALLY
        # serving it (fs.defaultFS), not a local-disk assumption
        scheme = fs.getUri().getScheme() or "file"
    if scheme is None:
        scheme = "file"  # no fs handle: direct local-path use (tests)
    if scheme in _CLAIMERS:
        return _CLAIMERS[scheme]
    if scheme in _RENAME_UNSAFE_SCHEMES:
        raise NotImplementedError(
            f"scheme {scheme!r} has copy+delete rename semantics; register "
            "a put-if-absent CommitClaimer for it (register_claimer) — "
            "see the protocol note at the top of this module"
        )
    return _CLAIMERS["hdfs"]  # no-replace-rename FS family default


def _write_atomic(spark, fs, final_path_str: str, payload: bytes) -> bool:
    """Publish a commit file; False = lost the version race. Atomicity
    is delegated to the scheme's :class:`CommitClaimer`."""
    return _claimer_for(final_path_str, fs).publish(
        spark, fs, final_path_str, payload
    )


# --- the FS objects the log is read and published through --------------


class _LocalPlannerFS:
    """Plain-file log and data I/O — local paths and ``file:`` URIs."""

    def listdir(self, p: str) -> "list[str]":
        return sorted(os.listdir(p))

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def size(self, p: str) -> int:
        return os.path.getsize(p)

    def read_text(self, p: str) -> str:
        with open(p) as fh:
            return fh.read()

    def arrow_read(self, p: str):
        import pyarrow.parquet as pq

        return pq.read_table(p)

    def arrow_write(self, p: str, table) -> None:
        import pyarrow.parquet as pq

        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(table, p)

    def publish(self, p: str, payload: bytes) -> bool:
        return _claimer_for(p).publish(None, None, p, payload)

    def remove(self, p: str) -> None:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


class _FsspecPlannerFS:
    """Log and data I/O over any fsspec filesystem — the object-store
    path (S3/GCS/ABFS...) when no session is present. Soft
    dependency: constructed only when a scheme actually needs it."""

    def __init__(self, fs):
        self.fs = fs

    def listdir(self, p: str) -> "list[str]":
        return sorted(
            x.rsplit("/", 1)[-1] for x in self.fs.ls(p, detail=False)
        )

    def exists(self, p: str) -> bool:
        return self.fs.exists(p)

    def size(self, p: str) -> int:
        return int(self.fs.size(p))

    def read_text(self, p: str) -> str:
        with self.fs.open(p, "r") as fh:
            return fh.read()

    def arrow_read(self, p: str):
        import pyarrow.parquet as pq

        with self.fs.open(p, "rb") as fh:
            return pq.read_table(fh)

    def arrow_write(self, p: str, table) -> None:
        import pyarrow.parquet as pq

        with self.fs.open(p, "wb") as fh:
            pq.write_table(table, fh)

    def publish(self, p: str, payload: bytes) -> bool:
        # exists-then-write is not a put-if-absent on any store: only a
        # registered claimer that needs no session may publish here
        claimer = _claimer_for(p)
        if isinstance(claimer, HdfsRenameClaimer):
            raise NotImplementedError(
                f"no session-free put-if-absent for {p!r}: register a "
                "CommitClaimer for its scheme (register_claimer) — an "
                "exists-then-write fallback could silently drop a "
                "racing commit"
            )
        return claimer.publish(None, None, p, payload)

    def remove(self, p: str) -> None:
        try:
            self.fs.rm(p)
        except FileNotFoundError:
            pass


class _HadoopFS:
    """Log I/O through the session's Hadoop FileSystem over py4j, for
    the paths a session reaches that are not local (HDFS, s3a, ...)."""

    def __init__(self, spark):
        self.spark = spark

    def _at(self, p: str):
        from .sinks import hadoop_fs

        return hadoop_fs(self.spark, p)

    def listdir(self, p: str) -> "list[str]":
        fs, hp = self._at(p)
        return sorted(st.getPath().getName() for st in fs.listStatus(hp))

    def exists(self, p: str) -> bool:
        fs, hp = self._at(p)
        return bool(fs.exists(hp))

    def read_text(self, p: str) -> str:
        fs, hp = self._at(p)
        return _read_small(self.spark, fs, hp).decode("utf-8")

    def publish(self, p: str, payload: bytes) -> bool:
        fs = self._at(p)[0]
        return _claimer_for(p, fs).publish(self.spark, fs, p, payload)


#: scheme -> session-free FS adapter. Pre-registering
#: (register_planner_fs) overrides the fsspec default — the seam tests
#: plug an in-memory store into, and the escape hatch for exotic stores
_SCHEME_FS: "dict[str, object]" = {}

_LOCAL_FS = _LocalPlannerFS()


def register_planner_fs(scheme: str, fs) -> None:
    """Bind ``scheme://`` paths to a session-free FS adapter (an
    object with ``listdir/exists/read_text``, plus ``publish`` to
    commit and ``arrow_read`` to serve ``txtable`` reads)."""
    _SCHEME_FS[scheme] = fs


def _resolve(path: str):
    """``(FS, normalized path)`` without a session — local paths and
    ``file:`` URIs take :class:`_LocalPlannerFS`; ``scheme://`` paths
    take a registered adapter or an fsspec filesystem."""
    if path.startswith("file:"):
        path = path[len("file:"):]
        while path.startswith("//"):
            path = path[1:]
    if "://" in path:
        scheme = path.split("://", 1)[0]
        fs = _SCHEME_FS.get(scheme)
        if fs is None:
            try:
                import fsspec
            except ImportError as e:
                raise ValueError(
                    f"txtable planning on {scheme}:// paths needs "
                    f"either register_planner_fs({scheme!r}, fs) or "
                    "the fsspec package (not installed in this "
                    "environment)"
                ) from e
            fs = _FsspecPlannerFS(fsspec.filesystem(scheme))
            _SCHEME_FS[scheme] = fs
        return fs, path
    return _LOCAL_FS, path


def _log_fs(spark, path: str):
    """``(FS, path)`` serving ``path``'s log: the Hadoop adapter when
    ``spark`` holds a non-local path — a scheme-less path dispatches on
    ``fs.defaultFS``, never on a local-disk assumption — else
    :func:`_resolve`."""
    if spark is not None and not path.startswith("file:"):
        if "://" in path:
            return _HadoopFS(spark), path
        default = spark._jsc.hadoopConfiguration().get("fs.defaultFS")
        if default and not default.startswith("file:"):
            return _HadoopFS(spark), path
    return _resolve(path)


# --- the log --------------------------------------------------------------


def _list_commits(spark, path: str) -> list[tuple[int, str]]:
    """Sorted [(version, kind)] where kind is 'commit' or 'checkpoint'."""
    fs, p = _log_fs(spark, path)
    logp = f"{p}/_txlog"
    if not fs.exists(logp):
        return []
    out = []
    for name in fs.listdir(logp):
        if name.endswith(".checkpoint.json"):
            out.append((int(name.split(".")[0]), "checkpoint"))
        elif name.endswith(".json"):
            try:
                out.append((int(name.split(".")[0]), "commit"))
            except ValueError:
                continue
    return sorted(out)


def _load(spark, path: str, name: str) -> dict:
    fs, p = _log_fs(spark, path)
    return json.loads(fs.read_text(f"{p}/_txlog/{name}"))


def _commits(
    spark, path: str, upto: "int | None" = None, since: int = -1
):
    """Yield ``(version, commit dict)`` for every commit file in
    ``(since, upto]``, oldest first (checkpoints skipped)."""
    for v, kind in _list_commits(spark, path):
        if kind == "commit" and since < v and (upto is None or v <= upto):
            yield v, _load(spark, path, f"{v:0{_PAD}d}.json")


# --- multi-table transaction resolution (see sources/multitx.py) ---------
#
# A commit carrying {"multi": {"coordinator", "txid"}} is PROVISIONAL:
# it applies to the snapshot only once the coordinator record
# <coordinator>/_multitx/<txid>.json exists and is not an abort
# tombstone. Commit and abort race put-if-absent on that ONE filename,
# so the scheme's CommitClaimer arbitrates and the transaction resolves
# atomically for every participant table at once.

#: terminal resolutions only ((coordinator, txid) -> committed|aborted);
#: 'pending' is never cached — it can still flip either way
_MULTI_CACHE: dict = {}


def _multi_record_path(coordinator: str, txid: str) -> str:
    return f"{coordinator}/_multitx/{txid}.json"


def _read_record(spark, coordinator: str, txid: str) -> "dict | None":
    """The coordinator record of a multi-table txn; None while pending."""
    fs, p = _log_fs(spark, _multi_record_path(coordinator, txid))
    if not fs.exists(p):
        return None
    return json.loads(fs.read_text(p))


def _multi_status(spark, coordinator: str, txid: str) -> str:
    """'committed' | 'aborted' | 'pending' for a multi-table txn."""
    key = (coordinator, txid)
    if key in _MULTI_CACHE:
        return _MULTI_CACHE[key]
    rec = _read_record(spark, coordinator, txid)
    if rec is None:
        return "pending"
    status = "aborted" if rec.get("aborted") else "committed"
    _MULTI_CACHE[key] = status
    return status


def _pending_multi(spark, path: str, upto: "int | None" = None) -> list:
    """``[(version, commit)]`` of the provisional multi-table commits
    (up to ``upto``) whose transaction is still unresolved: invisible
    to snapshots, but they block checkpoint folding and log
    truncation, their adds must survive vacuum, and rewrites treat
    them as conflicts — the transaction may yet resolve committed."""
    return [
        (v, c) for v, c in _commits(spark, path, upto)
        if (m := c.get("multi"))
        and _multi_status(spark, m["coordinator"], m["txid"]) == "pending"
    ]


def _check_reader(record: dict, path: str, version: int) -> None:
    """Refuse to replay a commit/checkpoint stamped with a feature
    level above what this build understands (see READER_VERSION)."""
    needs = record.get("reader", 1)
    if needs > READER_VERSION:
        raise RuntimeError(
            f"version {version} of the table at {path} requires reader "
            f"version {needs}; this build supports {READER_VERSION} — "
            "reading anyway could silently misinterpret the log"
        )


def _schema_fields(schema_json: str) -> dict:
    """{field name: type json} from a StructType json string —
    nullability and metadata deliberately ignored (parquet readers
    reconcile those; name/type is what decides data loss)."""
    import json as _json

    return {
        f["name"]: _json.dumps(f["type"], sort_keys=True)
        for f in _json.loads(schema_json).get("fields", [])
    }


@dataclasses.dataclass
class _Snapshot:
    """Everything ONE log replay establishes about a table as of a
    version — live files, tombstones, schema, properties, stats, txn
    ids, partitioning. Folding all of it in a single pass is the
    metadata-I/O contract at scale: a read costs one checkpoint + the
    commits above it, never a second replay per concern (one replay
    for eps/mor plus another for schema and a third for properties
    would triple the log I/O of every rewrite)."""

    #: live data file -> version that ADDED it (the epoch that scopes
    #: merge-on-read tombstones, Iceberg's data-sequence-number rule)
    eps: dict
    #: live merge-on-read tombstones {"version","col","files"}, commit order
    mor: list
    #: live positional deletion vectors {"version","files","targets"},
    #: commit order — files are _dv/ sidecars of (_file, _pos) pairs,
    #: targets the data files they apply to (DVs pin to exact files,
    #: so unlike mor they need no epoch scoping)
    dv: list
    #: bloom-filter sidecar refs {"version","files","cols"} — pure
    #: read OPTIMIZATION (a missing/ignored bloom only costs skipping,
    #: never correctness), so no reader stamp or writer feature guards
    blooms: list
    #: effective version of this snapshot
    version: int
    #: latest recorded write-schema json (None = pre-schema-recording)
    schema: "str | None"
    #: True = live files span >1 write schema (reads need footer merge)
    evolved: bool
    #: folded table properties (meta-commit deltas, overwrites keep them)
    properties: dict
    #: hive-style partition columns of the live layout (None = unpartitioned)
    partition_by: "list[str] | None"
    #: file -> {col: [lo, hi]} folded from checkpoint + commits (may
    #: include dead files; callers filter by eps when it matters)
    stats: dict
    #: idempotence txn id -> version that committed it
    txns: dict
    #: ROW TRACKING (the Delta row-tracking shape): file -> base row
    #: id, where a row's stable id is ``base + row_index`` — or the
    #: sentinel -1 meaning the file MATERIALIZES ``_row_id`` as a
    #: column (preserving rewrites: compact/zorder/apply_deletes).
    #: Empty until tx_enable_row_tracking; folded like stats
    row_bases: dict = dataclasses.field(default_factory=dict)
    #: PARTITION-SPEC LINEAGE (Iceberg's spec-id registry):
    #: one entry per spec CHANGE, in commit order —
    #: ``{"spec_id": n, "partition_by": [...] | None, "version": v}``.
    #: Derived during the fold and persisted in checkpoints, so the
    #: registry survives log truncation; empty = never partitioned
    spec_history: list = dataclasses.field(default_factory=list)
    #: live file -> the zorder spec of the rewrite that PRODUCED it
    #: (incremental OPTIMIZE skips files already clustered under its
    #: spec); folded through checkpoints so it survives truncation
    zmarks: dict = dataclasses.field(default_factory=dict)
    #: ``[(version, commit)]`` of the provisional multi-table commits
    #: still unresolved — skipped by the fold, but rewrites must treat
    #: them as conflicts. A checkpoint never folds past one, so the
    #: fold meets every one of them
    pending: list = dataclasses.field(default_factory=list)


def _replay(spark, path: str, version: int | None = None) -> _Snapshot:
    """Replay commits 0..version (from the newest checkpoint at/below
    ``version`` when one exists) into a full :class:`_Snapshot`.

    Folding rules, per commit (after multi-table visibility):

    - files: ``overwrite`` resets eps+mor (whole-table replacement
      obsoletes pending tombstones too); removes then adds apply; a
      tombstone at version v applies to exactly the files with
      ``eps[f] < v`` — rows appended AFTER a delete are never its
      targets.
    - schema: overwrites RESET it (their file set is homogeneous);
      schema-carrying appends union-by-name and set ``evolved`` when
      the field set actually changed, so reads know to merge footers.
    - properties: key-deltas merge in version order; ``None`` unsets;
      overwrites do NOT reset them (properties belong to the table,
      not a snapshot).
    - partition_by: overwrites reset it to their own (or None);
      appends carrying one adopt it (writers enforce consistency).
    - stats / txns: first writer wins (``setdefault``) — both are
      folded into checkpoints so they survive log truncation.

    Txn ids fold BEFORE the visibility check (a pending or aborted
    multi-table commit still owns its idempotence key — a retry must
    not double-commit while the coordinator is undecided)."""
    commits = _list_commits(spark, path)
    versions = sorted({v for v, _ in commits})
    if not versions:
        raise FileNotFoundError(f"no transactional table at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} does not exist at {path} "
            f"(have {versions[0]}..{versions[-1]})"
        )
    ckpts = [v for v, kind in commits if kind == "checkpoint" and v <= version]
    s = _Snapshot(
        eps={}, mor=[], dv=[], blooms=[], version=version, schema=None,
        evolved=False, properties={}, partition_by=None, stats={},
        txns={},
    )
    start = 0
    if ckpts:
        ck = _load(spark, path, f"{ckpts[-1]:0{_PAD}d}.checkpoint.json")
        _check_reader(ck, path, ckpts[-1])
        # pre-eps checkpoints default every folded file to the
        # checkpoint version: safe, because such checkpoints cannot
        # carry live tombstones (mor absent too) and any FUTURE
        # tombstone v > ckpt applies to all of them regardless
        s.eps = dict(ck.get("eps") or {f: ckpts[-1] for f in ck["files"]})
        s.mor = list(ck.get("mor") or [])
        s.dv = list(ck.get("dv") or [])
        s.blooms = list(ck.get("blooms") or [])
        s.schema = ck.get("schema")
        s.evolved = bool(ck.get("schema_evolved"))
        s.properties = dict(ck.get("properties") or {})
        s.partition_by = ck.get("partition_by")
        s.stats = dict(ck.get("stats") or {})
        s.txns = dict(ck.get("txns") or {})
        s.row_bases = dict(ck.get("row_bases") or {})
        s.zmarks = dict(ck.get("zmarks") or {})
        s.spec_history = list(
            ck.get("spec_history")
            or (
                # legacy checkpoint: pre-truncation lineage is gone;
                # seed with the folded spec as entry 0 so ids stay
                # monotonic from here on. Stamped at version 0, not
                # the checkpoint version: the folded spec
                # applied to every pre-checkpoint add too, so
                # tx_files' spec_at must resolve those files to spec
                # 0 instead of NULL
                [{
                    "spec_id": 0,
                    "partition_by": ck["partition_by"],
                    "version": 0,
                }]
                if ck.get("partition_by") is not None
                else []
            )
        )
        start = ckpts[-1] + 1
    commit_versions = [v for v, kind in commits if kind == "commit"]
    zmarked: dict = {}  # file -> (version of the zorder commit, spec)
    for v in commit_versions:
        if v < start or v > version:
            continue
        c = _load(spark, path, f"{v:0{_PAD}d}.json")
        _check_reader(c, path, v)
        if c.get("txn"):
            s.txns.setdefault(c["txn"], v)
        for f, st in (c.get("stats") or {}).items():
            s.stats.setdefault(f, st)
        for f, b in (c.get("row_bases") or {}).items():
            s.row_bases.setdefault(f, b)
        m = c.get("multi")
        status = m and _multi_status(spark, m["coordinator"], m["txid"])
        if status == "pending":
            s.pending.append((v, c))
        if status and status != "committed":
            # provisional multi-table commit: pending or aborted →
            # invisible (it becomes visible atomically, for every
            # participant table, when the coordinator record lands)
            continue
        if c.get("properties") is not None:
            for k, val in c["properties"].items():
                if val is None:
                    s.properties.pop(k, None)
                elif k == "writer.features":
                    # union-merge, not last-write-wins: two concurrent
                    # writers auto-stamping DIFFERENT features (one
                    # 'cdf', one 'partitioning') each computed their
                    # delta from the same pre-commit snapshot; a LWW
                    # fold would let the later commit silently
                    # un-require the earlier one's feature. Features
                    # are monotonic (Delta's rule); dropping them all
                    # takes an explicit unset (val None).
                    have = set(s.properties.get(k) or [])
                    s.properties[k] = sorted(have | set(val))
                else:
                    s.properties[k] = val
        if c["action"] == "overwrite":
            s.eps = {}
            s.mor = []
            s.dv = []
            s.blooms = []
            s.schema = c.get("schema")
            s.evolved = False
            s.partition_by = c.get("partition_by")
        else:
            if c.get("schema_replace") is not None:
                # rename/drop meta commit: the logical schema is
                # REPLACED wholesale (never unioned — union-by-name is
                # for evolution appends); physical names inside the
                # field metadata keep every existing file readable
                s.schema = c["schema_replace"]
            sc = c.get("schema")
            if sc is not None:
                if s.schema is not None and _schema_fields(
                    sc
                ) != _schema_fields(s.schema):
                    s.evolved = True
                    # union by name: existing fields keep their slot,
                    # new ones append — the merged shape parquet
                    # mergeSchema produces
                    merged = json.loads(s.schema)
                    have = {f["name"] for f in merged["fields"]}
                    for f in json.loads(sc)["fields"]:
                        if f["name"] not in have:
                            merged["fields"].append(f)
                    s.schema = json.dumps(merged)
                elif s.schema is None:
                    s.schema = sc
            if c.get("partition_by") is not None:
                s.partition_by = c["partition_by"]
        # partition-spec lineage: one registry entry per CHANGE (set,
        # evolve, un-partition, overwrite/restore reset) — spec ids
        # are ordinal in commit order, Iceberg's spec-id model
        prev_pb = (
            s.spec_history[-1]["partition_by"] if s.spec_history else None
        )
        if (s.partition_by or None) != (prev_pb or None):
            s.spec_history.append(
                {
                    "spec_id": len(s.spec_history),
                    "partition_by": s.partition_by,
                    "version": v,
                }
            )
        for f in c.get("remove", []):
            s.eps.pop(f, None)
        for f in c.get("add", []):
            s.eps[f] = v
        if c.get("mor"):
            s.mor.append(
                {"version": v, "col": c["mor"]["col"], "files": c["mor"]["files"]}
            )
        if c.get("mor_clears"):
            cleared = set(c["mor_clears"])
            s.mor = [t for t in s.mor if t["version"] not in cleared]
        if c.get("dv"):
            s.dv.append(
                {
                    "version": v,
                    "files": c["dv"]["files"],
                    "targets": c["dv"]["targets"],
                }
            )
        if c.get("dv_clears"):
            cleared = set(c["dv_clears"])
            s.dv = [d for d in s.dv if d["version"] not in cleared]
        if c.get("blooms"):
            s.blooms.append(
                {
                    "version": v,
                    "files": c["blooms"]["files"],
                    "cols": c["blooms"]["cols"],
                }
            )
        if c.get("zorder"):
            zmarked.update((f, (v, c["zorder"])) for f in c.get("add", []))
    # a mark holds while its file is live — and, for a commit's mark,
    # still the copy that commit added
    s.zmarks = {f: z for f, z in s.zmarks.items() if f in s.eps}
    s.zmarks.update(
        (f, z) for f, (v, z) in zmarked.items() if s.eps.get(f) == v
    )
    return s


def _committed_txns(spark, path: str) -> dict[str, int]:
    """txn id -> version that committed it (idempotent-retry dedup).
    The log entries stay until tx_vacuum truncates — vacuum keeps this
    map by folding retained txns into the checkpoint. {} when the
    table doesn't exist yet (a first tx_write consults this)."""
    try:
        return _replay(spark, path).txns
    except FileNotFoundError:
        return {}


#: what the change walk yields for a still-pending multi-table commit
_PENDING = "pending"


def _change_commits(
    spark, path: str, since_version: int | None, upto: "int | None" = None
):
    """Change-feed walk: ``(walk, latest)``. ``walk`` lazily yields
    ``(version, commit dict)`` for every commit in ``(since_version,
    upto]`` (``upto=None``: to the end) — no action interpretation
    (that's the caller's contract), except multi-table resolution: an
    aborted provisional commit appears as ``None`` (never visible,
    nothing to deliver) and the walk STOPS at the first still-PENDING
    one, yielded as ``(version, _PENDING)`` — it can yet resolve
    either committed or aborted, so its adds are neither deliverable
    nor skippable; the caller's cursor stays below it and a later
    pull re-probes. ``latest`` is the log's newest version. Commits
    load only as the caller pulls them, so a capped consumer reads
    no further than its cap."""
    commits = _list_commits(spark, path)
    versions = [v for v, k in commits if k == "commit"]
    ck_versions = [v for v, k in commits if k == "checkpoint"]
    latest = max(versions + ck_versions) if (versions or ck_versions) else None
    if latest is None:
        raise FileNotFoundError(f"no transactional table at {path}")
    start = -1 if since_version is None else since_version
    if start > latest:
        # a checkpoint from the future (wrong table? rolled-back log?)
        # silently returning nothing would REGRESS the caller's cursor
        # and re-deliver rows on the next tick
        raise ValueError(
            f"since_version {start} is beyond the log's latest version "
            f"{latest} at {path}; wrong table or corrupted cursor"
        )
    # a resumable start must still EXIST in the log (commit or
    # checkpoint): a vacuumed-away version can't prove which adds the
    # caller already saw, so silently skipping would risk double reads
    if start >= 0 and start < latest and start not in set(versions) | set(ck_versions):
        raise ValueError(
            f"version {start} was vacuumed from the log at {path}; "
            "reprocess from a snapshot read"
        )

    def walk():
        for v in versions:
            if v <= start:
                continue
            if upto is not None and v > upto:
                return
            c = _load(spark, path, f"{v:0{_PAD}d}.json")
            _check_reader(c, path, v)
            m = c.get("multi")
            if m is not None:
                status = _multi_status(spark, m["coordinator"], m["txid"])
                if status == "pending":
                    yield v, _PENDING
                    return
                if status == "aborted":
                    yield v, None  # never became visible
                    continue
            yield v, c

    return walk(), latest


def _commit_with_retries(
    spark,
    path: str,
    build_payload,
    txn: str | None,
    revalidate=None,
    checked_at: "int | None" = None,
) -> "tuple[int, bool]":
    """The optimistic claim loop every log writer commits through:
    ``build_payload(next_v) -> dict`` is called fresh per attempt and
    the payload is published at ``next_v`` through the path's FS
    object (the scheme's :class:`CommitClaimer`). Returns
    ``(version, published)``: ``published`` is False when ``txn`` was
    already committed — by an earlier attempt or a concurrent retry of
    the same txn — and ``version`` is then that commit's.

    ``revalidate`` re-runs the caller's pre-stage invariant checks
    (schema-on-write, partition-layout consistency, constraints)
    whenever the log has advanced past ``checked_at`` — the version
    those checks were anchored at — so a commit that lands during the
    version race, including the one that took our version, can never
    invalidate them unseen (the commit-time metadata conflict re-check
    Delta does). ``build_payload`` may raise to refuse a commit whose
    per-attempt checks fail.

    ``txn`` is looked up in the commits above ``checked_at`` only: a
    caller passing an anchor has already checked the txn map of the
    snapshot at it. Without an anchor, or when those commits are no
    longer all in the log (vacuum truncated it), the whole log is
    folded."""
    fs, p = _log_fs(spark, path)
    anchor = -1 if checked_at is None else checked_at
    txn_seen = checked_at
    for _ in range(COMMIT_RETRIES):
        listing = _list_commits(spark, path)
        # max over commits AND checkpoints: after tx_vacuum truncates
        # the log, the surviving checkpoint still pins the version
        # counter (restarting at 0 would order new commits BEFORE it)
        versions = [v for v, _ in listing]
        top = max(versions) if versions else -1
        if txn is not None:
            above = None if txn_seen is None else range(txn_seen + 1, top + 1)
            if above is None or not {
                v for v, kind in listing if kind == "commit"
            }.issuperset(above):
                prior = _committed_txns(spark, path).get(txn)
            else:
                prior = next((v for v in above if _load(
                    spark, path, f"{v:0{_PAD}d}.json"
                ).get("txn") == txn), None)
            if prior is not None:
                # a concurrent retry of the SAME txn won the race; our
                # staged files are orphans until tx_vacuum
                return prior, False
            txn_seen = top
        next_v = top + 1
        if revalidate is not None and versions and top > anchor:
            revalidate()
            anchor = top
        payload = build_payload(next_v)
        if fs.publish(
            f"{p}/_txlog/{next_v:0{_PAD}d}.json",
            json.dumps(payload).encode(),
        ):
            return next_v, True
        # lost the race to another writer — re-read the log, retry
    raise RuntimeError(
        f"could not commit to {path} after {COMMIT_RETRIES} version races"
    )
