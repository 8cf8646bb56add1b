"""Sinks (SURVEY.md §2.1 S7-S9): metadata CSV/JSON writers and the blob
sink, as distributed writes.

Reference shapes: frames_meta → CSV + global meta → JSON on download
(data_downloader.py:201-215); PNG frames written via thread/process pools
(local_storage.py:85-136, s3_storage.py:72-145); catalog inserts staged in a
transaction (db_operations.py:150-223 → one atomic catalog commit,
flows.insert_frames_atomic).

Spark replaces the pools with task parallelism: a blob write is
foreachPartition over (file_name, payload) rows, each task writing its
partition's objects — same fan-out the reference hand-builds with
ThreadPoolExecutor (data_storage.py:243-253), but scheduled/retried by Spark
and scaling with the cluster instead of one machine's threads.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row


def write_frames_meta_csv(frames_meta: DataFrame, dest_dir: str) -> None:
    """S9: frames_meta → CSV (data_downloader.py:210-215). Distributed
    writer; one part per partition (coalesce upstream if a single file is
    required — a 100 TB export should NOT be one file)."""
    frames_meta.write.mode("overwrite").option("header", True).csv(
        os.path.join(dest_dir, "frames_meta.csv")
    )


def write_global_meta_json(global_meta: DataFrame, dest_dir: str) -> None:
    """S9: global metadata → JSON lines (data_downloader.py:201-209 writes a
    single dict; the distributed form writes one JSON object per dataset
    row)."""
    global_meta.write.mode("overwrite").json(
        os.path.join(dest_dir, "global_metadata.json")
    )


class BlobBackend:
    """Object-store seam for the blob sink: the two calls the reference's
    storage layer makes per object — nonexistence check + upload
    (local_storage.py:108-136, s3_storage.py:88-145). Implementations must
    be CONSTRUCTIBLE ON THE EXECUTOR (a factory runs once per partition —
    the reference's per-thread client re-creation, s3_storage.py:181-183);
    never ship a live client in a closure."""

    def exists(self, key: str) -> bool:  # pragma: no cover - interface
        raise NotImplementedError

    def put(self, key: str, payload: bytes) -> None:  # pragma: no cover
        raise NotImplementedError


class LocalFSBackend(BlobBackend):
    """Local-filesystem backend (local_storage.py semantics): atomic
    publish via per-attempt-unique temp name + os.replace, so speculative
    or zombie task attempts can never interleave into one visible file."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def exists(self, key: str) -> bool:
        return os.path.exists(self._path(key))

    def put(self, key: str, payload: bytes) -> None:
        from pyspark import TaskContext

        path = self._path(key)
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        tmp = f"{path}.inprogress.{attempt}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)  # atomic publish: no torn reads


class FakeS3Client:
    """boto3-client-shaped fake backed by a directory (one file per object,
    percent-encoded keys), the runnable stand-in the container needs since
    it ships neither boto3 nor moto — the reference's tests patch the same
    three calls with moto (tests/filestorage/s3_storage_tests.py:30-60).

    Directory-backed rather than an in-memory dict deliberately: Spark's
    foreachPartition tasks run in separate Python worker PROCESSES even on
    local[*], so an executor-constructed instance must observe writes
    through a shared medium the way a real bucket would. Only the three
    calls the storage layer makes exist: list_objects_v2 (prefix count),
    put_object, get_object."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _obj_path(self, key: str) -> str:
        from urllib.parse import quote

        return os.path.join(self.root, quote(key, safe=""))

    def list_objects_v2(self, Bucket: str, Prefix: str) -> dict:
        from urllib.parse import unquote

        keys = [
            k
            for k in (unquote(n) for n in os.listdir(self.root))
            if k.startswith(Prefix)
        ]
        return {
            "KeyCount": len(keys),
            "Contents": [{"Key": k} for k in sorted(keys)],
        }

    def put_object(self, Bucket: str, Key: str, Body: bytes) -> None:
        path = self._obj_path(Key)
        tmp = f"{path}.inprogress.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(bytes(Body))
        os.replace(tmp, path)

    def get_object(self, Bucket: str, Key: str) -> dict:
        import io

        with open(self._obj_path(Key), "rb") as f:
            return {"Body": io.BytesIO(f.read())}


class S3Backend(BlobBackend):
    """Object-store backend speaking the reference's exact client surface
    (s3_storage.py:28-161): key = storage prefix joined to the file name
    (``_get_key``, s3_storage.py:63-70), existence = list_objects_v2
    KeyCount on the key as prefix (``nonexistent_storage_path``,
    s3_storage.py:47-61), upload = put_object (s3_storage.py:106-121).

    ``client_factory`` is the boto3 seam: a zero-arg callable returning a
    client that answers list_objects_v2 / put_object / get_object. A real
    deployment passes ``lambda: boto3.client("s3")``; this container has
    no boto3, so tests pass ``lambda: FakeS3Client(root)``. The backend is
    identical either way, and — per the BlobBackend contract — it is
    constructed once per partition ON THE EXECUTOR, mirroring the
    reference's client-per-thread re-creation (s3_storage.py:113-115,
    188-189)."""

    def __init__(self, bucket: str, client_factory, prefix: str = "") -> None:
        self.bucket = bucket
        self.prefix = prefix
        self.client = client_factory()

    def _key(self, file_name: str) -> str:
        # _get_key (s3_storage.py:63-70): os.path.join semantics
        return f"{self.prefix}/{file_name}" if self.prefix else file_name

    def exists(self, key: str) -> bool:
        resp = self.client.list_objects_v2(
            Bucket=self.bucket, Prefix=self._key(key)
        )
        return resp["KeyCount"] > 0

    def put(self, key: str, payload: bytes) -> None:
        self.client.put_object(
            Bucket=self.bucket, Key=self._key(key), Body=payload
        )

    def get(self, key: str) -> bytes:
        resp = self.client.get_object(Bucket=self.bucket, Key=self._key(key))
        return resp["Body"].read()

    def assert_unique_prefix(self, storage_dir: str) -> None:
        """`assert_unique_id` (s3_storage.py:34-45): no object may already
        live under the dataset's storage prefix."""
        resp = self.client.list_objects_v2(
            Bucket=self.bucket, Prefix=self._key(storage_dir)
        )
        assert resp["KeyCount"] == 0, (
            f"Key already exists on S3: {storage_dir}"
        )


def write_blobs(frames: DataFrame, dest_dir: str | None = None,
                payload_col: str = "payload", name_col: str = "file_name",
                overwrite: bool = False,
                backend_factory=None) -> None:
    """S8: blob sink — one object per frame row, written task-side via
    foreachPartition (the reference's pool fan-out, local_storage.py:105-106
    / s3_storage.py:113-145, as Spark tasks). Existing objects are skipped
    unless overwrite — the reference's idempotent write-skip
    (local_storage.py:108-120, s3_storage.py:88-104).

    `backend_factory`: zero-arg callable → BlobBackend, invoked ONCE PER
    PARTITION on the executor. Defaults to LocalFSBackend(dest_dir). An S3
    deployment passes e.g. ``lambda: S3Backend(bucket, prefix)`` whose
    __init__ creates the boto client executor-side — the factory closure
    must carry only config strings, never a client handle."""
    if backend_factory is None:
        if dest_dir is None:
            raise ValueError("write_blobs needs dest_dir or backend_factory")
        root = dest_dir
        os.makedirs(root, exist_ok=True)  # fail fast driver-side
        backend_factory = lambda: LocalFSBackend(root)  # noqa: E731

    def write_partition(rows: Iterator[Row]) -> None:
        backend = backend_factory()
        for row in rows:
            key = row[name_col]
            if not overwrite and backend.exists(key):
                continue
            backend.put(key, bytes(row[payload_col]))

    frames.select(name_col, payload_col).foreachPartition(write_partition)


def collect_global_meta_dict(global_meta: DataFrame) -> dict:
    """Driver-side convenience matching the reference's single-dict JSON
    (json_operations.write_json_file input): valid only for a single-dataset
    query (one row)."""
    rows = global_meta.collect()
    if len(rows) != 1:
        raise ValueError(f"expected exactly one global-meta row, got {len(rows)}")
    return {k: v for k, v in rows[0].asDict().items()}


def json_contains(doc: str | None, needle: dict) -> bool:
    """Recursive JSONB `@>` containment (Postgres semantics): every
    key/value in `needle` is present in `doc`, descending into nested
    objects; arrays contain all needle elements (any order, duplicates
    allowed). The reference only ever uses flat single-key containment
    (jsonb_queries.ipynb cell 4) — get_json_object covers that in the query
    layer; this function is the full fallback for nested needles
    (SURVEY.md §4). Pure and unit-testable; the shipped Column-level
    operator is ``operators.filters.jsonb_contains``, which fronts this
    with the flat-key get_json_object fast path and wraps the recursive
    case in an Arrow-batched pandas_udf (VERDICT r3 item 4)."""
    if doc is None:
        return False
    try:
        parsed = json.loads(doc)
    except (ValueError, TypeError):
        return False
    return _contains(parsed, needle)


def _contains(hay, needle) -> bool:
    if isinstance(needle, dict):
        return isinstance(hay, dict) and all(
            k in hay and _contains(hay[k], v) for k, v in needle.items()
        )
    if isinstance(needle, list):
        return isinstance(hay, list) and all(
            any(_contains(h, n) for h in hay) for n in needle
        )
    return hay == needle
