"""Real-S3-API object store adapter — the reference's Lambda-side S3
surface, engine-side, speaking the actual S3 REST protocol via boto3.

The reference's three Lambdas talk to S3 directly:

- tag-predicate listing of unprocessed objects and ``mark_processed``
  tagging (reference: src/lambda_functions/s3_operations.py:13-56);
- archive as copy+delete (s3_operations.py:58-72 — S3 has no rename,
  so the reference's "move" is two calls; NON-atomic, see
  :meth:`S3ObjectStore.archive`);
- streaming upload of the fetched monthly file
  (src/lambda_functions/data_downloader.py:13-42,
  fetch_raw_data.py:56-94).

This module reproduces that surface against ANY S3-compatible endpoint
(AWS, MinIO, moto server) so the pipeline layer's object-store behavior
is RUN, not merely posture-tested: tests/test_s3_objectstore.py drives
every method through a live local S3 endpoint (``moto.server``) over
real HTTP. Spark's own ``s3a://`` path remains environment-blocked in
this sandbox — ``org.apache.hadoop.fs.s3a.S3AFileSystem`` is not on
pyspark 4.1.2's classpath, the hadoop-aws jar exists nowhere on disk,
and there is no outbound network to fetch it (probe recorded in
ARCHITECTURE.md §"Object-store execution") — which is exactly why the
boto3 layer here is the part of the reference's S3 surface that CAN be
executed for real.

boto3 is gated behind import-try (same policy as requests in fetch.py):
environments without it can still import the engine.
"""

from __future__ import annotations

from typing import Any

from .actions import dispatch

PROCESSED_TAG = "processed"  # reference: s3_operations.py:44 tag key


def make_client(endpoint_url: str | None = None) -> Any:
    """A boto3 S3 client. ``endpoint_url`` points at a local
    S3-compatible server in tests; None means real AWS resolution."""
    try:
        import boto3
    except ImportError as exc:  # pragma: no cover - boto3 is baked in
        raise RuntimeError(
            "boto3 unavailable; pass an explicit client"
        ) from exc
    return boto3.client("s3", endpoint_url=endpoint_url)


class S3ObjectStore:
    """The reference's s3_operations/data_downloader surface over a real
    S3 API.

    Every method is one-or-two plain S3 calls — no retries, no
    pagination hiding (list paginates explicitly), no state. State
    lives in the bucket (object bytes + tags), exactly like the
    reference; the ENGINE's processed-state, by contrast, lives in the
    streaming checkpoint (pipeline/ingest.py), which is why
    ActionDispatcher.mark_processed is a documented no-op there while
    here it is a real tag write — this class is the migration-parity
    adapter for callers still operating tag-based state.
    """

    def __init__(self, bucket: str, client: Any):
        self.bucket = bucket
        self.client = client

    # -- basic object IO ---------------------------------------------------
    def put(self, key: str, data: bytes) -> None:
        """Reference: upload path (data_downloader.py:13-42) — the
        engine uploads fetched bytes under the same lineage key pattern
        fetch.download_to_landing uses locally."""
        self.client.put_object(Bucket=self.bucket, Key=key, Body=data)

    def get(self, key: str) -> bytes:
        return self.client.get_object(Bucket=self.bucket, Key=key)[
            "Body"
        ].read()

    def exists(self, key: str) -> bool:
        """HEAD probe (reference: check_url_exists shape,
        fetch_raw_data.py:18-32, against the store instead of the CDN).
        Only a genuine not-found maps to False; any other ClientError
        (403 AccessDenied, throttling, 5xx) re-raises — treating an
        auth or infra failure as "object absent" would silently skip
        work (ADVICE r10)."""
        try:
            self.client.head_object(Bucket=self.bucket, Key=key)
            return True
        except self.client.exceptions.ClientError as e:
            err = e.response.get("Error", {})
            code = str(err.get("Code", ""))
            status = e.response.get(
                "ResponseMetadata", {}
            ).get("HTTPStatusCode")
            if code in ("404", "NoSuchKey", "NotFound") or status == 404:
                return False
            raise

    def list(self, prefix: str = "") -> list[str]:
        """Full listing under a prefix — explicit pagination (the
        reference's single list_objects_v2 call silently truncates at
        1000 objects; at real bucket sizes that is a correctness bug,
        so the adapter paginates)."""
        keys: list[str] = []
        token: str | None = None
        while True:
            kwargs: dict[str, Any] = {
                "Bucket": self.bucket, "Prefix": prefix
            }
            if token:
                kwargs["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kwargs)
            keys.extend(o["Key"] for o in resp.get("Contents", []))
            if not resp.get("IsTruncated"):
                return sorted(keys)
            token = resp.get("NextContinuationToken")

    # -- processed-state tagging (reference: s3_operations.py:13-56) -------
    def is_processed(self, key: str) -> bool:
        tags = self.client.get_object_tagging(
            Bucket=self.bucket, Key=key
        )["TagSet"]
        return any(
            t["Key"] == PROCESSED_TAG and t["Value"] == "true"
            for t in tags
        )

    def mark_processed(self, key: str) -> None:
        """Reference: mark_file_processed (s3_operations.py:41-56).
        NOTE the inherited caveat, preserved deliberately: tagging is a
        separate call from the processing write, so a crash between
        them replays the file — the engine's checkpoint-committed
        ingest (pipeline/ingest.py) is the fix; this adapter exists for
        callers still on the tag protocol."""
        self.client.put_object_tagging(
            Bucket=self.bucket,
            Key=key,
            Tagging={
                "TagSet": [{"Key": PROCESSED_TAG, "Value": "true"}]
            },
        )

    def get_unprocessed(self, prefix: str = "") -> list[str]:
        """Reference: get_unprocessed_files (s3_operations.py:13-38) —
        list then filter on the processed tag."""
        return [k for k in self.list(prefix) if not self.is_processed(k)]

    # -- archive (reference: s3_operations.py:58-72) ------------------------
    def archive(self, key: str, archive_prefix: str = "archive/") -> str:
        """Copy-then-delete "move" — the reference's own archive shape
        (S3 has no rename). NON-atomic by nature: a crash between the
        two calls leaves the object in BOTH places, which is safe
        (re-archiving is idempotent: the copy overwrites byte-identical
        content) but means readers of the archive prefix may see an
        object whose source still exists. Contrast
        pipeline/atomic.py's manifest commit, which the engine uses for
        anything where torn state would be read as data.

        The full source key is preserved under the archive prefix
        (``archive/a/x.parquet``, not ``archive/x.parquet``): the
        reference's basename flattening (s3_operations.py:58-72) lets
        ``a/x.parquet`` then ``b/x.parquet`` silently overwrite each
        other in the archive (ADVICE r10) — a data-loss bug at scale,
        fixed rather than inherited."""
        dest = archive_prefix + key.lstrip("/")
        self.client.copy_object(
            Bucket=self.bucket,
            Key=dest,
            CopySource={"Bucket": self.bucket, "Key": key},
        )
        self.client.delete_object(Bucket=self.bucket, Key=key)
        return dest

    # -- event protocol (reference: s3_operations.py:97-115) ----------------
    def handle(self, event: dict) -> dict:
        """ActionDispatcher's envelope, each action executed against
        the real store."""

        def mark(e: dict) -> dict:
            self.mark_processed(e["key"])
            return {"marked": e["key"]}

        return dispatch(
            event,
            {
                "get_unprocessed": lambda e: {
                    "files": self.get_unprocessed(e.get("prefix", ""))
                },
                "mark_processed": mark,
                "archive": lambda e: {"archived_to": self.archive(e["key"])},
            },
        )
