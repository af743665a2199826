"""S3 listing source (reference A2/A3, src/s3.rs).

Two scale paths:

1. **S3A connector** (default on a real cluster): a `binaryFile`
   metadata listing (``content`` pruned) of
   ``s3a://bucket/prefix`` — listing pagination, prefix pushdown
   (reference src/s3.rs:91-92) and parallelism are handled by the
   Hadoop S3A client on executors.
2. **boto3 fallback** (driver-side ListObjectsV2 pagination, the
   literal shape of the reference's continuation-token loop
   src/s3.rs:135-150) — gated behind an import-try since boto3 is not
   in this container; listing results are parallelized into a
   DataFrame. Only sensible for small buckets; the S3A path is the
   100 TB one.

Quirk parity (src/s3.rs:123): `created` is always NULL for S3 —
ListObjectsV2 exposes no creation time.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    from typing import NoReturn

from file_scraper_spark.sources.mime import with_mime_type
from file_scraper_spark.sources.url import S3Location

#: (env var, fs.s3a.* key) pairs configure_s3a reads. STANDARD AWS
#: SDK names only — the same env every AWS tool honors — so a cluster
#: user points the engine at real S3, a MinIO box, or a moto endpoint
#: with zero code changes:
#:   AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY / AWS_SESSION_TOKEN
#:   AWS_ENDPOINT_URL_S3 (else AWS_ENDPOINT_URL) — custom endpoint;
#:     setting one also flips path-style access on (virtual-host
#:     style rarely resolves against private endpoints).
_S3A_ENV = (
    ("AWS_ACCESS_KEY_ID", "fs.s3a.access.key"),
    ("AWS_SECRET_ACCESS_KEY", "fs.s3a.secret.key"),
    ("AWS_SESSION_TOKEN", "fs.s3a.session.token"),
)


def configure_s3a(
    spark: SparkSession,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    session_token: str | None = None,
    path_style: bool | None = None,
) -> dict[str, str]:
    """Apply S3A client configuration to the LIVE session's Hadoop
    conf from explicit arguments, falling back to the standard AWS
    env vars (see _S3A_ENV) — called by every s3a listing before the
    scan so a real-cluster user gets the executor-parallel S3A path
    configured the same way their boto3/aws-cli already is.

    Explicit args > env > leave-unset (hadoop's own provider chain —
    instance profiles, ~/.aws — still applies when nothing is set
    here; this function only ever ADDS keys, so an empty env is a
    no-op and IAM-role clusters keep working untouched).

    Returns the applied {fs.s3a.* key: value} map (secrets included —
    caller-side use only, never logged here) so tests and operators
    can assert the contract without re-deriving it."""
    import os  # noqa: PLC0415

    applied: dict[str, str] = {}
    explicit = {
        "fs.s3a.access.key": access_key,
        "fs.s3a.secret.key": secret_key,
        "fs.s3a.session.token": session_token,
    }
    for env_name, key in _S3A_ENV:
        val = explicit.get(key) or os.environ.get(env_name)
        if val:
            applied[key] = val
    if ("fs.s3a.access.key" in applied) != ("fs.s3a.secret.key" in applied):
        # half a static credential pair (e.g. only AWS_ACCESS_KEY_ID
        # in env) can never authenticate — setting it would just pin
        # SimpleAWSCredentialsProvider below and shadow the default
        # chain on clusters that would have authenticated via an
        # instance profile. Drop the fragment, keep the chain.
        for key in (
            "fs.s3a.access.key",
            "fs.s3a.secret.key",
            "fs.s3a.session.token",
        ):
            applied.pop(key, None)
    ep = (
        endpoint
        or os.environ.get("AWS_ENDPOINT_URL_S3")
        or os.environ.get("AWS_ENDPOINT_URL")
    )
    if ep:
        applied["fs.s3a.endpoint"] = ep
        if path_style is None:
            path_style = True  # virtual-host style breaks on custom endpoints
    if path_style is not None:
        applied["fs.s3a.path.style.access"] = str(path_style).lower()
    if applied and "fs.s3a.access.key" in applied:
        # pin the static-credentials provider ahead of the default
        # chain so an instance profile can't shadow explicit creds
        applied.setdefault(
            "fs.s3a.aws.credentials.provider",
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider",
        )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in applied.items():
        hconf.set(k, v)
    return applied


def raise_translated_s3a_error(e: Exception) -> "NoReturn":
    """Re-raise ``e``, upgrading missing-s3a-jar failures to an
    actionable NotImplementedError; everything else (credentials,
    permissions) re-raises unchanged. (Raises rather than returns the
    exception so a call site can never silently drop it.)"""
    msg = str(e)
    if "org.apache.hadoop.fs.s3a" in msg or "ClassNotFound" in msg or (
        "No FileSystem for scheme" in msg and "s3" in msg
    ):
        raise NotImplementedError(
            "s3a:// filesystem not on the classpath (hadoop-aws + "
            "aws-sdk jars required); alternatively install boto3 "
            "and call scrape_s3(..., use_s3a=False)"
        ) from e
    raise e


_LIST_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("modified", T.TimestampType(), False),
        T.StructField("size", T.LongType(), True),
    ]
)


def list_objects_boto3(
    spark: SparkSession,
    loc: S3Location,
    page_size: int = 1000,
    client=None,  # noqa: ANN001 - boto3-shaped client, injectable for tests
) -> DataFrame:
    """ListObjectsV2 pagination loop -> DataFrame (fallback path).

    ``client`` is any object with boto3's ``list_objects_v2`` shape —
    injected in tests (no S3 in the sandbox); defaults to a real
    boto3 client."""
    if client is None:
        try:
            import boto3  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover - boto3 absent in container
            raise NotImplementedError(
                "boto3 not available; use the s3a:// listing path "
                "(scrape_s3 with use_s3a=True) on a configured cluster"
            ) from e
        client = boto3.client("s3")
    rows = []
    token: str | None = None
    while True:  # continuation-token loop (reference src/s3.rs:135-150)
        kwargs = {"Bucket": loc.bucket, "Prefix": loc.path, "MaxKeys": page_size}
        if token:
            kwargs["ContinuationToken"] = token
        resp = client.list_objects_v2(**kwargs)
        for obj in resp.get("Contents", []):
            rows.append((obj["Key"], obj["LastModified"], int(obj["Size"])))
        if "IsTruncated" not in resp:
            # parity with the reference, which refuses to silently
            # stop paging when the flag is absent (src/s3.rs:145
            # `is_truncated().context(..)?`) — a truncated-but-
            # unflagged listing would mass-soft-delete the unseen tail
            raise ValueError("IsTruncated missing from ListObjectsV2 response")
        if not resp["IsTruncated"]:
            break
        token = resp.get("NextContinuationToken")
    return spark.createDataFrame(rows, schema=_LIST_SCHEMA)


def project_objects(listed: DataFrame, identifier: str) -> DataFrame:
    """Object (key, modified, size) -> FileInfo rows.

    dir/filename split at the last '/' — a key without '/' yields
    path '' instead of the reference's panic (src/s3.rs:107-108).
    """
    projected = listed.select(
        F.lit(identifier).alias("external_source"),
        F.coalesce(
            F.regexp_extract("key", r"^(.*)/[^/]*$", 1), F.lit("")
        ).alias("path"),
        F.regexp_extract("key", r"([^/]*)$", 1).alias("filename"),
        F.lit(None).cast("timestamp").alias("created"),  # src/s3.rs:123
        F.col("modified"),
        F.col("size").cast("long").alias("size"),
    )
    return with_mime_type(projected).select(
        "external_source",
        "path",
        "filename",
        "mime_type",
        "created",
        "modified",
        "size",
    )


def scrape_s3(
    spark: SparkSession,
    loc: S3Location,
    identifier: str | None = None,
    use_s3a: bool = True,
    client=None,  # noqa: ANN001 - boto3-shaped client for the fallback path
) -> DataFrame:
    """Full S3 scrape dataflow (minus sink)."""
    identifier = identifier or loc.url  # reference src/s3.rs:71
    if use_s3a:
        configure_s3a(spark)  # env-driven credentials/endpoint, no-op if unset
        s3a_root = f"s3a://{loc.bucket}/{loc.path}".rstrip("/")
        try:
            listed = (
                spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true")
                .load(s3a_root)
            ).select(
                F.regexp_replace("path", r"^s3a://[^/]+/", "").alias("key"),
                F.col("modificationTime").alias("modified"),
                F.col("length").cast("long").alias("size"),
            )
        except Exception as e:
            raise_translated_s3a_error(e)
    else:
        listed = list_objects_boto3(spark, loc, client=client)
    return project_objects(listed, identifier)
