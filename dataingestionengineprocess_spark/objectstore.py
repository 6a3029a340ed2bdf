"""Object-store configuration surface: make the S3 landing zone /
warehouse of the reference architecture (Untitled Diagram.drawio:13-15,
201 -- "S3 bucket" landing + curated zones) a CONFIG change, not a
code change.

Every path this engine touches already flows through either
``spark.read``/``df.write`` or the Hadoop FileSystem API via
`hadoop_fs` (`pipeline._list_landing_files`, the ledger/quarantine
moves, the versioned-table staging renames), both of which resolve the
filesystem FROM THE URI SCHEME. A feed rooted at
``s3a://bucket/landing`` therefore needs no engine change -- only the
Hadoop confs below on the session. No AWS call happens here (a stated
non-goal, SURVEY.md §7): this module only assembles conf dicts,
validates URIs and resolves FileSystem handles; the tests exercise
the same scheme-resolution path with ``file://`` URIs
(tests/test_objectstore.py).

All keys are the public Hadoop S3A / Spark cloud-integration surface:
- hadoop-aws `fs.s3a.*` (committers, endpoint, path-style access,
  multipart upload) -- Hadoop docs "Maximizing Performance when
  working with the S3A Connector".
- `spark.sql.sources.commitProtocolClass` +
  `spark.sql.parquet.output.committer.class` -- Spark docs
  "Integration with Cloud Infrastructures": commit via the S3A
  committers instead of rename (S3 has no atomic directory rename;
  the default FileOutputCommitter v1/v2 is both slow and unsafe
  there).
"""

from __future__ import annotations

from urllib.parse import urlparse

#: Schemes whose FileSystem implementations ship with (or alongside)
#: the Spark distribution. Anything else still works if the user puts
#: the connector jar on the classpath -- this set only drives the
#: advisory in `validate_store_uri`.
KNOWN_SCHEMES = {"file", "hdfs", "s3a", "gs", "abfs", "abfss", "wasbs"}


_S3A_COMMITTERS = ("magic", "directory", "partitioned")


def s3a_confs(*, endpoint: str | None = None,
              region: str | None = None,
              path_style_access: bool = False,
              committer: str = "magic",
              anonymous: bool = False) -> dict[str, str]:
    """Hadoop confs for an ``s3a://`` landing zone / warehouse.

    ``committer``: one of the public hadoop-aws S3A committer names --
    "magic" (writes task output under a __magic path, completed by
    multipart-upload commit; zero-rename, needs no external store),
    "directory" (staging committer, whole-directory conflict
    resolution) or "partitioned" (staging committer, per-partition
    conflict resolution). The default FileOutputCommitter is never
    safe on S3 (rename is COPY + DELETE and listings can lag).

    ``endpoint`` / ``path_style_access``: point at a non-AWS
    S3-compatible store (MinIO, Ceph RGW) -- the standard local-stack
    test topology.

    ``anonymous``: public buckets; otherwise credentials resolve via
    the default provider chain (env vars, instance profile) -- never
    hardcoded here.
    """
    if committer not in _S3A_COMMITTERS:
        raise ValueError(
            f"unknown S3A committer {committer!r}: the public names "
            f"are {_S3A_COMMITTERS}")
    confs = {
        # zero-rename commit: both Spark-side keys are required for
        # parquet to route through the S3A committer factory
        "spark.sql.sources.commitProtocolClass":
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
        "spark.sql.parquet.output.committer.class":
            "org.apache.spark.internal.io.cloud."
            "BindingParquetOutputCommitter",
        "spark.hadoop.fs.s3a.committer.name": committer,
        # upload tuning: stream multipart blocks from memory-bounded
        # disk buffers; 64 MB parts balance throughput vs retry cost
        "spark.hadoop.fs.s3a.fast.upload.buffer": "disk",
        "spark.hadoop.fs.s3a.multipart.size": "67108864",
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        # directory listings: the v2 list API pages at 1000 keys; keep
        # vectored reads on for parquet footer/column-chunk fetches
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
    }
    if committer == "magic":
        confs["spark.hadoop.fs.s3a.committer.magic.enabled"] = "true"
    if endpoint:
        confs["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if region:
        confs["spark.hadoop.fs.s3a.endpoint.region"] = region
    if path_style_access:
        confs["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if anonymous:
        confs["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    return confs


def validate_store_uri(uri: str) -> str:
    """Normalize + sanity-check a store root URI. Returns the URI
    unchanged for scheme-less local paths (Hadoop resolves them
    against ``fs.defaultFS``); raises on URIs that cannot work
    (empty scheme-only strings, s3a without a bucket)."""
    parsed = urlparse(uri)
    if not parsed.scheme or len(parsed.scheme) == 1:
        # plain local path (a single letter is a Windows drive)
        return uri
    if parsed.scheme not in KNOWN_SCHEMES:
        raise ValueError(
            f"unknown filesystem scheme {parsed.scheme!r} in {uri!r}: "
            f"known schemes are {sorted(KNOWN_SCHEMES)}; other schemes "
            "need their connector jar on the session classpath")
    # only BUCKET-ADDRESSED stores require an authority; hdfs:///path
    # is valid (the namenode resolves from fs.defaultFS)
    if parsed.scheme in {"s3a", "gs", "abfs", "abfss", "wasbs"} \
            and not parsed.netloc:
        raise ValueError(
            f"{parsed.scheme}:// URI needs a bucket/authority: {uri!r}")
    return uri


def hadoop_fs(spark, path: str):
    """``(FileSystem, Path)`` for ``path``: the Hadoop FileSystem its URI
    scheme resolves to under the session's Hadoop conf, and the Hadoop
    Path to pass to it. The one place the engine reaches for the JVM
    filesystem API, so every move, listing and delete resolves
    ``s3a://``, ``hdfs://`` and local paths the same way."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return (hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()),
            hpath)


def warehouse_unload_confs() -> dict[str, str]:
    """Confs for the Redshift-style BULK path (diagram :25-27,64-66):
    the warehouse engine COPYs parquet from the object store, so the
    engine's job is only to land committer-safe parquet at an
    ``s3a://`` prefix -- `sinks/warehouse.write_warehouse` with an
    s3a path + these confs IS the bulk path (the COPY statement runs
    in the warehouse, outside this engine -- no AWS/Redshift call is
    made here)."""
    return {
        # one file per partition-dir target keeps COPY manifests small;
        # maxRecordsPerFile bounds any single parquet object so the
        # warehouse's parallel COPY slices spread evenly
        "spark.sql.files.maxRecordsPerFile": "10000000",
    }
