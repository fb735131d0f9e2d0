"""Object-store tables: S3 / GCS / Azure / HDFS URIs (SURVEY §2.1;
reference StorageObjectStorage at /root/reference/src/Storages/
ObjectStorage/StorageObjectStorage.h, engines S3/AzureBlobStorage/HDFS
in registerStorages.cpp:37,105).

Spark reads object stores through Hadoop filesystem connectors — the
engine's job is the URI dialect and the conf knobs, not I/O:

- `normalize_uri` maps the reference's URL forms (s3:// → s3a://, a
  bare bucket/key, wasbs://, gs://) to the scheme Spark reads; file()
  and url() read the result through `formats.read`;
- `object_store_conf` returns the hadoop conf entries each store
  needs (credentials provider chain, endpoint, path-style access) so
  a cluster deployment sets them in one place.

This sandbox has no object-store credentials or connector jars, so the
I/O path is exercised only through file:// URIs here (same code path:
Hadoop FileSystem); the scheme translation and conf surface are unit
tested — honest capability, like sources/datalake.py.
"""

from __future__ import annotations

_SCHEME_MAP = {
    "s3": "s3a",  # reference S3 engine → hadoop-aws s3a connector
    "s3n": "s3a",
    "wasb": "wasbs",
    "azure": "wasbs",
}


def normalize_uri(url: str) -> str:
    scheme, sep, rest = url.partition("://")
    if not sep:
        return f"file://{url}"  # local path (clickhouse-local file table)
    return f"{_SCHEME_MAP.get(scheme.lower(), scheme)}://{rest}"


def object_store_conf(kind: str, endpoint: str | None = None) -> dict[str, str]:
    """Hadoop conf for a store kind — the knobs a 1000-executor
    deployment must set (per-bucket variants exist for multi-store)."""
    if kind == "s3":
        conf = {
            "spark.hadoop.fs.s3a.aws.credentials.provider": (
                "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
            ),
            "spark.hadoop.fs.s3a.connection.maximum": "512",
            "spark.hadoop.fs.s3a.fast.upload": "true",
            # many small readers: keep the connection pool ahead of
            # task parallelism or scans serialize on connections
        }
        if endpoint:
            conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
            conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
        return conf
    if kind == "gcs":
        return {
            "spark.hadoop.google.cloud.auth.service.account.enable": "true",
        }
    if kind == "azure":
        return {}  # account key/SAS go in fs.azure.account.key.<acct>
    if kind == "hdfs":
        return {}
    raise ValueError(f"unknown object store kind {kind!r}")
