"""Per-stage checkpointing with per-partition lineage manifests.

north_rule requirement: the build must be "resumable from checkpoint with
per-partition lineage + metrics". The reference's analogue is its
idempotent start/stop lifecycle (Indexer.cs:192-237) and progress counters
(Indexer.cs:122-168); at Spark scale each pipeline stage materializes as a
parquet table plus a ``_lineage`` directory holding:

    manifest.json          -- stage name, input fingerprint, row count,
                              per-partition rows + checksums, wall time
    (parquet _SUCCESS)     -- Spark's own atomic commit marker

Resume: ``StagePipeline.run`` recomputes nothing whose manifest exists and
whose input fingerprint matches — a restart replays only uncommitted
stages (the anti-join of planned vs committed work).

Partition checksums are order-insensitive (bit_xor of per-row xxhash64), so
they are stable across shuffles of the same logical content and verify
that a resumed read sees exactly the rows the manifest recorded.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F


# --- storage-agnostic manifest IO -------------------------------------------
#
# Stage parquet lands wherever the Spark writers point (hdfs://, s3a://,
# local); the manifest files MUST live beside it, so their IO goes
# through the Hadoop FileSystem API resolved from the path's scheme —
# driver-local os.* calls would silently create literal 'hdfs:'
# directories on the driver and make every exists() check False on a
# real cluster (resume would never skip a stage). Plain local paths
# resolve to the local FileSystem, so behavior there is unchanged.

def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_exists(spark, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def fs_read_text(spark, path: str) -> str:
    fs, p = _hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        # commons-io ships with Hadoop; a py4j read(byte[]) loop would
        # mutate a JAVA-side copy of the buffer, never the Python one
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def fs_write_text(spark, path: str, text: str) -> None:
    """Write-then-rename (atomic on HDFS/local; best-effort on object
    stores, where the manifest is still only visible complete)."""
    fs, p = _hadoop_fs(spark, path)
    tmp_path = path + ".tmp"
    _, tmp = _hadoop_fs(spark, tmp_path)
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(p):
        fs.delete(p, False)
    # Hadoop reports a failed rename (common on object stores) by
    # returning False, not by raising: unchecked, the stage would lose
    # its manifest, and with it resumability, without an error
    if not fs.rename(tmp, p):
        raise OSError(f"could not rename {tmp_path} to {path}")


def partition_lineage(df: DataFrame) -> list[dict]:
    """Per-partition (id, rows, checksum) for a DataFrame about to be
    written. Checksum = bit_xor of xxhash64 over all columns,
    order-free."""
    rows = (df.withColumn("_pid", F.spark_partition_id())
            .withColumn("_h", F.xxhash64(*[F.col(c) for c in df.columns]))
            .groupBy("_pid")
            .agg(F.count("*").alias("rows"),
                 F.expr("bit_xor(_h)").alias("checksum"))
            .collect())
    return [{"partition": int(r["_pid"]), "rows": int(r["rows"]),
             "checksum": int(r["checksum"])} for r in rows]


def write_stage(df: DataFrame, path: str, stage: str,
                input_fingerprint: str = "", metrics: dict | None = None
                ) -> dict:
    """Materialize a stage to parquet + lineage manifest (atomic-ish:
    manifest lands only after the parquet commit succeeds)."""
    t0 = time.perf_counter()
    df.write.mode("overwrite").parquet(path)
    spark = df.sparkSession
    written = spark.read.parquet(path)
    lineage = partition_lineage(written)
    manifest = {
        "stage": stage,
        "input_fingerprint": input_fingerprint,
        "row_count": sum(p["rows"] for p in lineage),
        "n_partitions": len(lineage),
        "partitions": sorted(lineage, key=lambda p: p["partition"]),
        "wall_s": round(time.perf_counter() - t0, 3),
        "metrics": metrics or {},
    }
    fs_write_text(spark, f"{path}/_lineage/manifest.json",
                  json.dumps(manifest, indent=1))
    return manifest


def read_manifest(path: str, spark=None) -> dict | None:
    """``spark=None`` keeps the historical local-filesystem behavior;
    pass the session to resolve hdfs://, s3a:// etc. through Hadoop."""
    mf = f"{path}/_lineage/manifest.json"
    if spark is None:
        if not os.path.exists(mf) \
                or not os.path.exists(f"{path}/_SUCCESS"):
            return None
        with open(mf) as fh:
            return json.load(fh)
    if not fs_exists(spark, mf) \
            or not fs_exists(spark, f"{path}/_SUCCESS"):
        return None
    return json.loads(fs_read_text(spark, mf))


def verify_stage(spark, path: str) -> bool:
    """Re-derive the lineage of a committed stage and compare against
    its manifest (detects partial/corrupt checkpoints before resuming).
    Row count AND the order-free content checksum must both match: the
    global checksum is the XOR of the per-partition checksums (bit_xor
    composes), so it is partitioning-independent — a stage whose
    parquet was partially replaced by stale files with the same row
    count still fails verification."""
    manifest = read_manifest(path, spark)
    if manifest is None:
        return False
    df = spark.read.parquet(path)
    row = (df.select(F.xxhash64(*[F.col(c) for c in df.columns])
                     .alias("_h"))
           .agg(F.count("*").alias("n"),
                F.expr("bit_xor(_h)").alias("x"))
           .collect()[0])
    want_x = 0
    for p in manifest["partitions"]:
        want_x ^= int(p["checksum"])
    return int(row["n"]) == manifest["row_count"] \
        and int(row["x"] or 0) == want_x


class StagePipeline:
    """Checkpoint-resumable multi-stage pipeline. Each stage is
    (name, fn(spark, upstream...) -> DataFrame); run() skips stages whose
    manifest is committed with a matching input fingerprint."""

    def __init__(self, spark, base_path: str,
                 input_fingerprint: str = "") -> None:
        self.spark = spark
        self.base = base_path
        self.fingerprint = input_fingerprint
        self.executed: list[str] = []
        self.skipped: list[str] = []

    def stage(self, name: str, fn, *upstream: DataFrame,
              metrics: dict | None = None) -> DataFrame:
        path = f"{self.base}/{name}"
        manifest = read_manifest(path, self.spark)
        if manifest is not None and \
                manifest.get("input_fingerprint") == self.fingerprint:
            self.skipped.append(name)
            return self.spark.read.parquet(path)
        df = fn(self.spark, *upstream)
        write_stage(df, path, name, self.fingerprint, metrics)
        self.executed.append(name)
        return self.spark.read.parquet(path)
