"""Per-partition lineage manifests + checkpoint-resume writes.

The reference commits a range checkpoint per event group AFTER a successful
send (core/checkpoint/RangeCheckpoint.h:27-37, replay path FlusherSLS.cpp:
588-591; leveldb-backed plugin checkpoints pluginmanager/checkpoint_manager.
go:52-62): on restart, committed ranges are skipped.

Spark-first mapping: the unit of commit is a shard-hash BUCKET. A run writes
data files partitioned by ``__bucket__`` (dynamic partition overwrite), then
writes one manifest JSON per bucket recording rows / token sums / an
order-insensitive xxhash digest. The manifest is the commit marker: a resumed
run lists existing manifests, filters already-committed buckets out of the
input, and overwrites only uncommitted bucket partitions — no duplicates, no
missing rows, idempotent under kill-anywhere (data without manifest is
rewritten; manifest without data cannot exist because the manifest is written
after its bucket's data job completes).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET = "__bucket__"
MANIFEST_DIR = "_lineage"


class _ManifestIO:
    """Manifest I/O through the Hadoop FileSystem API, for every path: the
    manifests land on the filesystem Spark writes the data to (HDFS / S3A /
    file:), and a schemeless path resolves against ``fs.defaultFS`` for both.
    On a real cluster that is not the driver's local disk; local-disk
    manifests would make checkpoint-resume silently rewrite everything.
    Commit = write tmp + rename (atomic on HDFS; on S3A rename is
    copy+delete — still safe here because a half-renamed manifest is simply
    an uncommitted bucket that gets rewritten)."""

    def __init__(self, spark: SparkSession, base: str):
        self.jvm = spark._jvm
        self.conf = spark._jsc.hadoopConfiguration()
        self.mdir = self.jvm.org.apache.hadoop.fs.Path(base + "/" + MANIFEST_DIR)
        self.fs = self.mdir.getFileSystem(self.conf)

    def _p(self, name: str):
        return self.jvm.org.apache.hadoop.fs.Path(self.mdir, name)

    def list_names(self) -> list[str]:
        if not self.fs.exists(self.mdir):
            return []
        return sorted(
            st.getPath().getName() for st in self.fs.listStatus(self.mdir)
        )

    def read(self, name: str) -> dict:
        stream = self.fs.open(self._p(name))
        try:
            text = self.jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)

    def write_atomic(self, name: str, payload: dict) -> None:
        self.fs.mkdirs(self.mdir)
        final, tmp = self._p(name), self._p(name + ".tmp")
        out = self.fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(payload).encode("utf-8")))
        finally:
            out.close()
        if self.fs.exists(final):
            self.fs.delete(final, False)
        self.fs.rename(tmp, final)


def committed_buckets(base: str, spark: SparkSession) -> set[int]:
    io = _ManifestIO(spark, base)
    out = set()
    for f in io.list_names():
        if f.startswith("bucket-") and f.endswith(".json"):
            out.add(int(f[len("bucket-") : -len(".json")]))
    return out


def bucket_stats(df: DataFrame, tokens_col: str | None = "n_tok", id_col: str = "doc_id") -> DataFrame:
    """Per-bucket lineage facts: row count, token sum, order-insensitive
    digest (bit_xor of per-row xxhash64 — commutative/associative, so it
    survives any partitioning, and immune to ANSI overflow) — the audit trail
    the reference keeps per pack (__pack_id__ sequences)."""
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(F.col(id_col))).alias("digest"),
    ]
    if tokens_col:
        aggs.append(F.sum(F.col(tokens_col).cast("long")).alias("tokens"))
    return df.groupBy(BUCKET).agg(*aggs)


def checkpointed_write(
    df: DataFrame,
    base: str,
    run_id: str = "run",
    tokens_col: str | None = "n_tok",
    id_col: str = "doc_id",
    format: str = "parquet",
) -> dict[str, Any]:
    """Write ``df`` (must carry an int ``__bucket__`` column, e.g. from
    operators.aggregate.shard_hash) to ``base`` partitioned by bucket,
    skipping buckets already committed by a previous run. Returns counters.
    """
    spark = df.sparkSession
    done = committed_buckets(base, spark)
    pending_df = df.filter(~F.col(BUCKET).isin(sorted(done))) if done else df

    stats_rows = bucket_stats(pending_df, tokens_col, id_col).collect()
    pending = {int(r[BUCKET]): r.asDict() for r in stats_rows}
    if not pending:
        return {"written_buckets": 0, "skipped_buckets": len(done), "rows": 0}

    # dynamic overwrite replaces only the bucket partitions written here,
    # never committed ones; the write option outranks the session conf, so
    # no other driver thread's job sees a changed setting
    (
        pending_df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET)
        .format(format)
        .save(os.path.join(base, "data"))
    )

    io = _ManifestIO(spark, base)
    rows = 0
    for b, stats in sorted(pending.items()):
        stats = {k: (int(v) if v is not None else None) for k, v in stats.items()}
        stats["run_id"] = run_id
        io.write_atomic(f"bucket-{b:05d}.json", stats)
        rows += stats.get("rows", 0)
    return {
        "written_buckets": len(pending),
        "skipped_buckets": len(done),
        "rows": rows,
    }


def verify_sink(
    spark: SparkSession,
    base: str,
    tokens_col: str | None = "n_tok",
    id_col: str = "doc_id",
) -> dict[str, Any]:
    """Audit a committed sink: recompute per-bucket rows/tokens/digest from
    the DATA FILES and compare with the lineage manifests — the consumer side
    of the reference's checkpoint audit trail (a digest mismatch means rows
    were lost, duplicated, or altered between route and commit)."""
    manifests = {m["__bucket__"]: m for m in read_manifests(base, spark)}
    df = spark.read.parquet(os.path.join(base, "data"))
    recomputed = {int(r[BUCKET]): r.asDict() for r in bucket_stats(df, tokens_col, id_col).collect()}

    mismatches = []
    for b, m in sorted(manifests.items()):
        got = recomputed.get(b)
        if got is None:
            mismatches.append({"bucket": b, "problem": "manifest without data"})
            continue
        for key in ("rows", "digest") + (("tokens",) if tokens_col else ()):
            if int(got[key]) != int(m[key]):
                mismatches.append(
                    {"bucket": b, "problem": key, "manifest": m[key], "data": int(got[key])}
                )
    for b in sorted(set(recomputed) - set(manifests)):
        mismatches.append({"bucket": b, "problem": "data without manifest"})
    return {
        "buckets": len(manifests),
        "rows": int(sum(int(m["rows"]) for m in manifests.values())),
        "ok": not mismatches,
        "mismatches": mismatches,
    }


def read_manifests(base: str, spark: SparkSession) -> list[dict[str, Any]]:
    io = _ManifestIO(spark, base)
    return [io.read(f) for f in io.list_names() if f.endswith(".json")]
