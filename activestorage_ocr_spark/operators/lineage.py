"""Per-partition lineage manifests + resumable checkpoint commits (north rule:
"resumable from checkpoint with per-partition lineage + metrics";
SURVEY.md §4.2 "Resumability").

Design (parquet + manifest; the same commit semantics an Iceberg catalog
would give via snapshots — the sandbox ships no Iceberg jars, SURVEY.md §7.1
M4). `commit_parts` is the one commit path; the extraction job here and the
curation job (`operators/curation.py`) both call it:

* every row is deterministically assigned a ``part_key`` =
  pmod(xxhash64(key), n_parts) — stable across runs and cluster sizes, so
  ``n_parts`` must stay fixed per output root;
* a run processes only part_keys absent from the manifest (the driver
  holds the completed set, bounded by n_parts, and filters the input to
  ``part_key IN pending`` — the resume primitive), and commits both outcomes
  (e.g. the main stream and the quarantine side table) in ONE write job to
  ``data/`` partitioned by (outcome, part_key) with **dynamic partition
  overwrite** (idempotent per part: a crash between data and manifest
  commits reprocesses and overwrites, never duplicates). A single write
  means the rows are computed exactly once and stream into parquet — no
  cache()/count() materialization of the full output before the first byte
  commits; clustering the write by part_key means one writer task, hence
  one parquet file, per (outcome, part_key) dir;
* after the data commit, one manifest row per completed part_key records the
  lineage metrics (rows in/ok/quarantined, bytes in, chars out, wall ms) —
  the structured-log analog of the reference's per-request line
  (`rust/src/server.rs:270-277`).

The commit adds few Spark jobs of its own: no job reads a manifest that does
not exist yet, AQE sizes the write exchange, and the manifest read-back
reuses the schema the write just used (no inference job). Whether the
manifest or the data exists is asked of Hadoop's FileSystem, as Spark
reads and writes them, so a ``file://``, ``s3a://`` or ``hdfs://`` root
resumes like a plain path.

Exactly-once contract: after any crash/resume sequence, output contains every
input key exactly once (tests/test_resume.py kills between commits to prove
it, for both jobs), provided every run against one output root uses the
same ``n_parts``.
"""

from __future__ import annotations

import datetime
import os
import time
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from .extraction import OK_STATUSES, extract_pages

MANIFEST_SCHEMA = (
    "run_id string, part_key int, n_rows long, n_ok long, n_quarantined long, "
    "bytes_in long, chars_out long, wall_ms long, committed_at timestamp"
)

#: (ok, not ok) outcome partition values of the extraction job
OUTCOMES = ("extracted", "quarantine")


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop FileSystem its scheme
    names (a plain path, ``file://``, ``s3a://``, ``hdfs://``) — the one
    Spark reads and writes it with. A driver-side call: no Spark job."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()).exists(p)


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    p = manifest_path(out_dir)
    if _path_exists(spark, p):
        return spark.read.parquet(p)
    return spark.createDataFrame([], MANIFEST_SCHEMA)


def completed_parts(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_manifest(spark, out_dir).select("part_key").distinct()


def commit_parts(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    *,
    key: str,
    run_id: str,
    n_parts: int,
    only_parts: list[int] | None,
    to_rows: Callable[[DataFrame, Column], DataFrame],
    is_ok: Column,
    outcomes: tuple[str, str],
    bytes_in: Column,
    chars_out: Column,
) -> tuple[dict, int]:
    """Commit the rows built from ``df`` as resumable per-part checkpoints.

    ``to_rows(keyed, pending)`` turns ``df`` with its ``part_key`` column
    into the rows to commit, keeping only the rows for which the Column
    ``pending`` holds; its rows need not carry ``part_key`` (it is
    recomputed from ``key``). Rows where ``is_ok`` holds land in
    ``data/outcome=<outcomes[0]>/``, the rest in ``outcomes[1]``.
    ``bytes_in`` and ``chars_out`` are summed per part over the committed
    rows (they may read ``outcome``) for the manifest.

    ``only_parts`` restricts this run to a subset of pending part_keys —
    used by tests to simulate a crash after a partial commit, and by
    operators to drain a backlog incrementally.

    ``n_parts`` must stay fixed per output root: a key hashes to a
    different part under another ``n_parts``, so a resume with a changed
    value would commit keys a second time. A manifest holding a part_key
    ``>= n_parts`` raises ``ValueError`` before anything is written. Any
    other change goes undetected — a larger ``n_parts``, or a smaller one
    above every committed part_key — since the manifest does not record
    ``n_parts``: a known gap.

    Returns the summary {run_id, parts_done, parts_skipped, n_rows} and the
    number of committed ``outcomes[0]`` rows.
    """
    t0 = time.perf_counter()
    part_key = F.pmod(F.xxhash64(F.col(key)), F.lit(n_parts)).cast("int")
    keyed = df.withColumn("part_key", part_key)

    # Driver-side pending-part list WITHOUT scanning the input: every part
    # not in the manifest is pending (parts with no input rows are harmless
    # in the pruning list — they just produce no manifest rows). The only
    # input touch before the write is a limit(1) emptiness probe on the keyed
    # input, which stops at the first pending row (key column only). A fresh
    # root has no manifest: no Spark job runs to learn that.
    done_set = set()
    if _path_exists(spark, manifest_path(out_dir)):
        done_set = {r.part_key for r in completed_parts(spark, out_dir).collect()}
    if done_set and max(done_set) >= n_parts:
        raise ValueError(
            f"manifest of {out_dir} holds part_key {max(done_set)}, which needs "
            f"n_parts > {max(done_set)}; this run has n_parts={n_parts}. "
            "n_parts must stay fixed per output root"
        )
    pending_parts = sorted(set(range(n_parts)) - done_set)
    if only_parts is not None:
        pending_parts = sorted(set(pending_parts) & {int(p) for p in only_parts})
    pending = F.col("part_key").isin(pending_parts)
    summary = {"run_id": run_id, "parts_done": 0, "parts_skipped": len(done_set), "n_rows": 0}
    if not pending_parts or not keyed.filter(pending).select("part_key").limit(1).take(1):
        return summary, 0

    # C7 (`lib/activestorage/ocr/result.rb:103`): stamp the persisted rows
    # once per run (excluded from byte-identity like all timing fields).
    # ``outcome`` is a partition column splitting the two outcomes so ONE
    # write job commits both (verdict r2 fix).
    stamped = (
        to_rows(keyed, pending)
        .withColumn("part_key", part_key)
        .withColumn("processed_at", F.current_timestamp())
        .withColumn("run_id", F.lit(run_id))
        .withColumn("outcome", F.when(is_ok, F.lit(outcomes[0])).otherwise(F.lit(outcomes[1])))
    )
    # Write-layout exchange: without it every task fans out into ~all
    # part_key dirs (tasks x parts tiny files — measured 8k files and
    # 60s of footer overhead at 100k docs). Hash-clustering by part_key
    # sends each part_key to exactly ONE task, so each (outcome, part_key)
    # dir is written by one task (one file per non-empty dir), and the
    # exchange carries the output rows, not the raw input. No partition
    # count: AQE sizes the stage from shuffle.partitions, as in
    # `extract_pages` (a fixed n_parts ran 64 write tasks on 4 cores).
    # Fusing this exchange with the extraction exchange (pass 1 ->
    # repartition(64, part_key) -> pass 2 -> write) was measured and
    # rejected: the write went 1.7 -> 3.4 s at 4 cores (crawl_mix), since
    # pass 2 then runs in 64 Python tasks and murmur3 collisions bunch the
    # giants into a few of them.
    clustered = stamped.repartition(F.col("part_key"))
    # idempotent per-part data commit: dynamic overwrite replaces only the
    # touched partitions, set per write so the session conf is never changed
    (
        clustered.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("outcome", "part_key")
        .parquet(os.path.join(out_dir, "data"))
    )

    # Manifest commit happens only after the data commit succeeded, derived
    # from the just-committed parquet: partition-pruned to this run's
    # part_keys, column-pruned to the metric columns — never a recomputation
    # and never a full-output scan. Read with the schema just written: no
    # schema-inference job.
    committed = (
        spark.read.schema(clustered.schema)
        .parquet(os.path.join(out_dir, "data"))
        .filter(F.col("part_key").isin(pending_parts))
        .filter(F.col("run_id") == run_id)
    )
    ok = F.col("outcome") == outcomes[0]
    rows = (
        committed.groupBy("part_key")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(ok.cast("long")).alias("n_ok"),
            F.sum((~ok).cast("long")).alias("n_quarantined"),
            F.sum(bytes_in).alias("bytes_in"),
            F.sum(chars_out).alias("chars_out"),
        )
        .collect()
    )
    wall_ms = int((time.perf_counter() - t0) * 1000)
    # UTC regardless of driver timezone: manifests from different drivers
    # must sort consistently (naive value — Spark TimestampType strips tz)
    committed_at = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    manifest = spark.createDataFrame(
        [
            (
                run_id, r.part_key, r.n_rows, r.n_ok, r.n_quarantined,
                r.bytes_in, r.chars_out, wall_ms, committed_at,
            )
            for r in rows
        ],
        MANIFEST_SCHEMA,
    )
    manifest.write.mode("append").parquet(manifest_path(out_dir))
    summary.update(parts_done=len(rows), n_rows=sum(r.n_rows for r in rows))
    return summary, sum(r.n_ok for r in rows)


def read_outcome(spark: SparkSession, out_dir: str, outcome: str) -> DataFrame:
    """The committed rows of one outcome, without the ``outcome`` column.

    An outcome with no rows takes the columns of the rows committed beside
    it; an output root with nothing committed reads as an empty frame with
    no columns.
    """
    p = os.path.join(out_dir, "data")
    if not _path_exists(spark, p):
        return spark.createDataFrame([], StructType([]))
    return spark.read.parquet(p).filter(F.col("outcome") == outcome).drop("outcome")


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    run_id: str,
    n_parts: int = 64,
    engine: str | None = None,
    preset: str | None = None,
    max_bytes: int | None = None,
    doc_timeout_ms: int | None = None,
    only_parts: list[int] | None = None,
    repartition: int | None = None,
) -> dict:
    """One (possibly partial) extraction run with checkpoint/resume semantics
    (`commit_parts`), keyed by ``url``; ok+empty rows land in
    ``outcome=extracted``, error rows in ``outcome=quarantine``.

    Returns a summary dict {run_id, parts_done, parts_skipped, n_rows}.
    """
    summary, _ = commit_parts(
        spark, pages, out_dir,
        key="url", run_id=run_id, n_parts=n_parts, only_parts=only_parts,
        # filter BEFORE the kernel: committed parts are never re-extracted
        to_rows=lambda keyed, pending: extract_pages(
            keyed.filter(pending),
            engine=engine,
            preset=preset,
            max_bytes=max_bytes,
            doc_timeout_ms=doc_timeout_ms,
            repartition=repartition,
        ),
        is_ok=F.col("status").isin(*OK_STATUSES),
        outcomes=OUTCOMES,
        bytes_in=F.col("n_bytes"),
        chars_out=F.col("chars_out"),
    )
    return summary


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_outcome(spark, out_dir, OUTCOMES[0])


def read_quarantine(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_outcome(spark, out_dir, OUTCOMES[1])
