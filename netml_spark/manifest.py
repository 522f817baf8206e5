"""Checkpoint manifest — per-partition lineage + idempotent resume.

North-rule requirement: every partition emits lineage and row-count/checksum
metrics to a checkpoint manifest so interrupted backfills resume
idempotently (SURVEY.md §4.2; the reference has only a driver-side spool
buffer, cli.py:246).

Design (Parquet-dir backend; the partition writes go to an Iceberg
``writeTo`` table instead when ``iceberg_available()`` finds the runtime jar
and a catalog — detected at construction, same API):

- a *stage* writes its output partitioned by a user-chosen partition column
  (e.g. ``source`` or a date bucket), one directory per partition value;
- the manifest makes ONE pass over each partition's data, the write: the
  row count and checksum are ``DataFrame.observe`` metrics on the frame
  the write executes, read once the write has returned — no cache, no
  second job;
- after each partition lands, a manifest row
  (stage, partition, input_fp, row_count, checksum, status, wall_s) is
  appended to ``<root>/_manifest`` (a tiny parquet table — the only
  driver-side state). Within ``run_stage`` rows are BUFFERED and flushed
  in batches of ``flush_every`` (one parquet file per flush), so a
  10 000-partition backfill leaves ~300 manifest files, not 10 000. A
  crash loses at most the unflushed tail of records; those partitions
  simply recompute on resume — idempotent, never wrong;
- ``run_stage`` skips partitions whose manifest row is already ``ok`` AND
  whose recorded input fingerprint matches the current one (a run WITHOUT
  ``input_fp`` treats any recorded fingerprint as matching — toggling
  fingerprinting off must not redo a completed backfill); if the input
  for a partition changed since the checkpoint, it is recomputed, never
  silently skipped;
- the checksum is an order-insensitive xor-fold of per-row xxhash64 over
  the output columns, computed as 64 per-bit parity aggregates
  (sum(bit) % 2 per bit position) — O(1) state per task regardless of row
  count (the naive collect_list fold would buffer every row hash);
  ``partition_metrics`` is the same pair as a plain aggregate;
- partitions run ``max_parallel`` at a time (Spark schedules jobs from
  concurrent driver threads fairly; each partition is an independent job,
  so a 20-source backfill overlaps scan/shuffle/write across sources).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from threading import Lock
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def xor_checksum(h) -> F.Column:
    """Order-insensitive xor aggregate of a long column, as 64 per-bit
    parity sums: bit b of the result = sum over rows of bit b, mod 2.
    Distributed (hash-agg partials), no per-row state on the driver."""
    terms = [
        F.shiftleft(
            (F.sum(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1))) % 2).cast("long"),
            b,
        )
        for b in range(64)
    ]
    return F.coalesce(reduce(lambda a, b: a.bitwiseOR(b), terms), F.lit(0))


def _metric_columns(cols: Sequence[str]) -> list[F.Column]:
    """The (row_count, checksum) aggregate columns over ``cols``: checksum =
    xor-fold of xxhash64 over the (stringified) columns — order-insensitive,
    so partition-internal ordering changes don't break resume comparisons.
    Valid both in ``DataFrame.agg`` and in ``DataFrame.observe``."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    return [F.count(F.lit(1)).alias("row_count"), xor_checksum(h).alias("checksum")]


def partition_metrics(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """(row_count, checksum) of a DataFrame as a one-row aggregate — the
    reference for the metrics ``run_stage`` observes on its writes."""
    return df.agg(*_metric_columns(list(cols or df.columns)))


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is usable in this session (runtime jar
    on the classpath AND a catalog configured). Sandbox ships no jar, so
    this degrades to False and the parquet-dir backend is used."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    conf = spark.conf
    for key in ("spark.sql.catalog.spark_catalog", "spark.sql.catalog.local"):
        try:
            impl = conf.get(key)
        except Exception:
            impl = None
        if impl and "iceberg" in impl.lower():
            return True
    return False


class CheckpointManifest:
    def __init__(self, spark: SparkSession, root: str, iceberg: bool | None = None,
                 iceberg_table: str | None = None):
        """``iceberg_table`` is the EXPLICIT catalog identifier (e.g.
        ``local.db.features``) partition writes target when the Iceberg
        backend is active. It is the caller's contract with their catalog —
        round 2 derived one from the filesystem path
        (``/tmp/ckpt/stage`` -> ``tmp.ckpt.stage``), which no real catalog
        namespace would accept; that guess is gone."""
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "_manifest")
        self._lock = Lock()
        # Iceberg upgrade hook: when the runtime jar + a catalog are
        # present, partition outputs land as Iceberg table partitions
        # (replaceWhere semantics); otherwise parquet dirs.
        self.iceberg = iceberg_available(spark) if iceberg is None else iceberg
        self.iceberg_table = iceberg_table
        if self.iceberg and not self.iceberg_table:
            raise ValueError(
                "Iceberg backend active but no iceberg_table identifier "
                "given; pass iceberg_table='catalog.db.table' (or "
                "iceberg=False for the parquet-dir backend)"
            )

    def read(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        try:
            return self.spark.read.parquet(self.path)
        except Exception:
            return None

    def completed(self, stage: str) -> dict:
        """{partition: input_fp} for 'ok' rows of this stage (last write
        wins per partition). Manifests written before input_fp existed
        surface as fp '' — matching the default no-fingerprint mode."""
        m = self.read()
        if m is None:
            return {}
        if "input_fp" not in m.columns:
            m = m.withColumn("input_fp", F.lit(""))
        rows = (
            m.filter((F.col("stage") == stage) & (F.col("status") == "ok"))
            .orderBy("finished_at")
            .select("partition", "input_fp")
            .collect()
        )
        return {r.partition: r.input_fp for r in rows}

    def _write_rows(self, rows: list) -> None:
        import pandas as pd

        self.spark.createDataFrame(pd.DataFrame(rows)).coalesce(1) \
            .write.mode("append").parquet(self.path)

    def _write_partition(self, df: DataFrame, out_root: str,
                         partition_col: str, pv) -> dict:
        """Write one partition and return its observed row_count and
        checksum, counted by the write itself. The checksum covers the
        build's columns, not the stamped Iceberg partition column, so both
        backends record the same value."""
        metrics = _metric_columns(df.columns)
        # observe must be the last operator before the sink, with no
        # repartition after it: the metrics are then counted in the write's
        # result stage, where Spark applies each partition's accumulator
        # update once even if tasks are retried.
        obs = Observation()
        if self.iceberg:
            (
                df.withColumn(partition_col, F.lit(str(pv)))
                .observe(obs, *metrics)
                .writeTo(self.iceberg_table)
                .overwritePartitions()
            )
        else:
            df.observe(obs, *metrics).write.mode("overwrite").parquet(
                os.path.join(out_root, f"{partition_col}={pv}")
            )
        # get blocks until the observed action has finished: read it only
        # after the write returned (a failed write raises before this line)
        return obs.get

    def run_stage(
        self,
        stage: str,
        partitions: Sequence[str],
        build: Callable[[str], DataFrame],
        partition_col: str,
        output_subdir: str | None = None,
        input_fp: Callable[[str], str] | None = None,
        max_parallel: int = 4,
        flush_every: int = 32,
    ) -> dict:
        """Run ``build(partition_value)`` for every partition not yet 'ok'
        (with matching input fingerprint) in the manifest; write each to
        <root>/<stage>/<partition_col>=<v>/ and record metrics. Partitions
        run ``max_parallel`` at a time as independent Spark jobs; manifest
        rows are flushed in batches of ``flush_every`` (bounded manifest
        file count — a crash loses at most one unflushed batch, whose
        partitions recompute idempotently on resume).

        ``input_fp(pv)`` should return a cheap stamp of the partition's
        input (file mtime+size, snapshot id, upstream checksum). When
        given, a checkpointed partition whose current fingerprint differs
        from the recorded one is REcomputed. Without it, any 'ok'
        partition is skipped regardless of its recorded fingerprint —
        turning fingerprinting off must not redo a completed backfill.
        A fingerprint callable that itself raises (missing input file for
        one partition) marks THAT partition 'error' and the run
        continues — same isolation as build/write failures."""
        out_root = os.path.join(self.root, output_subdir or stage)
        done = self.completed(stage)
        flush_every = max(1, int(flush_every))
        buffer: list[dict] = []
        results = {}

        def record(pv, row_count: int, checksum: int, t0: float,
                   input_fp: str, status: str = "ok") -> None:
            row = {
                "stage": stage, "partition": str(pv),
                "input_fp": str(input_fp),
                "row_count": int(row_count), "checksum": int(checksum),
                "wall_s": time.time() - t0, "status": status,
                "finished_at": time.time(),
            }
            with self._lock:  # manifest appends serialize; partition jobs don't
                buffer.append(row)
                if len(buffer) >= flush_every:
                    self._write_rows(buffer)
                    buffer.clear()

        def fp_of(pv) -> str:
            return str(input_fp(pv)) if input_fp is not None else ""

        def run_one(pv):
            t0 = time.time()
            try:
                fp = fp_of(pv)
            except Exception as e:
                record(pv, 0, 0, t0, "", status="error")
                return pv, ("error", str(e))
            if str(pv) in done and (fp == "" or done[str(pv)] == fp):
                return pv, ("skipped", None)
            try:
                df = build(pv)
            except Exception as e:
                record(pv, 0, 0, t0, fp, status="error")
                return pv, ("error", str(e))
            try:
                m = self._write_partition(df, out_root, partition_col, pv)
            except Exception as e:
                # one bad partition must not kill a 20-source backfill:
                # record it (status='error' rows never satisfy resume, so
                # the next run retries it) and keep going
                record(pv, 0, 0, t0, fp, status="error")
                return pv, ("error", str(e))
            record(pv, m["row_count"], m["checksum"], t0, fp)
            return pv, ("ok", m["row_count"])

        try:
            with ThreadPoolExecutor(max_workers=max(1, int(max_parallel))) as ex:
                for pv, res in ex.map(run_one, partitions):
                    results[pv] = res
        finally:
            with self._lock:
                if buffer:
                    self._write_rows(buffer)
        return results
