"""Sinks (SURVEY §2.1 S6).

The reference writes one pretty JSON file per patient
(load/file_system_loader.rs:68-98) — anti-scale (SURVEY §7.3).  Default here
is sharded JSONL (one part per task, id-keyed rows); the per-file mode stays
for cohort-sized outputs, implemented with ``foreachPartition`` so the
driver never materializes packets.
"""

from __future__ import annotations

import json
import os
from urllib.parse import quote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_jsonl(packets: DataFrame, path: str) -> None:
    """Scale path: sharded JSONL of the ``packet_json`` strings."""
    packets.select("packet_json").write.mode("overwrite").text(path)


def write_file_per_subject(packets: DataFrame, out_dir: str) -> None:
    """S6 faithful mode: one ``{subject_id}.json`` per ``(subject_id,
    packet_json)`` row, pretty-printed (~ file_system_loader.rs:68-98).
    Executor-side ``foreachPartition`` — no driver collect."""
    os.makedirs(out_dir, exist_ok=True)

    def _safe_basename(sid) -> str:
        # subject ids are arbitrary strings from data: percent-encode each
        # UTF-8 byte outside [A-Za-z0-9._~-] ('/', '%', control chars) and
        # the dots of an all-dot id, so no name escapes out_dir and
        # distinct ids never share a file
        enc = quote(str(sid), safe="")
        return enc.replace(".", "%2E") if set(enc) <= {"."} else enc

    def write_part(rows):
        for row in rows:
            obj = json.loads(row["packet_json"])
            fname = os.path.join(out_dir, f"{_safe_basename(row['subject_id'])}.json")
            with open(fname, "w") as f:
                json.dump(obj, f, indent=2, sort_keys=False)

    packets.select("subject_id", "packet_json").foreachPartition(write_part)


def write_parquet_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                              mode: str = "overwrite") -> None:
    """General columnar sink with partition pruning for downstream readers."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def merge_upsert_sink(keyed: DataFrame, target_dir: str, key_col: str,
                      checkpoint_dir: str, seq_col: str | None = None):
    """Streaming upsert sink: ``foreachBatch`` merge of each micro-batch
    into a keyed parquet target — latest row per key wins (by ``seq_col``
    when given, else batch arrival).

    This is the exactly-once pattern for plain parquet: foreachBatch gives
    at-least-once batch delivery, and the merge is idempotent (re-applying
    a batch yields the same target), so replays after failure are safe.
    The merge itself is one anti-join + union + overwrite — no driver-side
    rows.  At 100 TB you'd point this at a table format with real MERGE
    (Delta/Iceberg); the operator shape is identical.

    Returns the StreamingQuery (caller awaits/stops)."""
    from pyspark.sql import functions as F

    spark = keyed.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        # last row per key within the batch
        if seq_col:
            from pyspark.sql.window import Window

            w = Window.partitionBy(key_col).orderBy(F.col(seq_col).desc())
            batch = (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            batch = batch.dropDuplicates([key_col])
        if os.path.isdir(target_dir) and any(
            f.endswith(".parquet") for f in os.listdir(target_dir)
        ):
            current = spark.read.parquet(target_dir)
            keep = current.join(
                F.broadcast(batch.select(key_col)), key_col, "left_anti"
            )
            merged = keep.unionByName(batch)
        else:
            merged = batch
        # overwrite via a staging dir: parquet has no transactional replace
        staging = target_dir.rstrip("/") + "._staging"
        merged.write.mode("overwrite").parquet(staging)
        import shutil

        if os.path.isdir(target_dir):
            shutil.rmtree(target_dir)
        os.replace(staging, target_dir)

    return (
        keyed.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cdc_apply_sink(changes: DataFrame, target_dir: str, key_cols: list[str],
                   payload_cols: list[str], checkpoint_dir: str,
                   seq_col: str = "seq", op_col: str = "op"):
    """Streaming CDC sink: ``foreachBatch`` applies each micro-batch of
    I/U/D changes to the keyed parquet target through
    :func:`~phenoxtract_spark.operators.cdc.cdc_apply` — the full MERGE
    semantics (update / insert / DELETE) that
    :func:`merge_upsert_sink` lacks.

    Idempotence argument (exactly-once over at-least-once delivery):
    within one batch last-writer-wins by ``seq_col`` collapses replayed
    rows; re-applying an already-applied batch maps every key to the
    state it is already in (U/I overwrite with the same payload, D
    deletes an absent key = no-op), so failure replays converge.  Same
    staging-dir overwrite as the upsert sink; at 100 TB the batch body
    becomes a real MERGE INTO on a table format — the operator shape is
    identical.  Returns the StreamingQuery."""
    from ..operators.cdc import cdc_apply

    spark = changes.sparkSession

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if os.path.isdir(target_dir) and any(
            f.endswith(".parquet") for f in os.listdir(target_dir)
        ):
            base = spark.read.parquet(target_dir)
        else:
            base = spark.createDataFrame(
                [],
                batch.select(*key_cols, *payload_cols).schema,
            )
        merged = cdc_apply(base, batch, key_cols, payload_cols, seq_col, op_col)
        staging = target_dir.rstrip("/") + "._staging"
        merged.write.mode("overwrite").parquet(staging)
        import shutil

        if os.path.isdir(target_dir):
            shutil.rmtree(target_dir)
        os.replace(staging, target_dir)

    return (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
