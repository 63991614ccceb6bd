"""Incremental Bronze→Silver ingestion via Structured Streaming.

Replaces the reference's JSON processed-file ledger
(``/root/reference/storage/local_storage.py:74-104`` + the discover/commit
steps of ``pipeline/bronze_to_silver.py:190-219``) with a Structured Streaming
file source + checkpoint:

* exactly-once end to end: file tracking lives in the checkpoint, and the
  sink write is *idempotent* — each micro-batch overwrites its own
  ``ingest_batch=<batchId>`` partition subtree (``write_silver_batch``), so a
  crash between the Silver write and the checkpoint commit replays the batch
  into the same directory instead of appending duplicates. (The reference
  reprocesses files if it dies between the Silver write and the ledger
  commit, SURVEY.md §3.2 — the crash window is removed here, not relocated.);
* ``Trigger.AvailableNow`` gives the same scheduled-micro-batch cadence as the
  reference's 30-min Airflow DAG, but resumable and transactional;
* each micro-batch runs the same domain cleaner used by batch mode —
  one code path for validation semantics — and runs it once: the batch's
  row count is observed while the Silver write runs, not by a separate
  ``count()`` job that would parse and deduplicate the batch a second time.

At scale this is the Auto-Loader pattern: file listing is incremental,
per-batch volume is bounded by ``maxFilesPerTrigger``, and the Silver write
stays append-only and partition-pruned.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.silver import CLEANERS
from ..schemas import BRONZE_SCHEMAS
from ..sources.writers import write_silver_batch


def run_incremental_ingest(
    spark: SparkSession,
    bronze_root: str,
    silver_root: str,
    checkpoint_root: str,
    domain: str,
    processed_at: str | None = None,
    max_files_per_trigger: int | None = None,
) -> int:
    """Process all not-yet-seen Bronze CSVs for a domain into Silver.

    Returns the number of rows written this invocation. Re-running with the
    same checkpoint and no new files is a no-op (idempotence contract,
    bronze_to_silver.py:198-200).
    """
    processed_at = processed_at or datetime.now(timezone.utc).isoformat()
    cleaner = CLEANERS[domain]
    src = os.path.join(bronze_root, domain)
    checkpoint = os.path.join(checkpoint_root, domain)

    reader = (
        spark.readStream.schema(BRONZE_SCHEMAS[domain])
        .option("header", True)
        .option("mode", "PERMISSIVE")
        # Bronze is a Hive-partitioned tree (year=/month=/day=); recursive
        # lookup reads the leaves without partition-column inference, keeping
        # the stream schema identical to the flat-directory case.
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.csv(src)

    written = {"rows": 0}

    def _sink(batch_df, batch_id: int) -> None:
        rows = Observation()
        cleaned = cleaner(batch_df, processed_at).observe(rows, F.count(F.lit(1)).alias("n"))
        # Idempotent: overwrite of the batchId-keyed subtree, so replay
        # after a crash-before-checkpoint converges instead of duplicating.
        path = write_silver_batch(cleaned, silver_root, domain, batch_id)
        n = rows.get["n"]
        if n:
            written["rows"] += n
        else:
            # An empty batch leaves no Silver directory behind, as if it
            # had never been written.
            shutil.rmtree(path)
            try:
                os.rmdir(os.path.dirname(path))
            except OSError:  # the domain already holds earlier batches
                pass

    query = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return written["rows"]
