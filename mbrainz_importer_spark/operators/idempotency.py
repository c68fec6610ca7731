"""Exactly-once idempotent batch loading (SURVEY.md §2.1 K2/K3, §2.7, §3.3).

The reference's protocol (cognitect/xform/batch.clj:42-60,93-101;
importer.clj:298-316):

  1. query the target for already-loaded batch ids       (already-transacted)
  2. anti-join the incoming batch stream against them    (filter-batches, J5)
  3. write each batch with its batch-id asserted atomically WITH the data
     (`(cons batch-ident data)` — same transaction)
  4. a concurrent-duplicate conflict is swallowed as already-applied

Spark-first realization: the batch_id is a COLUMN on every row, so a
parquet append of a batch carries its id atomically with its data (one
file-commit per job); restart recomputes the done-set from the sink itself.
Partial-job failures are handled by Spark's output-committer (uncommitted
task files are invisible), so the done-set only ever contains fully
committed batches. This is the canonical `foreachBatch` idempotent-sink
recipe in batch clothing, and it needs no retry/backoff of its own — task
retries (`spark.task.maxFailures`) + committer atomicity replace the
reference's busy/unavailable/429/503 backoff loop (batch.clj:62-91), which
only exists because its sink is a remote transactor. For sinks that DO
commit per call (JDBC/REST/transactor via foreachBatch), that loop is
back in `operators/retry.py` with the same classification and
conflict-swallow semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

BATCH_ID_COL = "batch_id"


@dataclass
class IdempotentParquetSink:
    """Append-only parquet table keyed by an embedded batch_id column."""

    path: str

    def done_ids(self, spark: SparkSession) -> DataFrame:
        """already-transacted (batch.clj:46-60): distinct batch ids present
        in the sink. Column-pruned scan — only batch_id pages are read."""
        try:
            return spark.read.parquet(self.path).select(BATCH_ID_COL).distinct()
        except AnalysisException:  # sink does not exist yet
            return spark.createDataFrame([], f"{BATCH_ID_COL} string")

    def filter_new(self, batches: DataFrame, spark: SparkSession) -> DataFrame:
        """filter-batches (batch.clj:42-44): drop already-loaded batches.
        The done-set is small (one id per 100 entities) — broadcast anti."""
        done = self.done_ids(spark)
        return batches.join(
            F.broadcast(done), on=BATCH_ID_COL, how="left_anti"
        )

    def load(self, batches: DataFrame, spark: SparkSession) -> dict:
        """load-parallel analog (batch.clj:115-135): write all not-yet-done
        batches; parallelism is partition-level. Returns
        {'txes': n_batches_written, 'datoms': n_rows_written} — the
        reference's result fold (G8).

        The not-yet-done rows are persisted for the call: the stats
        aggregate computes them once and every append reads them back, so
        the input plan (and the anti-join) runs once, not once per action."""
        todo = self.filter_new(batches, spark).persist()
        try:
            stats = todo.agg(
                F.countDistinct(BATCH_ID_COL).alias("txes"),
                F.count(F.lit(1)).alias("datoms"),
            ).collect()[0]
            if stats["txes"]:
                self._append(todo)
            return {"txes": stats["txes"], "datoms": stats["datoms"]}
        finally:
            todo.unpersist()

    def _append(self, todo: DataFrame) -> None:
        """Commit the new batches (one committer-atomic append)."""
        todo.write.mode("append").parquet(self.path)


def load_envelopes(
    sink: IdempotentParquetSink, envelopes: DataFrame, spark: SparkSession
) -> dict:
    """Load envelope-shaped batches (batch_id, data array<struct>) by
    exploding members back to rows with the batch_id column attached."""
    rows = envelopes.select(
        F.col(BATCH_ID_COL), F.explode("data").alias("m")
    ).select(BATCH_ID_COL, "m.*")
    return sink.load(rows, spark)


@dataclass
class TxMetadataParquetSink(IdempotentParquetSink):
    """IdempotentParquetSink + a transaction-metadata table — the faithful
    model of the reference asserting the batch-id ON the transaction
    entity itself (`{:db/id "datomic.tx" tx-attr "prefix-N"}`,
    cognitect/xform/batch.clj:36-37): one tx row per committed batch,
    in its own table, not just a column on the facts.

    Scale win: the done-set query reads the TX table — O(batches) rows —
    instead of column-scanning batch_id over the whole fact sink
    (O(datoms) pages at 100 TB).

    Commit protocol (parquet has no cross-table transaction):
      1. `heal`: any batch present in DATA but missing from TX was
         committed by a run that crashed between the two appends (each
         append is committer-atomic, so its presence means ALL its rows
         are there) — register it in TX. One column-pruned data scan per
         RESTART, not per batch.
      2. anti-join incoming batches against the TX done-set;
      3. append data (commit point for the facts);
      4. append tx rows (commit point for the done-set).
    A crash at any step re-runs to the same final state: between 3 and 4
    the next heal registers; before 3 nothing is visible."""

    tx_path: str = ""

    def __post_init__(self):
        if not self.tx_path:
            self.tx_path = self.path.rstrip("/") + "_tx"

    def tx_table(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.parquet(self.tx_path)
        except AnalysisException:
            return spark.createDataFrame(
                [], f"{BATCH_ID_COL} string, n_datoms long"
            )

    def done_ids(self, spark: SparkSession) -> DataFrame:
        """Done-set from the tx table (tiny), NOT the fact sink."""
        return self.tx_table(spark).select(BATCH_ID_COL).distinct()

    def data_ids(self, spark: SparkSession) -> DataFrame:
        """Batch ids actually present in the fact sink (column-pruned)."""
        return super().done_ids(spark)

    def heal(self, spark: SparkSession) -> int:
        """Register data-committed batches missing from the tx table
        (crash between data append and tx append). Returns #healed."""
        missing = self.data_ids(spark).join(
            F.broadcast(self.done_ids(spark)), on=BATCH_ID_COL, how="left_anti"
        )
        if missing.isEmpty():
            return 0
        rows = (
            spark.read.parquet(self.path)
            .join(F.broadcast(missing), on=BATCH_ID_COL)
            .groupBy(BATCH_ID_COL)
            .agg(F.count(F.lit(1)).alias("n_datoms"))
        )
        n = rows.count()
        rows.write.mode("append").parquet(self.tx_path)
        return n

    def load(self, batches: DataFrame, spark: SparkSession) -> dict:
        self.heal(spark)
        return super().load(batches, spark)

    def _append(self, todo: DataFrame) -> None:
        """Data append, then tx append — both read the persisted rows."""
        super()._append(todo)
        tx_rows = todo.groupBy(BATCH_ID_COL).agg(
            F.count(F.lit(1)).alias("n_datoms")
        )
        tx_rows.write.mode("append").parquet(self.tx_path)
