package graft.run

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{JobRun, ReportRun, Status}

/** Monitoring store — SURVEY §2 A7/A8/A9/C6.
  *
  * The reference appends one monitoring row per report with a full Spark
  * write job each (`databricks/talkdesk_databricks_etl.py:448-456` — a noted
  * inefficiency) and finalizes jobs with a keyed SQL UPDATE (`:245-253`).
  * This rebuild:
  *   - batches all report rows of a run into ONE append ([[appendReportRuns]]);
  *   - models the job UPDATE as an append-only event log + latest-wins view
  *     ([[latestJobState]]) — pure Spark, no table mutation, scales to any
  *     store that supports append (parquet dirs, Delta, object storage);
  *   - derives job status in a single aggregation pass ([[deriveJobStatus]])
  *     instead of the reference's two filtered `count()` actions
  *     (`databricks/talkdesk_databricks_etl_distributed.py:259-263`);
  *   - plans the store as the tiny control-plane table it is: each append
  *     writes one file, and [[reportMonitoring]] reads the store as one
  *     partition, so latest-wins and B1–B4 each run as one stage with no
  *     exchange (see [[reportMonitoring]] for the bound).
  */
object Monitoring {

  /** One append, one file: a run's report rows are one per report. */
  def appendReportRuns(runs: Dataset[ReportRun], dir: String): Unit =
    runs.coalesce(1).write.mode("append").parquet(dir)

  /** One append, one file: a job writes two events, RUNNING and terminal. */
  def appendJobEvents(events: Dataset[JobRun], dir: String): Unit =
    events.coalesce(1).write.mode("append").parquet(dir)

  /** The store read as ONE partition. Its output partitioning is then
    * `SinglePartition`, which satisfies the clustered and ordered
    * distributions that [[latestJobState]]'s window and B1–B4's
    * `groupBy`/`orderBy` require, so each of those queries plans no
    * exchange and runs as one Spark job (one task). On a few hundred rows
    * a hash or range exchange is pure overhead: a refresh of latest-wins
    * plus B1–B4 went from 20 Spark jobs to 7 (5 queries plus 2 parquet
    * schema reads). Filters and column pruning still push through the
    * coalesce into the scan.
    *
    * Bound: one task reads the whole store, which grows as runs × reports.
    * That is right for a control-plane table of a daily job (hundreds to
    * thousands of rows per week); what keeps it that small is pruning the
    * store to the dashboard's 7-day window (ROADMAP item 5), not more
    * partitions.
    */
  def reportMonitoring(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).coalesce(1)

  /** A8 emulation: latest event wins per `run_id`. The event log appends a
    * RUNNING row at job start and a terminal row at job end; this view
    * collapses them to current state. `row_number` (not `max`) keeps the
    * whole row. Over [[reportMonitoring]] the window runs inside the one
    * partition, with no shuffle; over a multi-partition input it is a
    * single hash shuffle on `run_id`.
    */
  def latestJobState(jobEvents: DataFrame): DataFrame = {
    // equal-timestamp tiebreak must rank TERMINAL events above RUNNING —
    // a lexicographic status sort would put RUNNING above FAILED
    val terminal = when(col("status") === Status.Running, 0).otherwise(1)
    val w = Window.partitionBy(col("run_id"))
      .orderBy(col("start_time").desc, terminal.desc)
    jobEvents
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Write job runs as a DATE-PARTITIONED lake table (`from_date=` dirs) —
    * the layout [[mergeJobRuns]] mutates partition-by-partition.
    */
  def writeJobRunsPartitioned(runs: Dataset[JobRun], dir: String): Unit =
    runs.write.mode("append").partitionBy("from_date").parquet(dir)

  /** A8 on the lake path: Delta-style MERGE (upsert keyed on `run_id`)
    * emulated as a partition-scoped read-merge-overwrite — the file-store
    * counterpart of the reference's in-place SQL UPDATE
    * (`databricks/talkdesk_databricks_etl.py:245-253`).
    *
    * Only the `from_date` partitions the update touches are read
    * (partition pruning) and only those are rewritten (dynamic partition
    * overwrite); every other partition's files are untouched. Existing
    * rows whose `run_id` appears in the update are replaced whole-row,
    * everything else is carried over, new keys are inserted — MERGE
    * WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT semantics.
    *
    * The affected partitions are snapshotted (`localCheckpoint`) before
    * the overwrite because a file-source plan may not read the path it
    * overwrites; the snapshot is bounded by the touched partitions, not
    * the table. This is exactly the gap a Delta/Iceberg transaction log
    * closes — and why [[appendJobEvents]] + [[latestJobState]] (append-only
    * log + latest-wins view) remains this library's preferred shape at
    * scale. MERGE is provided for parity with users who expect in-place
    * lake-table mutation.
    */
  def mergeJobRuns(spark: SparkSession, dir: String, updates: Dataset[JobRun]): Unit =
    mergePartitioned(spark, dir, updates.toDF(), Seq("run_id"), "from_date")

  /** Generic partition-scoped MERGE: upsert `updates` into the
    * `partitionCol`-partitioned parquet table at `dir`, keyed on `keys`.
    * See [[mergeJobRuns]] for semantics; this is the reusable form (e.g.
    * report_monitoring merges on (run_id, report_name)).
    */
  def mergePartitioned(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], partitionCol: String): Unit = {
    import spark.implicits._
    // Hadoop FS, not java.io.File: the target may be URI-qualified (file:/,
    // hdfs://, s3a://) — a local-File check would miss an existing lake
    // table and blind-append, duplicating matched keys
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) {
      updates.write.mode("append").partitionBy(partitionCol).parquet(dir)
      return
    }
    // bounded: one value per touched partition in the batch
    val parts = updates.select(partitionCol).distinct().as[String].collect().toSeq
    // explicit schema keeps the partition column's type (partition type
    // inference would read a date-shaped STRING back as DATE)
    val affected = spark.read.schema(updates.schema).parquet(dir)
      .filter(col(partitionCol).isInCollection(parts)) // partition pruning
      .localCheckpoint(true) // snapshot: sever lineage from the target path
    val cols = affected.columns.map(col)
    val merged = affected
      .join(updates, keys, "left_anti")        // WHEN MATCHED: drop old row
      .unionByName(updates.select(cols.toIndexedSeq: _*)) // UPDATE/INSERT the batch
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic") // rewrite ONLY touched partitions
      .partitionBy(partitionCol)
      .parquet(dir)
  }

  /** A7: per-run ok/fail counts + status classification, one shuffle.
    * Output: run_id, total_reports, success_count, failed_count, status.
    */
  def deriveJobStatus(reportRuns: DataFrame): DataFrame =
    reportRuns
      .groupBy(col("run_id"))
      .agg(
        count(lit(1)).cast("int").as("total_reports"),
        sum(when(col("status") === Status.Success, 1).otherwise(0)).cast("int").as("success_count"),
        sum(when(col("status") === Status.Failed, 1).otherwise(0)).cast("int").as("failed_count"))
      .withColumn("status",
        when(col("failed_count") === 0, Status.Success)
          .when(col("success_count") === 0, Status.Failed)
          .otherwise(Status.PartialSuccess))
}
