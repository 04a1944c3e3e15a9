package graft.streaming

import graft.GraftLake
import graft.cdc.TableConfig
import graft.io.CdcPipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming formulation of the CDC pipeline (SURVEY.md §2.9).
  *
  * The reference is micro-batch streaming by cron (hourly Glue trigger,
  * /root/reference/DMSCDC_CloudTemplate_Source.yaml:77-79) with a
  * hand-rolled lexicographic file watermark. Spark-native, the table's raw
  * dir IS a file stream: `readStream` tracks processed files in the
  * checkpoint (replacing the reference's DynamoDB `LastIncrementalFile`,
  * C4/C8), and every micro-batch replays the identical latest-wins merge in
  * `foreachBatch` — upsert-into-lake is not expressible as a pure streaming
  * sink, which is exactly why the reference rewrites files too.
  *
  * Delivery: the checkpoint gives exactly-once file-set tracking; the merge
  * itself is idempotent for PK tables, so a crash between write and
  * checkpoint commit re-applies harmlessly (at-least-once → effectively
  * exactly-once; the no-PK insert-only caveat of the reference carries
  * over, README.md:208-220).
  */
object CdcStream {

  /** Start a continuous (or catch-up, with `Trigger.AvailableNow`) CDC
    * stream from `tableDir` into `outPath`.
    *
    * @param maxFilesPerTrigger micro-batch size bound — at 100 TB this is
    *   the backpressure knob; each batch's merge cost is proportional to
    *   batch rows + impacted-file rows, not table size.
    * @param maintainEvery for merge-on-read tables: every N micro-batches,
    *   run the threshold-driven [[graft.io.MorTable.maintainIfNeeded]]
    *   check after the merge (0 = never). When healthy the check is a
    *   listing plus driver-side footer reads, no Spark jobs; a
    *   continuous high-churn stream otherwise accumulates
    *   mask sidecars until an operator notices.
    */
  def start(spark: SparkSession, tableDir: String, outPath: String, cfg: TableConfig,
            checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Int = 100, maintainEvery: Int = 0,
            maxAmplification: Double = GraftLake.DefaultMaxAmplification): StreamingQuery = {
    val schema = sourceSchema(spark, tableDir)
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // DMS CDC files are `2<timestamp>…` (commit-ordered names); LOAD*
      // snapshots are handled by the batch initial load.
      .option("pathGlobFilter", "2*")
      .option("latestFirst", "false")
      .parquet(tableDir)
      .select(col("*"), col("_metadata.file_path").as(SrcFile),
        col("_metadata.row_index").as(RowIdx))

    stream.writeStream
      .queryName(s"cdc-merge-${qualifiedName(outPath)}")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, outPath, cfg)
        maintainTick(batch.sparkSession, outPath, cfg.mergeOnRead,
          cfg.primaryKeys, batchId, maintainEvery, maxAmplification)
      }
      .start()
  }

  /** Every-N-batches MOR maintenance hook for the foreachBatch sinks:
    * after the merge commits, run the threshold check (compact+vacuum
    * only when the amplification budget is exceeded). Runs AFTER the
    * merge so a replayed micro-batch re-merges first; the maintenance
    * itself is crash-safe by the format's own commit markers. */
  private def maintainTick(spark: SparkSession, outPath: String, mor: Boolean,
                           pks: Seq[String], batchId: Long,
                           maintainEvery: Int, maxAmplification: Double): Unit =
    if (mor && maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
      graft.io.MorTable.maintainIfNeeded(spark, outPath, maxAmplification,
        clusterBy = pks): Unit

  /** [[start]] plus a change-data-feed sidecar: every micro-batch appends
    * its per-operation pre/post image rows ([[graft.cdc.ChangeFeed]]) to
    * `cdfPath`, tagged with the micro-batch id, before merging into the
    * lake — the lakehouse "table_changes()" surface, maintained
    * incrementally by the same stream that maintains the table.
    *
    * Feed delivery is effectively exactly-once: each micro-batch writes
    * its own `batch_id=<id>` partition, and a replay (crash between feed
    * write and checkpoint commit) skips a completed partition — so the
    * log keeps the ORIGINAL pre-images, which a post-merge recompute
    * could not reproduce — and rewrites a partial one whole. Rows within
    * a batch are keyed (pks, change_seq, batch_id).
    *
    * An empty `trackCols` tracks every non-PK data column of the source
    * schema (taken from the same inference the stream needs anyway). */
  def startWithChangeFeed(spark: SparkSession, tableDir: String, outPath: String,
                          cdfPath: String, trackCols: Seq[String], cfg: TableConfig,
                          checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
                          maxFilesPerTrigger: Int = 100): StreamingQuery = {
    require(cfg.hasPrimaryKey, "change feed requires primary keys")
    val schema = sourceSchema(spark, tableDir)
    val tracked =
      if (trackCols.nonEmpty) trackCols
      else schema.fieldNames.toSeq
        .filterNot(c => cfg.primaryKeys.contains(c) || c == graft.cdc.Op.column)
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "2*")
      .option("latestFirst", "false")
      .parquet(tableDir)
      .select(col("*"), col("_metadata.file_path").as(SrcFile),
        col("_metadata.row_index").as(RowIdx))

    stream.writeStream
      .queryName(s"cdc-merge-cdf-${qualifiedName(outPath)}")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val sink = CdcPipeline.ChangeFeedSink(cdfPath, tracked, Some(batchId))
          CdcPipeline.mergeTagged(batch.sparkSession, batch, outPath, cfg,
            changeFeed = Some(sink)): Unit
        }
      }
      .start()
  }

  /** Merge-on-read twin of [[start]]: the identical file stream drives
    * [[graft.io.MorTable.mergeTagged]] per micro-batch — every commit is
    * append-only (batch winners + equality-delete sidecar + commit
    * marker), so streaming into a high-churn table never reads OR
    * rewrites it — per-micro-batch commit cost is O(batch).
    * The caller must have initialized the table ([[graft.io.MorTable
    * .init]] with the LOAD snapshot — the batch initial load, exactly
    * like the CoW path). Crash replay re-applies the batch under a new
    * commit: content-idempotent by latest-wins, physical dead rows swept
    * by the next vacuum (MorTable.mergeTagged scaladoc). */
  def startMor(spark: SparkSession, tableDir: String, outPath: String, pks: Seq[String],
               checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
               maxFilesPerTrigger: Int = 100, maintainEvery: Int = 0,
               maxAmplification: Double = GraftLake.DefaultMaxAmplification,
               updateWhen: Option[String] = None): StreamingQuery = {
    require(pks.nonEmpty, "merge-on-read requires primary keys")
    val schema = sourceSchema(spark, tableDir)
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "2*")
      .option("latestFirst", "false")
      .parquet(tableDir)
      .select(col("*"), col("_metadata.file_path").as(SrcFile),
        col("_metadata.row_index").as(RowIdx))
    stream.writeStream
      .queryName(s"cdc-mor-merge-${qualifiedName(outPath)}")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.io.MorTable.mergeTagged(batch.sparkSession, batch, outPath, pks,
            updateWhen = updateWhen
              .map(org.apache.spark.sql.functions.expr)): Unit
        maintainTick(batch.sparkSession, outPath, mor = true,
          pks, batchId, maintainEvery, maxAmplification)
      }
      .start()
  }

  /** Queue-shaped source adapter — the substitution point for DMS writing
    * to a stream (Kinesis/Kafka) instead of S3 files. Any streaming
    * DataFrame carrying the table's columns plus `Op` and a per-record
    * monotonically increasing `seqCol` (queue offset, shard sequence
    * number, arrival index) drives the IDENTICAL `foreachBatch`
    * latest-wins merge: provenance is synthesized per record, so
    * `mergeTagged`'s (file_seq, row_idx) total order degenerates to
    * seqCol order — proving the merge shape has no file-semantics
    * dependency. Exactly-once file-set tracking becomes the source's
    * offset tracking in the same checkpoint. */
  def startFromQueue(stream: DataFrame, seqCol: org.apache.spark.sql.Column,
                     outPath: String, cfg: TableConfig, checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val tagged = stream
      .withColumn(SrcFile, lit("queue"))
      .withColumn(RowIdx, seqCol)
    tagged.writeStream
      .queryName(s"cdc-queue-merge-${qualifiedName(outPath)}")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => mergeBatch(batch, outPath, cfg) }
      .start()
  }

  private val SrcFile = CdcPipeline.SrcFile
  private val RowIdx = CdcPipeline.RowIdx

  // schema/table, not just table: Spark rejects two active queries with the
  // same name, and every schema has its own "orders"
  private def qualifiedName(outPath: String): String = {
    val p = new Path(outPath)
    Option(p.getParent).map(_.getName + "-").getOrElse("") + p.getName
  }

  /** One micro-batch = one incremental merge — delegates to the shared
    * [[graft.io.CdcPipeline.mergeTagged]] (identical semantics to the batch
    * path, file order derived from the batch's own file names). */
  private[streaming] def mergeBatch(batch: DataFrame, outPath: String, cfg: TableConfig): Unit = {
    if (batch.isEmpty) return
    CdcPipeline.mergeTagged(batch.sparkSession, batch, outPath, cfg): Unit
  }

  /** Streaming file sources need an explicit schema; take it from the
    * existing files (the reference infers from Parquet footers the same
    * way, DMSCDC_LoadIncremental.py:47).
    *
    * Infer under the SAME `2*` glob the stream reads (merged across files,
    * so an evolved column in any CDC file is in the stream schema) — an
    * unfiltered read could pick an Op-less LOAD* snapshot footer and fix a
    * schema the merge can't use. If no CDC file exists yet (stream started
    * right after the initial load), fall back to the snapshot schema plus
    * the `Op` marker DMS adds to change records. */
  def sourceSchema(spark: SparkSession, tableDir: String): StructType =
    try spark.read.option("pathGlobFilter", "2*").option("mergeSchema", "true")
      .parquet(tableDir).schema
    catch { case _: org.apache.spark.sql.AnalysisException =>
      val snap = spark.read.option("mergeSchema", "true").parquet(tableDir).schema
      if (snap.fieldNames.contains(graft.cdc.Op.column)) snap
      else StructType(org.apache.spark.sql.types.StructField(
        graft.cdc.Op.column, org.apache.spark.sql.types.StringType) +: snap.fields)
    }
}
