package graft.io

import graft.cdc.{Merge, Op, TableConfig}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-based CDC load jobs: the Spark-native re-expression of the
  * reference's LoadInitial and LoadIncremental
  * (/root/reference/DMSCDC_LoadInitial.py:28-36,
  * /root/reference/DMSCDC_LoadIncremental.py:41-87).
  *
  * Differences from the reference, all semantics-preserving (SURVEY.md §7.4):
  *  - ordering: the reference orders change rows by lexicographic
  *    `input_file_name()` with undefined intra-file order; we derive a dense
  *    numeric `file_seq` from the sorted file names (same total order) and
  *    break intra-file ties with `_metadata.row_index` — fully deterministic
  *    under multi-split parallel reads;
  *  - provenance: `_metadata.file_path` instead of `input_file_name()`
  *    (survives joins/unions robustly);
  *  - impacted-file row selection (reference J2 join) runs as an InSet
  *    filter of the tiny collected file list — no extra shuffle or join of
  *    the target.
  *
  * Scale: one PK-hash shuffle for the window (inherent to latest-wins), one
  * broadcast semi-join, no driver materialization except the impacted-file
  * *name* list (reference Y3 — bounded by file count, not rows).
  */
object CdcPipeline {

  /** @param mergedOutput set only when the caller asked [[mergeTagged]]
    *   to `retainOutput`: the post-merge rows of every impacted file —
    *   a superset of the batch keys' live post-merge rows (impacted =
    *   files holding batch keys, so every surviving batch key is here).
    *   Eagerly local-checkpointed (batch+bystander-sized, lineage cut
    *   BEFORE the copy-on-write delete invalidates the files it read);
    *   the caller owns the unpersist. */
  final case class MergeStats(rowsWritten: Long, impactedFiles: Seq[String], insertOnly: Boolean,
                              mergedOutput: Option[DataFrame] = None)

  /** Optional change-data-feed sidecar for [[mergeTagged]]: per-operation
    * pre/post image rows ([[graft.cdc.ChangeFeed]]) written under `path`
    * for the tracked columns. Written only on the PK merge path —
    * insert-only loads (no PK, or first load) are snapshots, not change
    * streams, and emit no feed. With a `batchTag`, each batch writes its
    * own `batch_id=<id>` partition and a completed partition is never
    * rewritten, so at-least-once replays leave exactly one copy with the
    * original pre-images (effectively exactly-once for the feed); without
    * a tag the write is a plain append and replays duplicate. */
  final case class ChangeFeedSink(path: String, trackCols: Seq[String],
                                  batchTag: Option[Long] = None)

  /** Provenance columns a tagged change batch carries (stripped pre-write). */
  val SrcFile = "__src_file"
  val RowIdx = "__row_idx"
  private val TgtFile = "__tgt_file"
  /** Partition column of the replay-guarded no-PK append (source file
    * basename — the idempotent-overwrite unit). */
  val IngestFile = "__ingest_file"

  /** If every row of `tagged` provably carries the SAME literal
    * [[SrcFile]] (the `withColumn(SrcFile, lit(name))` tag all
    * synthesized micro-batches use), return it — the file_seq derivation
    * then needs no scan. Conservative: walks only row-preserving nodes
    * (Project/Filter/alias/sort/limit); a Union, Join or anything else
    * returns None and the caller pays the distinct.
    *
    * Contract note: the literal is read WITHOUT evaluating the frame, so
    * a ZERO-ROW literal-tagged batch looks like a one-file batch here
    * and runs the whole merge (a no-op commit — correct, but a wasted
    * write). Callers synthesizing literal-tagged batches guard with
    * `batch.isEmpty` first (every streaming ingest path does); checking
    * emptiness here would re-add the very action this fast path
    * removes. */
  private[io] def literalSrcFile(tagged: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.types.StringType
    @annotation.tailrec
    def walk(plan: LogicalPlan): Option[String] = plan match {
      case p: Project =>
        p.projectList.find(_.name == SrcFile) match {
          case Some(a: Alias) => a.child match {
            case Literal(s, StringType) if s != null => Some(s.toString)
            case _ => None
          }
          case _ => walk(p.child) // passthrough attribute (or absent): look below
        }
      case f: Filter => walk(f.child)
      case s: SubqueryAlias => walk(s.child)
      case s: Sort => walk(s.child)
      case l: GlobalLimit => walk(l.child)
      case l: LocalLimit => walk(l.child)
      case _ => None
    }
    walk(tagged.queryExecution.analyzed)
  }

  /** Change-file reader: parquet (the reference's DMS target) plus csv and
    * json (DMS's other S3 target formats). Non-parquet formats infer
    * schemas and carry a header row for csv. */
  private def readChangeFiles(spark: SparkSession, files: Seq[String], format: String): DataFrame =
    format match {
      case "parquet" => spark.read.parquet(files: _*)
      case "csv" => spark.read.option("header", "true").option("inferSchema", "true").csv(files: _*)
      case "json" => spark.read.json(files: _*)
      case other => throw new IllegalArgumentException(s"unsupported change-file format: $other")
    }

  /** S1+P1+S5: full-snapshot load — read `LOAD*` files, tag `Op='I'`,
    * overwrite target (DMSCDC_LoadInitial.py:28-36). */
  def loadInitial(spark: SparkSession, loadFiles: Seq[String], outPath: String,
                  cfg: TableConfig, format: String = "parquet"): Long = {
    require(loadFiles.nonEmpty, "no snapshot files")
    val snap0 = readChangeFiles(spark, loadFiles, format)
    val snap = if (snap0.columns.contains(Op.column)) snap0 else Merge.tagInitial(snap0)
    // Count via observed metrics ON the write pass — a count() after the
    // write would re-scan the whole snapshot a second time just for stats.
    val obs = org.apache.spark.sql.Observation()
    CowWriter.writeInitial(snap.observe(obs, count(lit(1)).as("n")), outPath, cfg.partitionKeys)
    obs.get("n").asInstanceOf[Long]
  }

  /** Merge-on-read twin of [[loadInitial]]: the snapshot becomes MOR
    * commit 0 (config `mergeOnRead`; see [[MorTable]]). */
  def loadInitialMor(spark: SparkSession, loadFiles: Seq[String], outPath: String,
                     format: String = "parquet"): Long = {
    require(loadFiles.nonEmpty, "no snapshot files")
    val snap0 = readChangeFiles(spark, loadFiles, format)
    val snap = if (snap0.columns.contains(Op.column)) snap0 else Merge.tagInitial(snap0)
    val obs = org.apache.spark.sql.Observation()
    MorTable.init(spark, snap.observe(obs, count(lit(1)).as("n")), outPath)
    obs.get("n").asInstanceOf[Long]
  }

  /** Merge-on-read twin of [[loadIncremental]]: the same tagged change
    * batch commits through [[MorTable.mergeTagged]] — append-only
    * winners + equality-delete sidecar instead of the copy-on-write
    * rewrite. `rowsWritten` counts the appended winners (driver-side
    * footer reads of the new batch dir, no Spark job); `impactedFiles`
    * is empty by construction: no stored file is ever rewritten. */
  def loadIncrementalMor(spark: SparkSession, cdcFiles: Seq[String], outPath: String,
                         cfg: TableConfig, format: String = "parquet"): MergeStats = {
    require(cdcFiles.nonEmpty, "no change files")
    require(cfg.hasPrimaryKey, "merge-on-read requires primary keys; " +
      "no-PK tables stay on the insert-only copy-on-write path")
    val base = readChangeFiles(spark, cdcFiles, format)
      .withColumn(SrcFile, col("_metadata.file_path"))
    val tagged =
      if (format == "parquet") base.withColumn(RowIdx, col("_metadata.row_index"))
      else base.withColumn(RowIdx,
        struct(col("_metadata.file_block_start"), monotonically_increasing_id()))
    val b = MorTable.mergeTagged(spark, tagged, outPath, cfg.primaryKeys,
      updateWhen = cfg.updateWhen.map(org.apache.spark.sql.functions.expr))
    MergeStats(morBatchRows(spark, outPath, b), Nil, insertOnly = false)
  }

  /** Appended-row count of one MOR commit — driver-side footer reads of
    * the batch dir, no Spark job; an ALL-DELETE batch appends nothing
    * (a zero-row or partless dir) and counts 0. */
  private def morBatchRows(spark: SparkSession, outPath: String, b: Long): Long =
    ParquetFooters.partRowCounts(spark, Seq(s"$outPath/data/batch=$b")).sum

  /** The flagship: incremental latest-wins merge with copy-on-write rewrite
    * (DMSCDC_LoadIncremental.py:41-87). */
  def loadIncremental(spark: SparkSession, cdcFiles: Seq[String], outPath: String,
                      cfg: TableConfig, format: String = "parquet"): MergeStats = {
    require(cdcFiles.nonEmpty, "no change files")
    // Explicit file-list scan (S2): the watermark listing already did the
    // file pruning — Spark never sees already-processed files.
    // Intra-file order: `_metadata.row_index` is parquet-only. csv/json
    // files are line-ordered but Spark MAY split a large file across tasks
    // (maxPartitionBytes) and bin-pack splits by size, so scan order alone
    // is not the line order. A (file_block_start, monotonically_increasing
    // _id) struct is: splits of one file order by their byte offset, and
    // within a split the id is assigned in scan (= line) order. Struct
    // ordering is lexicographic, so this sorts correctly as ONE column.
    val base = readChangeFiles(spark, cdcFiles, format)
      .withColumn(SrcFile, col("_metadata.file_path"))
    val tagged =
      if (format == "parquet") base.withColumn(RowIdx, col("_metadata.row_index"))
      else base.withColumn(RowIdx,
        struct(col("_metadata.file_block_start"), monotonically_increasing_id()))
    mergeTagged(spark, tagged, outPath, cfg)
  }

  /** Merge a change batch whose rows carry ([[SrcFile]], [[RowIdx]])
    * provenance. Shared by the batch path above and the Structured
    * Streaming `foreachBatch` path ([[graft.streaming.CdcStream]]).
    *
    * `onRetained` (requires `retainOutput`) runs the caller's follow-up
    * work CONCURRENTLY with this merge's own write+delete tail, fed the
    * retained (eagerly checkpointed) merge output — the §2.6 overlap for
    * derived-table maintenance ([[graft.streaming.JoinViewStream]]): the
    * follow-up must read ONLY the handed frame (stable — lineage already
    * cut) and other tables, never `outPath`, which is mid-rewrite while
    * it runs. Crash contract is unchanged in kind: a failure on either
    * side leaves the two tables torn exactly like a crash between the
    * sequential writes did, and the streaming replay converges both. */
  private[graft] def mergeTagged(spark: SparkSession, tagged: DataFrame, outPath: String,
                                 cfg: TableConfig,
                                 changeFeed: Option[ChangeFeedSink] = None,
                                 retainOutput: Boolean = false,
                                 onRetained: Option[DataFrame => Unit] = None): MergeStats = {
    require(onRetained.isEmpty || retainOutput,
      "onRetained rides the retained-output merge path")
    import spark.implicits._

    // Dense numeric file_seq from sorted names = the reference's
    // lexicographic sortpath order (file name = commit order), 1-based so
    // the target sentinel 0 sorts first. Tiny map → broadcast join.
    // Synthesized micro-batches (foreachBatch deliveries, view-CDC
    // batches) tag every row with ONE literal file name — read it off
    // the analyzed plan instead of paying a scan+distinct job to
    // rediscover it; multi-file batches (the file pipeline) keep the
    // distinct. file_seq=1 for a single file either way.
    val files = literalSrcFile(tagged) match {
      case Some(f) => Seq(f)
      case None => tagged.select(SrcFile).distinct().as[String].collect().sorted.toSeq
    }
    if (files.isEmpty) return MergeStats(0L, Nil, insertOnly = false)
    val seqDf = files.zipWithIndex.map { case (f, i) => (f, (i + 1).toLong) }
      .toDF(SrcFile, Merge.FileSeq)
    val changes = tagged.join(broadcast(seqDf), SrcFile)

    // S4: target-existence probe.
    val p = new Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tgtExists = fs.exists(p) && fs.listStatus(p).nonEmpty

    if (!cfg.hasPrimaryKey) {
      // P3: no-PK tables are insert-only appends (reference semantics,
      // README.md:208-220 — not idempotent under replay, documented). Row
      // count comes from observed metrics on the write itself (a count()
      // after the write would re-read and re-transform the whole batch).
      val obs = org.apache.spark.sql.Observation()
      if (cfg.replayGuard) {
        // Opt-in idempotence without a PK: one hive partition per SOURCE
        // FILE (ahead of any configured partition keys), written with
        // dynamic partition overwrite. A file's insert rows are a
        // deterministic function of the file alone — no target state in
        // the plan — so a replayed file REWRITES its partition with
        // identical content instead of appending a second copy, whatever
        // batch regrouping the retry used. Cost: a directory level per
        // CDC file (compaction merges them).
        val guarded = Merge.insertOnly(changes)
          .withColumn(IngestFile, element_at(split(col(SrcFile), "/"), -1))
          .drop(SrcFile, RowIdx, Merge.FileSeq)
          .observe(obs, count(lit(1)).as("n"))
        guarded.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(IngestFile +: cfg.partitionKeys: _*)
          .parquet(outPath)
      } else {
        val output = Merge.insertOnly(changes).drop(SrcFile, RowIdx, Merge.FileSeq)
        CowWriter.appendMerged(output.observe(obs, count(lit(1)).as("n")), outPath, cfg.partitionKeys)
      }
      MergeStats(obs.get("n").asInstanceOf[Long], Nil, insertOnly = true)
    } else if (cfg.mergeOnRead) {
      // Merge-on-read routing for the SHARED tagged-batch path — the
      // same TableConfig switch drives the batch pipeline, CdcStream
      // .start, and GraftLake.syncStreaming (GraftLakeSpec proves the
      // streaming manager with mergeOnRead converges to the batch
      // Controller's lake). Commits are O(batch): winners + equality-
      // delete sidecar, zero target I/O (see [[MorTable.merge]]).
      require(changeFeed.isEmpty,
        "the change-feed sidecar is a copy-on-write surface; merge-on-read " +
          "derives its feed from commit structure (MorTable.commitDiff)")
      val pks = cfg.primaryKeys
      val initialized = tgtExists && MorTable.committedBatches(spark, outPath).nonEmpty
      val b =
        if (!initialized) {
          // stream delivered before any LOAD snapshot: commit 0 is the
          // latest-wins fold of the first batch over an empty target —
          // the same strict-improvement-over-reference first-batch
          // semantics as the CoW path below
          val sequenced = Merge.sequenceBatch(changes, pks, Seq(col(RowIdx)))
            .drop(SrcFile, RowIdx)
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            changes.drop(SrcFile, RowIdx, Merge.FileSeq).schema)
          MorTable.init(spark, Merge.applySequenced(empty, sequenced, pks), outPath)
          0L
        } else MorTable.merge(spark, changes, outPath, pks,
          intraFileOrder = Seq(col(RowIdx)),
          provenanceCols = Seq(SrcFile, RowIdx),
          updateWhen = cfg.updateWhen
            .map(org.apache.spark.sql.functions.expr))
      MergeStats(morBatchRows(spark, outPath, b), Nil, insertOnly = false)
    } else {
      val pks = cfg.primaryKeys
      // First-ever load of a PK table: merge against an EMPTY target
      // instead of the reference's insert-only filter
      // (DMSCDC_LoadIncremental.py:49-57). The reference behavior SILENTLY
      // DROPS updates/deletes when the first processed batch spans several
      // change files (a backlogged stream folds many files into trigger 0)
      // — latest-wins over an empty target applies them instead, and for
      // an all-inserts batch the two are identical. A documented
      // strict-improvement delta, like row_number-vs-rank (SURVEY §7.4).
      //
      // mergeSchema (existing target): after an evolving merge the lake
      // holds mixed footers (rewritten files carry new columns, untouched
      // files don't); plain inference picks one footer and would silently
      // drop bystander values of evolved columns on the next rewrite
      // (EvolutionSpec).
      val target =
        if (!tgtExists)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            changes.drop(SrcFile, RowIdx, Merge.FileSeq).schema)
            .withColumn(TgtFile, lit(null).cast("string"))
        else spark.read.option("mergeSchema", "true").parquet(outPath)
          .withColumn(TgtFile, col("_metadata.file_path"))

      // W1: sequence the batch (rownum per key by file order + row order).
      val sequenced = Merge.sequenceBatch(changes, pks, Seq(col(RowIdx)))
        .drop(SrcFile, RowIdx)

      // J1+A1+Y3: impacted target files — the only driver materialization,
      // bounded by file count. Collected once and reused for both the
      // row selection and the delete (SURVEY.md §3.3 collect-then-reuse note).
      val impacted: Seq[String] = target
        .join(sequenced.select(pks.map(col): _*).distinct(), pks, "left_semi")
        .select(TgtFile).distinct().as[String].collect().toSeq.sorted

      // J2 as a filter: all rows of impacted files (changed rows + innocent
      // bystanders that must be rewritten). The file list is tiny → InSet
      // probe, no shuffle, no second scan of changes.
      val impactedRows = target
        .where(col(TgtFile).isin(impacted: _*))
        .drop(TgtFile)

      // Change-feed sidecar: computed from the SAME sequenced batch and
      // impacted rows the merge uses (keys outside the batch emit no feed
      // rows, so the impacted subset is sufficient for pre-images), and
      // written BEFORE the copy-on-write delete invalidates the target
      // files it reads.
      changeFeed.foreach { sink =>
        val feed = graft.cdc.ChangeFeed.feedSequenced(
          impactedRows, sequenced, pks, sink.trackCols)
        sink.batchTag match {
          case Some(id) =>
            // Idempotent per-batch write: the micro-batch owns the
            // hive-style partition dir `batch_id=<id>`. A replay that
            // finds the partition COMPLETE (_SUCCESS present) skips the
            // write — preserving the ORIGINAL pre-images, which a
            // recompute after the merge landed could not reproduce
            // (*_old would read post-merge values) — while a partial
            // write from a crash mid-append is overwritten whole. The
            // batch partition doubles as the consumer's incremental-read
            // prune key.
            val part = new Path(sink.path, s"batch_id=$id")
            val pfs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (!pfs.exists(new Path(part, "_SUCCESS")))
              feed.write.mode("overwrite").parquet(part.toString)
          case None =>
            feed.write.mode("append").parquet(sink.path)
        }
      }

      // U1+W2+P4-P6: latest-wins merge of batch into impacted rows —
      // whole-row by default, per-column IGNORE-NULLS patch folds when
      // the table opted into patchUpdates (same exchange either way).
      val output =
        if (cfg.patchUpdates) Merge.patchApplySequenced(impactedRows, sequenced, pks)
        else cfg.updateWhen match {
          // conditional MERGE clauses from config text (aliases t/c) —
          // one switch drives batch Controller and streaming foreachBatch
          case Some(guard) => Merge.mergeConditionalSequenced(
            impactedRows, sequenced, pks, org.apache.spark.sql.functions.expr(guard))
          case None => Merge.applySequenced(impactedRows, sequenced, pks)
        }

      if (retainOutput) {
        // EAGER localCheckpoint (not persist): the lineage must be cut
        // before the copy-on-write delete below invalidates the target
        // files the plan reads (a persisted block evicted after the
        // delete would recompute from missing files). The checkpoint is
        // the single evaluation; count/write read its blocks.
        val kept = output.localCheckpoint(true)
        val n = kept.count()
        def tail(): Unit = {
          CowWriter.appendMerged(kept, outPath, cfg.partitionKeys)
          CowWriter.deleteFiles(impacted, spark.sparkContext.hadoopConfiguration)
          spark.catalog.refreshByPath(outPath)
        }
        onRetained match {
          // the caller's follow-up reads only `kept` (checkpointed) and
          // OTHER tables — overlap it with this table's write+delete.
          // On failure the caller never sees MergeStats, so release the
          // checkpoint here (no block leak across streaming retries).
          case Some(f) =>
            try graft.io.Overlap.awaitAll(Seq(() => tail(), () => f(kept)))
            catch { case t: Throwable =>
              kept.unpersist(blocking = false); throw t }
          case None => tail()
        }
        MergeStats(n, impacted, insertOnly = false, mergedOutput = Some(kept))
      } else {
        // ONE pass: the row count rides the write as an observed metric
        // (the loadInitial pattern) — the merge plan runs exactly once,
        // with no cache and no separate count job.
        val obs = org.apache.spark.sql.Observation()
        CowWriter.appendMerged(output.observe(obs, count(lit(1)).as("n")),
          outPath, cfg.partitionKeys)
        // C6: copy-on-write — drop the superseded files.
        CowWriter.deleteFiles(impacted, spark.sparkContext.hadoopConfiguration)
        // The write refreshed cached listings for the path, but the deletes
        // after it did not: a reader planned from the stale cache would hit
        // FILE_NOT_EXIST on the dropped files. Invalidate once, here.
        spark.catalog.refreshByPath(outPath)
        MergeStats(obs.get("n").asInstanceOf[Long], impacted, insertOnly = false)
      }
    }
  }
}
