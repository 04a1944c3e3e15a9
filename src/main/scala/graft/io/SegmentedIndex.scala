package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared segment machinery for the persisted content indexes (BM25
  * postings, LSH signatures, IVF vectors): every index row carries the
  * segment number that wrote it, and a small append-only ledger table
  * records one row per committed write.
  *
  * The ledger is what turns the indexes' at-least-once ingestion into
  * exactly-once maintenance (the engine's own delivery model, §2.9):
  *
  *  - **Idempotent appends.** Each write names a `batch_id`; a replayed
  *    batch finds its id in the ledger and no-ops — the same exclusion
  *    contract [[graft.streaming.EmbedDedupStream]] applies per batch,
  *    promoted to the batch index APIs (appending a batch twice ≡ once).
  *  - **Crash resume.** Index data and the ledger are separate parquet
  *    commits; the ledger row goes LAST, so it marks the batch complete.
  *    A crash in between leaves segment-tagged data without a ledger row;
  *    the retry recomputes the same segment number (max ledger seg + 1 —
  *    single writer per index, documented), probes each data table for
  *    that segment (a limit-1 scan: appended files carry a constant
  *    `__seg`, so parquet row-group stats prune to the candidate files),
  *    skips the parts that committed, and finishes the rest.
  *  - **Exact stats.** Ledger rows carry the segment's exact integer
  *    contributions (doc count, token count); current totals are the
  *    ledger sum minus the tombstoned versions — no read-modify-overwrite
  *    of a mutable sidecar (a crashed overwrite corrupted nothing, and
  *    two appends never race a shared row).
  *
  * CDC deletes/updates are TOMBSTONES, not rewrites: a change batch at
  * segment `s` records `(id, below_seg = s)` for every changed id, and
  * readers drop index rows whose `(id, __seg)` satisfies
  * `__seg < max(below_seg)` for their id. An updated document's fresh
  * rows (written at segment `s`) survive their own tombstone; all prior
  * versions die. Maintenance cost is O(change batch), not O(index) — the
  * 100 TB point of the design — and the probe pays one broadcast join
  * against the tombstone set, bounded by churn since the last compaction
  * (which folds tombstones into a fresh segment-0 index).
  */
object SegmentedIndex {

  /** Segment column on every index data row. */
  val SegCol = "__seg"
  /** Ledger batch id used by the initial (overwrite) index build. */
  val BaseBatch = "__base"

  def ledgerTable(table: String): String = table + "_segments"
  def tombstoneTable(table: String): String = table + "_tombstones"

  // ---- generation pointer (crash-atomic compaction commit) ----
  //
  // Compaction rewrites an index family's 3-5 tables; renaming them into
  // place one at a time is not crash-atomic (a crash mid-sequence left a
  // mixed-generation index that PROBED WRONG until rebuilt — the r7
  // verdict's finding). Instead, generation N+1 is fully written under
  // `<table>__g<N+1>`-derived names and COMMITTED by appending one row to
  // the tiny `<table>_gen` pointer table — a single parquet write, the
  // only step that changes what readers resolve. A crash anywhere leaves
  // probes on a COMPLETE generation (old before the append, new after);
  // re-running the compaction converges (same next-gen names, overwrite
  // mode). Old-generation tables drop AFTER the commit, best-effort — a
  // crash there orphans tables, never mixes them.

  /** Pointer table of a logical index name: append-only (gen) rows;
    * the live generation is max(gen), 0 when the pointer is absent
    * (fresh builds write generation 0 under the plain names). */
  def genPointerTable(table: String): String = table + "_gen"

  /** Physical base name of `table` at generation `gen`. */
  def physName(table: String, gen: Long): String =
    if (gen == 0L) table else s"${table}__g$gen"

  def currentGen(spark: SparkSession, table: String): Long = {
    val p = genPointerTable(table)
    if (!spark.catalog.tableExists(p)) 0L
    else {
      spark.catalog.refreshTable(p) // maintenance may run in another session
      spark.table(p).agg(coalesce(max("gen"), lit(0L))).head().getLong(0)
    }
  }

  /** Resolve a LOGICAL index name to its live generation's physical base
    * name. Idempotent on already-physical names (they have no pointer).
    * Every probe/maintenance entry point resolves once, then derives
    * sidecar names from the resolved base. */
  def resolve(spark: SparkSession, table: String): String =
    physName(table, currentGen(spark, table))

  /** Drop the generation pointer — every fresh (overwrite) build calls
    * this first so the rebuilt index resolves to the plain names. Also
    * best-effort drops every `<table>__g<N>`-prefixed physical table
    * (data + sidecars of ALL generations, even ones a crashed cleanup
    * orphaned above the pointer): a fresh build over a previously
    * compacted index would otherwise strand generations ≥ 1 forever —
    * resolve() never returns them once the pointer is gone, so they are
    * pure disk leak. NOTE: resetGen begins a DESTRUCTIVE rebuild — a
    * crash between this sweep and the rebuild's first committed write
    * leaves the index unreadable (whichever drop order: the pointer
    * may still name a dropped generation, or resolve to plain names
    * not yet rewritten) until the rebuild re-runs, which converges;
    * single maintenance writer per index, as everywhere. Readers that
    * must stay live through maintenance use [[compact]]'s
    * crash-atomic generation commit instead — fresh rebuilds are the
    * explicitly-destructive path. */
  def resetGen(spark: SparkSession, table: String): Unit = {
    spark.sql(s"SHOW TABLES LIKE '${table}__g*'").collect()
      .foreach(r => spark.sql(
        s"DROP TABLE IF EXISTS ${r.getAs[String]("tableName")}"))
    spark.sql(s"DROP TABLE IF EXISTS ${genPointerTable(table)}")
  }

  private def commitGen(spark: SparkSession, table: String, gen: Long): Unit = {
    import spark.implicits._
    val p = genPointerTable(table)
    Bucketing.clearOrphanLocation(spark, p)
    Seq(gen).toDF("gen").coalesce(1)
      .write.mode("append").format("parquet").saveAsTable(p)
  }

  /** Full ledger: (seg, batch_id, n_docs, total_tokens, id_col).
    * Resolves `table` through the generation pointer. */
  def ledger(spark: SparkSession, table: String): DataFrame =
    spark.table(ledgerTable(resolve(spark, table)))

  /** Tombstones: (<id_col>, below_seg[, dl]) — schema owned per family.
    * Resolves `table` through the generation pointer. */
  def tombstones(spark: SparkSession, table: String): DataFrame =
    spark.table(tombstoneTable(resolve(spark, table)))

  /** True when `batchId` already committed (its ledger row exists). */
  def hasBatch(spark: SparkSession, table: String, batchId: String): Boolean =
    !ledger(spark, table).where(col("batch_id") === batchId).isEmpty

  /** The segment number the next write must use: max committed + 1.
    * Single writer per index — two concurrent writers could pick the
    * same segment. */
  def nextSeg(spark: SparkSession, table: String): Long =
    ledger(spark, table).agg(max("seg")).head().getLong(0) + 1L

  /** True when `dataTable` already holds rows of `seg` — the
    * crash-resume probe (limit-1; per-append files carry a constant
    * `__seg`, so row-group stats prune the scan). */
  def segPresent(spark: SparkSession, dataTable: String, seg: Long): Boolean =
    !spark.table(dataTable).where(col(SegCol) === seg).limit(1).isEmpty

  /** Overwrite the ledger with the single base row of a fresh build. */
  def initLedger(spark: SparkSession, table: String, idCol: String,
                 nDocs: Long, totalTokens: Long): Unit = {
    import spark.implicits._
    val t = ledgerTable(table)
    Bucketing.clearOrphanLocation(spark, t)
    Seq((0L, BaseBatch, nDocs, totalTokens, idCol))
      .toDF("seg", "batch_id", "n_docs", "total_tokens", "id_col")
      .coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(t)
  }

  /** Append one committed-batch row — the LAST step of every write. */
  def appendLedger(spark: SparkSession, table: String, seg: Long,
                   batchId: String, nDocs: Long, totalTokens: Long,
                   idCol: String): Unit = {
    import spark.implicits._
    Seq((seg, batchId, nDocs, totalTokens, idCol))
      .toDF("seg", "batch_id", "n_docs", "total_tokens", "id_col")
      .coalesce(1).write.mode("append").format("parquet")
      .saveAsTable(ledgerTable(table))
  }

  /** The id column the index was written with (ledger-recorded — probes
    * must not infer it positionally from the data table's layout). */
  def idColOf(spark: SparkSession, table: String): String =
    ledger(spark, table).select("id_col").head().getString(0)

  /** Per-id strongest tombstone, broadcast: (<idCol>, __below). A row
    * (id, __seg) is DEAD iff `__seg < __below`. Bounded by churn since
    * the last compaction. */
  def tombstoneMax(spark: SparkSession, table: String, idCol: String): DataFrame =
    broadcast(tombstones(spark, table)
      .groupBy(idCol).agg(max("below_seg").as("__below")))

  /** Drop dead rows of a segment-tagged frame: broadcast left join on
    * the tombstone maxima (preserves the frame's partitioning — bucketed
    * scans stay exchange-free) + a null-safe survival filter. */
  def dropDead(rows: DataFrame, tombMax: DataFrame, idCol: String): DataFrame =
    rows.join(tombMax, Seq(idCol), "left")
      .where(col(SegCol) >= coalesce(col("__below"), lit(Long.MinValue)))
      .drop("__below")

  // ---- path-based variant (for indexes that are parquet DIRECTORIES,
  // not catalog tables — e.g. the hive-partitioned IVF index). The
  // ledger lives in a SIBLING directory `<dir>_segments` (same naming as
  // the table-backed indexes' `<table>_segments`): index readers never
  // see it by construction, partition overwrites never touch it, and —
  // unlike an underscore-prefixed subdirectory — Spark's source path
  // filter does not silently drop it on read-back.

  private def pathLedgerDir(dir: String): String =
    dir.stripSuffix("/") + "_segments"

  private def pathLedgerExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(pathLedgerDir(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Ledger of a directory index: (seg, batch_id, n_docs). Empty frame
    * when the index has no ledger yet. */
  def pathLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    if (pathLedgerExists(spark, dir)) spark.read.parquet(pathLedgerDir(dir))
    else Seq.empty[(Long, String, Long)].toDF("seg", "batch_id", "n_docs")
  }

  def pathHasBatch(spark: SparkSession, dir: String, batchId: String): Boolean =
    !pathLedger(spark, dir).where(col("batch_id") === batchId).isEmpty

  def pathNextSeg(spark: SparkSession, dir: String): Long =
    pathLedger(spark, dir).agg(coalesce(max("seg"), lit(0L))).head().getLong(0) + 1L

  def pathAppendLedger(spark: SparkSession, dir: String, seg: Long,
                       batchId: String, nDocs: Long): Unit = {
    import spark.implicits._
    Seq((seg, batchId, nDocs)).toDF("seg", "batch_id", "n_docs")
      .coalesce(1).write.mode("append").parquet(pathLedgerDir(dir))
  }

  /** Reset the ledger to the single base row of a fresh build (an index
    * overwrite must not inherit a stale ledger's batch ids). */
  def pathInitLedger(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    import spark.implicits._
    Seq((0L, BaseBatch, nDocs)).toDF("seg", "batch_id", "n_docs")
      .coalesce(1).write.mode("overwrite").parquet(pathLedgerDir(dir))
  }

  // ---- shared lifecycle steps (the four index families' write/append/
  // update methods differ in ROW DERIVATION; the segment mechanics below
  // are identical and live here once) ----

  /** Crash-resume-idempotent bucketed append: tag `rows` with `seg` and
    * append, unless that segment already committed to `physTable` (a
    * retry after the data write but before the ledger row). */
  def appendSegment(spark: SparkSession, physTable: String, rows: DataFrame,
                    bucketCol: String, buckets: Int, seg: Long): Unit =
    if (!segPresent(spark, physTable, seg))
      Bucketing.appendBucketed(rows.withColumn(SegCol, lit(seg)),
        physTable, bucketCol, buckets)

  /** Once-per-segment tombstone append: `rows` must carry
    * `below_seg = seg`; a retry that already wrote this segment's
    * tombstones no-ops (the same crash-resume gate as the data append).
    * The rows are O(changed ids), so they land as ONE file: written with
    * their derivation's partitioning (a bucketed scan's dozens of tasks)
    * every write would add that many files, and every probe reads them
    * all. */
  def tombstoneSegment(spark: SparkSession, physTable: String,
                       rows: => DataFrame, seg: Long): Unit = {
    val tombT = tombstoneTable(physTable)
    if (spark.table(tombT).where(col("below_seg") === seg).limit(1).isEmpty)
      rows.repartition(1).write.mode("append").format("parquet").saveAsTable(tombT)
  }

  /** (Re)create the EMPTY tombstone table of a fresh build/compaction
    * with `template`'s schema. */
  def initTombstones(spark: SparkSession, physTable: String,
                     template: DataFrame): Unit = {
    val tombT = tombstoneTable(physTable)
    Bucketing.clearOrphanLocation(spark, tombT)
    template.limit(0).write.mode("overwrite").format("parquet").saveAsTable(tombT)
  }

  /** Live corpus stats by LEDGER ARITHMETIC: Σ ledger contributions
    * minus what the tombstoned versions recorded — exactly the stats the
    * BM25 probe derives at read time, so compaction re-baselines to the
    * same numbers. (Exact under double updates: every tombstone row
    * retires ONE previously-live version.) Families whose tombstones
    * carry no `dl` lose 0 tokens per tombstone. */
  /** True when the LOGICAL index exists — resolved through the
    * generation pointer. After a compaction the plain-named gen-0
    * tables are DROPPED, so a bare `catalog.tableExists(table)` reports
    * a live (gen ≥ 1) index as missing — and a stream bootstrap that
    * trusts it re-creates an empty index OVER the live one (data loss;
    * caught by the r11 mid-stream maintenance spec). Every existence
    * probe of a generation-pointer family must come through here. */
  def exists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(resolve(spark, table))

  /** Accumulation readout of a segmented index — what a maintenance
    * policy watches (the `MorTable.health` idea applied to the index
    * families): committed segments (per-bucket FILE count, the probe's
    * open cost), outstanding tombstone rows (the per-probe dead-row
    * join side), live docs. Ledger/tombstone-sized reads only. */
  final case class Health(segments: Long, tombstoneRows: Long, liveDocs: Long) {
    /** Dead-mask rows per live doc — grows with churn, resets at
      * compaction. */
    def tombstoneFraction: Double =
      if (liveDocs > 0L) tombstoneRows.toDouble / liveDocs
      else if (tombstoneRows > 0L) 1.0 else 0.0
  }

  def health(spark: SparkSession, table: String): Health = {
    val t = resolve(spark, table)
    // seg >= 0: batch-id memo rows (seg -1, written by compact) are
    // replay memory, not segments — counting them would trip the
    // maintenance threshold forever after the first compaction.
    Health(ledger(spark, t).where(col("seg") >= 0L).count(),
      tombstones(spark, t).count(), liveLedgerStats(spark, t)._1)
  }

  def liveLedgerStats(spark: SparkSession, physTable: String): (Long, Long) = {
    val l = ledger(spark, physTable)
      .agg(coalesce(sum("n_docs"), lit(0L)), coalesce(sum("total_tokens"), lit(0L)))
      .head()
    val t = tombstones(spark, physTable)
    val dlSum =
      if (t.columns.contains("dl")) coalesce(sum("dl"), lit(0L))
      else coalesce(sum(lit(0L)), lit(0L))
    val ta = t.agg(count(lit(1)), dlSum).head()
    (l.getLong(0) - ta.getLong(0), l.getLong(1) - ta.getLong(1))
  }

  /** One data table of a compacting index family. `suffix` "" is the
    * main table; sidecars ("_docs", "_vecs") name themselves relative to
    * the base. A sidecar sharing the MAIN table's tombstones (BM25's doc
    * sidecar) passes `ownTombstones = false`; `tombExtraCols` are
    * payload columns the tombstone rows carry (BM25's `dl`). */
  final case class CompactTable(suffix: String, bucketCol: String,
                                idCol: String, ownTombstones: Boolean,
                                tombExtraCols: Seq[String] = Nil)

  /** Generic crash-atomic compaction: fold every data table's live rows
    * (tombstones applied) into segment 0 of generation N+1, write the
    * fresh tombstone/ledger tables under the next-generation names, then
    * COMMIT with the single generation-pointer append and drop the old
    * generation. `ledgerStats` maps the live frames (by suffix) to the
    * fresh ledger's (n_docs, total_tokens). `beforeCommit`/`afterCommit`
    * are crash-injection seams (specs throw there to pin that a crash on
    * either side of the commit leaves probes on a complete generation).
    * Single maintenance writer per index, as everywhere. */
  def compact(spark: SparkSession, table: String, buckets: Int,
              tables: Seq[CompactTable],
              ledgerStats: Map[String, DataFrame] => (Long, Long),
              ledgerIdCol: String,
              beforeCommit: () => Unit = () => (),
              afterCommit: () => Unit = () => ()): Unit = {
    import spark.implicits._
    val gen = currentGen(spark, table)
    val cur = physName(table, gen)
    val next = physName(table, gen + 1L)
    val live: Map[String, DataFrame] = tables.map { t =>
      val tombOwner = if (t.ownTombstones) cur + t.suffix else cur
      t.suffix -> dropDead(spark.table(cur + t.suffix),
          tombstoneMax(spark, tombOwner, t.idCol), t.idCol)
        .withColumn(SegCol, lit(0L)).localCheckpoint(true)
    }.toMap
    val (nd, tt) = ledgerStats(live)
    tables.foreach { t =>
      Bucketing.writeBucketed(live(t.suffix), next + t.suffix, t.bucketCol, buckets)
      if (t.ownTombstones)
        initTombstones(spark, next + t.suffix,
          live(t.suffix).select(col(t.idCol) +: lit(0L).as("below_seg") +:
            t.tombExtraCols.map(col): _*))
    }
    val ledT = ledgerTable(next)
    Bucketing.clearOrphanLocation(spark, ledT)
    // Batch-id MEMORY survives the rebase: every batch id the old
    // ledger knew re-appears as a zero-contribution memo row at seg -1,
    // so an APPEND-shaped delivery replayed from before the compaction
    // still no-ops through hasBatch (previously only update-shaped
    // replays converged — re-appending postings was the documented
    // exactly-once hole). Memo rows are invisible to the stats
    // (n_docs = total_tokens = 0), to nextSeg (max ignores -1 next to
    // the base row's 0) and to health (segments counts seg >= 0 only);
    // the set is bounded by lifetime delivery count — a few bytes each.
    val memo = spark.table(ledgerTable(cur))
      .where(col("batch_id") =!= BaseBatch)
      .select(lit(-1L).as("seg"), col("batch_id"), lit(0L).as("n_docs"),
        lit(0L).as("total_tokens"), lit(ledgerIdCol).as("id_col"))
      .distinct()
    Seq((0L, BaseBatch, nd, tt, ledgerIdCol))
      .toDF("seg", "batch_id", "n_docs", "total_tokens", "id_col")
      .unionByName(memo)
      .coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(ledT)
    beforeCommit()
    commitGen(spark, table, gen + 1L)
    afterCommit()
    // Cleanup of ALL superseded generations (≤ gen, including ones a
    // crashed earlier cleanup orphaned) — best-effort, post-commit.
    (0L to gen).map(physName(table, _)).foreach { old =>
      tables.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${old + t.suffix}")
        if (t.ownTombstones)
          spark.sql(s"DROP TABLE IF EXISTS ${tombstoneTable(old + t.suffix)}")
      }
      spark.sql(s"DROP TABLE IF EXISTS ${ledgerTable(old)}")
    }
  }
}
