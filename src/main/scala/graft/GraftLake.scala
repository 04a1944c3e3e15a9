package graft

import graft.cdc.TableConfig
import graft.io.{Compaction, Discovery}
import graft.state.JsonFileStateStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing façade: everything a user of the reference walkthrough does
  * (deploy, flip ActiveFlag + keys in the state table, wait for the cron,
  * query the lake — /root/reference/README.md:87,298-306) as one object.
  *
  * {{{
  * val lake = GraftLake(spark, raw, out, state)
  * lake.activate("sampledb", "product", primaryKeys = Seq("id"))
  * lake.sync()                      // one scheduled run over all tables
  * val df = lake.read("sampledb", "product")
  * lake.compact("sampledb", "product")
  * }}}
  */
final class GraftLake(spark: SparkSession, rawRoot: String, lakeRoot: String,
                      stateDir: String, parallelism: Int = 8) {

  val store = new JsonFileStateStore(stateDir)
  private val controller = new Controller(spark, store, rawRoot, lakeRoot, parallelism)

  /** Discover raw tables (registers default state for new ones). */
  def tables(): Seq[String] = {
    val ts = Discovery.listTables(rawRoot, spark.sparkContext.hadoopConfiguration)
    ts.foreach(t => store.upsertDefaults(t.dir))
    ts.map(_.key)
  }

  /** Resolve a table's canonical dir the same way discovery does (the FS
    * may scheme-qualify paths, e.g. `file:/...`). */
  private def tableDir(schema: String, table: String): String =
    Discovery.listTables(rawRoot, spark.sparkContext.hadoopConfiguration)
      .find(_.key == s"$schema/$table").map(_.dir)
      .getOrElse(s"${rawRoot.stripSuffix("/")}/$schema/$table")

  /** The reference's human step: set keys + active flag. */
  def activate(schema: String, table: String, primaryKeys: Seq[String] = Nil,
               partitionKeys: Seq[String] = Nil,
               mergeOnRead: Boolean = false,
               updateWhen: Option[String] = None): Unit = {
    val item = store.upsertDefaults(tableDir(schema, table))
    store.put(item.copy(config = TableConfig(primaryKeys, partitionKeys,
      active = true, mergeOnRead = mergeOnRead, updateWhen = updateWhen)))
  }

  /** One scheduled run over every discovered table (initial loads +
    * incremental merges as watermarks dictate). Lake outputs are
    * (re-)registered in the session catalog afterwards ([[registerAll]]),
    * so `spark.sql("... FROM <schema>_<table>")` always sees the
    * post-sync snapshot — copy-on-write replaces files, so a view planned
    * before the sync would read deleted paths. */
  def sync(): Map[String, List[Controller.Action]] = {
    val res = controller.runOnce()
    registerAll(): Unit
    // persisted stats indexes follow the rewrite at delta cost — only for
    // tables this run actually LOADED (Skipped/NoNewData/Failed tables
    // have unchanged files; refreshing them would churn a no-op listing +
    // index rewrite per table per cron tick)
    val changed = res.collect { case (key, actions)
        if actions.exists {
          case Controller.FullLoad(_) | Controller.Incremental(_, _) => true
          case _ => false
        } => key }.toSet
    Discovery.listTables(rawRoot, spark.sparkContext.hadoopConfiguration)
      .filter(t => changed.contains(t.key))
      .foreach { t =>
        val mor = store.get(t.dir).exists(_.config.mergeOnRead)
        // MOR tables get the threshold-driven maintenance check instead
        // (they cannot carry a stats index — buildStatsIndex refuses);
        // when healthy the check is a listing of the committed batch dirs
        // plus driver-side footer reads, no Spark jobs, so per-sync is safe.
        if (mor) maintainIfNeeded(t.schema, t.table): Unit
        else refreshStatsIndex(t.schema, t.table): Unit
      }
    res
  }

  /** Threshold-driven MOR maintenance — closes the loop between the
    * `cdc_mor_sidecar_stats` readout and [[compact]]: when the table's
    * outstanding mask rows exceed `maxAmplification` per stored data
    * row, run the format's native compact+vacuum pair (one target read
    * pays for both — compact's lowering receipt spares vacuum the scan).
    * Returns the PRE-maintenance [[io.MorTable.Health]] when the policy
    * fired; None for CoW tables and healthy MOR tables. [[sync]] calls
    * this after every load of a MOR table, so at the reference's hourly
    * cadence sidecar accumulation is bounded by the threshold, not by
    * an operator noticing. */
  def maintainIfNeeded(schema: String, table: String,
                       maxAmplification: Double = GraftLake.DefaultMaxAmplification)
      : Option[io.MorTable.Health] = {
    val cfg = store.get(tableDir(schema, table)).map(_.config).getOrElse(TableConfig())
    if (!cfg.mergeOnRead) None
    else io.MorTable.maintainIfNeeded(spark,
      s"${lakeRoot.stripSuffix("/")}/$schema/$table",
      maxAmplification, clusterBy = cfg.primaryKeys)
  }

  /** [[io.MorTable.health]] for a lake table (None for CoW). */
  def morHealth(schema: String, table: String): Option[io.MorTable.Health] = {
    val cfg = store.get(tableDir(schema, table)).map(_.config).getOrElse(TableConfig())
    if (!cfg.mergeOnRead) None
    else Some(io.MorTable.health(spark,
      s"${lakeRoot.stripSuffix("/")}/$schema/$table"))
  }

  /** Continuous ingestion: one CDC stream per ACTIVE table, each with its
    * own checkpoint under `<checkpointRoot>/<schema>/<table>` — the
    * streaming twin of [[sync]] and the parity surface for the
    * reference's 50-way concurrent per-table fan-out
    * (/root/reference/DMSCDC_Controller.py:107-110). The returned
    * [[graft.streaming.StreamManager]] surfaces per-table queries,
    * metrics and failures, and restarts dead streams.
    *
    * Streams consume only CDC files (`2*`); run [[sync]] first when LOAD
    * snapshots need an initial load (a PK table without one merges its
    * first CDC batch against the empty target). */
  def syncStreaming(checkpointRoot: String, maxFilesPerTrigger: Int = 100,
                    maintainEvery: Int = GraftLake.DefaultMaintainEvery,
                    maxAmplification: Double = GraftLake.DefaultMaxAmplification)
      : streaming.StreamManager = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ts = Discovery.listTables(rawRoot, conf)
    ts.foreach(t => store.upsertDefaults(t.dir))
    val active = ts.filter(t => store.get(t.dir).exists(_.config.active))
    val starters = active.map { t =>
      t.key -> { () =>
        val cfg = store.get(t.dir).map(_.config).getOrElse(TableConfig())
        streaming.CdcStream.start(spark, t.dir,
          s"${lakeRoot.stripSuffix("/")}/${t.key}", cfg,
          s"${checkpointRoot.stripSuffix("/")}/${t.key}",
          maxFilesPerTrigger = maxFilesPerTrigger,
          maintainEvery = maintainEvery, maxAmplification = maxAmplification)
      }
    }.toMap
    new streaming.StreamManager(spark, starters).startAll()
  }

  /** Register a lake table as a METASTORE-BACKED EXTERNAL table
    * (`<schema>_<table>`) over its parquet dir — the local equivalent of
    * the reference's Glue crawler cataloging the lake bucket for SQL
    * users (SURVEY.md §1.1;
    * /root/reference/DMSCDC_CloudTemplate_Source.yaml:210-232). Unlike
    * the temp view this used to be, the entry outlives the defining
    * session: any session sharing the catalog (`spark.newSession()`, or
    * a later JVM over the same warehouse when the session runs with Hive
    * support) queries the table by name with zero re-registration.
    *
    * Re-created on every call — a metadata-only drop/create (EXTERNAL:
    * the data dir is never touched) — so the declared schema tracks
    * merge-driven evolution and cached listings never point at
    * copy-on-write-deleted files; [[sync]] re-registers after each run.
    * Partitioned tables declare their stored partition keys and recover
    * partitions from the directory layout. */
  def register(schema: String, table: String): String = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    val name = s"${schema}_$table"
    val df = read(schema, table)
    // a stale temp view from an older deployment would shadow the table
    spark.catalog.dropTempView(name): Unit
    val parts = store.get(tableDir(schema, table))
      .map(_.config.partitionKeys).getOrElse(Nil)
      .filter(df.columns.contains)
    val loc = s"${lakeRoot.stripSuffix("/")}/$schema/$table"
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name)
    val existing =
      if (catalog.tableExists(ident)) Some(catalog.getTableMetadata(ident)) else None
    // NEVER drop an entry we did not create: dropping a MANAGED table
    // deletes its data, and a VIEW is someone's definition — a name
    // collision is a configuration error, not ours to resolve by delete.
    existing.foreach { meta =>
      require(meta.tableType == CatalogTableType.EXTERNAL,
        s"catalog already holds a ${meta.tableType.name} table `$name` — " +
          "refusing to replace it (rename one side)")
    }
    def cols(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSet
    // Steady state (same location, schema, partitioning): keep the entry —
    // no DROP/CREATE window for concurrent catalog-sharing readers.
    val unchanged = existing.exists { meta =>
      new org.apache.hadoop.fs.Path(meta.location).toUri.getPath ==
        new org.apache.hadoop.fs.Path(loc).toUri.getPath &&
        cols(meta.schema) == cols(df.schema) &&
        meta.partitionColumnNames == parts
    }
    if (!unchanged) {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val partClause =
        if (parts.isEmpty) ""
        else parts.map(p => s"`$p`").mkString("PARTITIONED BY (", ", ", ")")
      spark.sql(
        s"CREATE TABLE `$name` (${df.schema.toDDL}) USING parquet $partClause LOCATION '$loc'")
    }
    // merges add files (and possibly partitions) without touching the
    // entry: recover new partitions, drop cached listings of deleted files
    if (parts.nonEmpty) spark.sql(s"MSCK REPAIR TABLE `$name`")
    spark.catalog.refreshTable(name)
    name
  }

  /** Register every discovered table that has lake output; returns the
    * view names. */
  def registerAll(): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Discovery.listTables(rawRoot, conf).flatMap { t =>
      val out = new org.apache.hadoop.fs.Path(s"${lakeRoot.stripSuffix("/")}/${t.key}")
      val fs = out.getFileSystem(conf)
      // merge-on-read tables are NOT registrable as plain external
      // parquet tables: their physical layout (data/deletes_eq/commits
      // batch dirs) only reconstructs through [[io.MorTable.read]]'s
      // sidecar anti-joins — a catalog scan over the root would see
      // superseded generations (and trip partition inference). SQL
      // users read them via [[read]]; the metastore surface stays a
      // copy-on-write feature, like the lakehouse formats it mirrors
      // (Iceberg/Delta register through their own connectors, not as
      // raw parquet dirs).
      val mor = store.get(t.dir).exists(_.config.mergeOnRead)
      if (fs.exists(out) && !mor) Some(register(t.schema, t.table)) else None
    }
  }

  /** Read a lake table (mergeSchema: evolved tables read their union
    * schema). */
  def read(schema: String, table: String): DataFrame = {
    val path = s"${lakeRoot.stripSuffix("/")}/$schema/$table"
    // merge-on-read tables reconstruct through the sidecar anti-joins;
    // a raw parquet read would see superseded generations
    if (store.get(tableDir(schema, table)).exists(_.config.mergeOnRead))
      io.MorTable.read(spark, path)
    else spark.read.option("mergeSchema", "true").parquet(path)
  }

  /** Schema drift between the lake table and the raw source's current
    * footprint (pre-flight check before `sync`): what would the next merge
    * add/drop/retype, and is it lossless? Metadata-only — reads two
    * parquet footers, runs no jobs. */
  def drift(schema: String, table: String): Seq[io.SchemaDrift.Change] = {
    // Incoming footprint: fold per-file footers NEWEST-LAST so a retyped
    // column surfaces as TypeChanged. Spark's own mergeSchema read would
    // THROW on e.g. int32→int64 across files — the exact drift scenario a
    // pre-flight check exists to report as data, not as an exception.
    // Raw DMS dirs are flat files (no hive partitions), so footer-only
    // per-file reads see the full schema.
    val rawDir = tableDir(schema, table)
    val conf = spark.sparkContext.hadoopConfiguration
    val rawFs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(rawDir), conf)
    val rawFiles = rawFs.listStatus(new org.apache.hadoop.fs.Path(rawDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getModificationTime)
    val incoming = org.apache.spark.sql.types.StructType(
      rawFiles.foldLeft(scala.collection.immutable.ListMap.empty[String, org.apache.spark.sql.types.StructField]) {
        (acc, f) =>
          spark.read.parquet(f.getPath.toString).schema.fields
            .foldLeft(acc)((m, fld) => m.updated(fld.name, fld))
      }.values.toArray)
    val currentPath = s"${lakeRoot.stripSuffix("/")}/$schema/$table"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(currentPath), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(currentPath))) Nil
    else {
      // The lake side is written by our own merge (per-column-consistent
      // types), so Spark's mergeSchema is safe here — and it is the only
      // reader that surfaces hive-partition columns, which per-file
      // footers cannot see.
      val current = spark.read.option("mergeSchema", "true").parquet(currentPath).schema
      // the CDC op marker never counts as drift (present in change files,
      // projected away by the merge)
      io.SchemaDrift.diff(current, incoming).filterNot(_.column == cdc.Op.column)
    }
  }

  /** Continuous sync of one table with a change-data-feed sidecar: the
    * stream merges CDC files into the lake AND appends per-operation
    * pre/post images to `<lakeRoot>/_changes/<schema>/<table>` (read them
    * back with [[readChangeFeed]]). Uses the stored primary keys;
    * `trackCols` defaults to every non-PK data column of the raw table. */
  def streamWithChangeFeed(schema: String, table: String, checkpoint: String,
                           trackCols: Seq[String] = Nil,
                           maxFilesPerTrigger: Int = 100): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = tableDir(schema, table)
    val cfg = store.get(raw).map(_.config).getOrElse(TableConfig())
    require(cfg.hasPrimaryKey, s"$schema/$table has no primary keys configured")
    streaming.CdcStream.startWithChangeFeed(spark, raw,
      s"${lakeRoot.stripSuffix("/")}/$schema/$table",
      changeFeedPath(schema, table), trackCols, cfg, checkpoint,
      maxFilesPerTrigger = maxFilesPerTrigger)
  }

  /** The change-data-feed log maintained by [[streamWithChangeFeed]].
    * `batch_id` is the hive partition key of the log (one dir per
    * micro-batch — the idempotent-replay unit and the incremental-read
    * prune key), normalized back to BIGINT here. */
  def readChangeFeed(schema: String, table: String): DataFrame =
    spark.read.parquet(changeFeedPath(schema, table))
      .withColumn("batch_id", org.apache.spark.sql.functions.col("batch_id").cast("long"))

  /** TIME TRAVEL: the table's historical state as of feed batch
    * `upToBatchId`, reconstructed from the persisted CDF log ALONE
    * ([[cdc.ChangeFeed.stateAsOf]] with an empty base — the feed covers
    * the table's whole history under the [[syncSearchIndex]] contract:
    * streamed with [[streamWithChangeFeed]] from the initial load, and
    * [[vacuumChangeFeed]] has not expired batches ≤ `upToBatchId`).
    * Output: (pks..., tracked columns...) — the AS OF read every
    * lakehouse audit ("what did this row say when the model trained?")
    * needs, at the cost of one window pass over the feed prefix. */
  def readAsOf(schema: String, table: String, upToBatchId: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(feedExists(schema, table),
      s"$schema/$table has no change feed at ${changeFeedPath(schema, table)} — " +
        "time travel reads the persisted CDF log (streamWithChangeFeed)")
    val cfg = store.get(tableDir(schema, table)).map(_.config).getOrElse(TableConfig())
    require(cfg.primaryKeys.nonEmpty, s"$schema/$table: time travel needs primary keys")
    val feed = readChangeFeed(schema, table)
      .withColumn(cdc.Merge.FileSeq, col("batch_id"))
    // A vacuumed feed is NOT a complete history: reconstructing over an
    // empty base without the expired batches would silently drop every
    // key last touched before the cutoff — the exact corruption an
    // audit read exists to prevent. The first streaming batch is id 0,
    // so retention back to 0 is a cheap driver-side witness.
    val minBatch = feed.agg(org.apache.spark.sql.functions.min("batch_id")).head()
    require(!minBatch.isNullAt(0) && minBatch.getLong(0) == 0L,
      s"$schema/$table change feed starts at batch ${minBatch.get(0)} — " +
        "vacuumChangeFeed expired history, time travel would be silently wrong")
    val trackCols = feed.columns.toSeq
      .filter(_.endsWith("_new")).map(_.stripSuffix("_new"))
    val base = feed.limit(0).select(cfg.primaryKeys.map(col) ++
      trackCols.map(c => col(s"${c}_new").as(c)): _*)
    cdc.ChangeFeed.stateAsOf(base, feed, cfg.primaryKeys, trackCols, upToBatchId)
  }

  private def changeFeedPath(schema: String, table: String): String =
    s"${lakeRoot.stripSuffix("/")}/_changes/$schema/$table"

  /** True when the table's change feed has produced ≥ 1 batch. */
  private def feedExists(schema: String, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(changeFeedPath(schema, table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Default search-index table name for a lake table. */
  def searchIndexName(schema: String, table: String): String =
    s"${schema}_${table}_bm25"

  /** Keep a BM25 search index in lockstep with a lake table, driven by
    * its change-data-feed — the composition of the engine's two halves:
    * the CDC lake is the system of record, the feed
    * ([[streamWithChangeFeed]]) is its op log, and this folds every
    * not-yet-applied feed batch into the persisted inverted index via
    * [[graft.ops.Retrieval.updateBm25Index]] (upserts re-index, deletes
    * tombstone, exactly-once per feed batch via the segment ledger — a
    * crash or re-run simply resumes at the first unapplied batch).
    *
    * Bootstrap writes an EMPTY index, so the entire corpus enters
    * through gated feed batches — no mark-already-applied bookkeeping,
    * and the first call is as crash-safe as every later one. Contract:
    * the feed must cover the table's history (stream with
    * [[streamWithChangeFeed]] from the initial load), and
    * [[vacuumChangeFeed]] must only expire batches this index has
    * already applied.
    *
    * Within a feed batch, each key's ops collapse latest-wins (max
    * `change_seq` per key — the same merged-change shape
    * `Merge.applySequenced` emits). After a sync, probing the index
    * ([[graft.ops.Retrieval.bm25AgainstIndex]]) scores exactly like a
    * fresh index over the lake table's current state (spec-asserted).
    *
    * @return ids of the feed batches applied by this call. */
  def syncSearchIndex(schema: String, table: String, textCol: String,
                      indexTable: String = "", buckets: Int = 64): Seq[Long] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val cfg = store.get(tableDir(schema, table)).map(_.config).getOrElse(TableConfig())
    require(cfg.primaryKeys.size == 1,
      s"$schema/$table: search index needs exactly one primary-key column, " +
        s"got ${cfg.primaryKeys}")
    val idCol = cfg.primaryKeys.head
    val idx = if (indexTable.nonEmpty) indexTable else searchIndexName(schema, table)
    // Contract-level guard: before the first streamWithChangeFeed batch
    // the feed directory does not exist, and the raw read would surface
    // as a path-not-found AnalysisException instead of pointing at the
    // prerequisite (r7 ADVICE).
    require(feedExists(schema, table),
      s"$schema/$table has no change feed at ${changeFeedPath(schema, table)} — " +
        "stream the table with streamWithChangeFeed before syncSearchIndex " +
        "(the index bootstraps empty and fills from feed batches)")
    val feed = readChangeFeed(schema, table)
    require(feed.columns.contains(s"${textCol}_new"),
      s"$schema/$table feed does not track '$textCol' " +
        s"(columns: ${feed.columns.mkString(", ")})")
    if (!spark.catalog.tableExists(idx))
      ops.Retrieval.writeBm25Index(
        feed.limit(0).select(col(idCol), col(s"${textCol}_new").as(textCol)),
        idCol, textCol, idx, buckets)
    // Feed batches are a bounded driver list (the reference's own
    // collect-then-reuse file-list structure, SURVEY §3.3).
    val batches = feed.select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted
    batches.filter { bid =>
      val batchId = s"cf$bid"
      if (io.SegmentedIndex.hasBatch(spark, idx, batchId)) false
      else {
        val w = Window.partitionBy(idCol).orderBy(col("change_seq").desc)
        val merged = feed.where(col("batch_id") === bid)
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .select(col(idCol), col(s"${textCol}_new").as(textCol),
            col(cdc.Op.column).as("__op"))
        ops.Retrieval.updateBm25Index(spark, merged, idCol, textCol, "__op",
          idx, buckets, batchId)
        true
      }
    }.toSeq
  }

  /** Change-feed log retention (the log-level VACUUM): delete every
    * `batch_id=<n>` partition of the feed with `n < keepFromBatchId`.
    * Consumers that have checkpointed past the cutoff are unaffected —
    * partition dirs are the feed's replay/prune unit, so expiry is a
    * driver-side directory delete, no data job. Returns (deleted, kept)
    * partition counts. A feed that never existed vacuums to (0, 0). */
  def vacuumChangeFeed(schema: String, table: String,
                       keepFromBatchId: Long): (Int, Int) = {
    val dir = new org.apache.hadoop.fs.Path(changeFeedPath(schema, table))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) (0, 0)
    else {
      val parts = fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      val (expired, kept) = parts.partition(
        _.getPath.getName.stripPrefix("batch_id=").toLong < keepFromBatchId)
      expired.foreach(s => fs.delete(s.getPath, true))
      spark.catalog.refreshByPath(changeFeedPath(schema, table))
      (expired.size, kept.size)
    }
  }

  /** Build (or rebuild) the persisted file-stats index of a lake table
    * for `cols` — one aggregation scan, written next to the change feed
    * under `_stats/`. Returns indexed file count. After a [[sync]] or
    * [[compact]] rewrites files, [[refreshStatsIndex]] (run automatically
    * by both) maintains it at delta cost; [[readPruned]] stays correct on
    * a stale index either way (unknown files scan, vanished files skip). */
  def buildStatsIndex(schema: String, table: String, cols: Seq[String],
                      bloomCols: Seq[String] = Nil,
                      bloomBits: Int = 1 << 16): Long = {
    // file-level stats assume every stored row is live; a merge-on-read
    // file's rows may be masked by sidecars, so min/max over its raw
    // content would prune toward superseded generations (and the raw
    // root scan trips partition inference). Fail loud at build time
    // rather than wrong at read time.
    require(!store.get(tableDir(schema, table)).exists(_.config.mergeOnRead),
      s"stats indexes cover copy-on-write tables; `$schema.$table` is " +
        "merge-on-read — compact it into a CoW table to index, or read " +
        "through MorTable (its clustered compaction restores prunability)")
    val stats = io.StatsIndex.build(spark,
      s"${lakeRoot.stripSuffix("/")}/$schema/$table", cols, bloomCols, bloomBits)
    stats.write.mode("overwrite").parquet(statsPath(schema, table))
    io.ParquetFooters.partRowCounts(spark, Seq(statsPath(schema, table))).sum
  }

  /** Incremental maintenance of a persisted stats index after a rewrite
    * ([[io.StatsIndex.refresh]]: vanished files drop, only never-seen
    * files scan — the reference's scheduled re-crawl, done as a delta).
    * No-op when the table has no index. The indexed column set is
    * recovered from the index's own schema (`min_<col>` markers), so
    * callers don't restate it. Returns the indexed file count, or -1
    * without an index. */
  def refreshStatsIndex(schema: String, table: String): Long = {
    val sp = new org.apache.hadoop.fs.Path(statsPath(schema, table))
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sp)) -1L
    else {
      val stats = spark.read.parquet(statsPath(schema, table))
      val cols = stats.schema.fieldNames.toSeq
        .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
      // bloom sidecars are self-describing too (`bloom_<col>` columns +
      // the recorded `bloom_bits` geometry) — without recovering them
      // the delta rows would miss the sidecar columns and the refresh
      // union would fail, or silently drop skipping for new files.
      val bloomCols = stats.schema.fieldNames.toSeq
        .filter(n => n.startsWith("bloom_") && n != "bloom_bits")
        .map(_.stripPrefix("bloom_"))
      val refreshed = io.StatsIndex.refresh(spark,
        s"${lakeRoot.stripSuffix("/")}/$schema/$table", stats, cols, bloomCols)
      // Write via temp-then-swap: the refresh output PLAN reads the old
      // index files, so an in-place overwrite would delete its own input.
      val tmp = new org.apache.hadoop.fs.Path(sp.getParent, s".refresh-${sp.getName}")
      refreshed.write.mode("overwrite").parquet(tmp.toString)
      fs.delete(sp, true)
      if (!fs.rename(tmp, sp))
        throw new java.io.IOException(s"stats-index swap $tmp -> $sp failed")
      spark.catalog.refreshByPath(statsPath(schema, table))
      io.ParquetFooters.partRowCounts(spark, Seq(statsPath(schema, table))).sum
    }
  }

  /** Data-skipping range read of a lake table through its persisted
    * stats index ([[buildStatsIndex]]); falls back to a full filtered
    * scan when no index exists. */
  def readPruned(schema: String, table: String, column: String,
                 lower: Option[Any], upper: Option[Any]): DataFrame = {
    val dir = s"${lakeRoot.stripSuffix("/")}/$schema/$table"
    val sp = new org.apache.hadoop.fs.Path(statsPath(schema, table))
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sp)) {
      import org.apache.spark.sql.functions.{col, lit}
      val base = read(schema, table) // MOR-aware fallback
      (lower, upper) match {
        case (Some(l), Some(u)) => base.where(col(column).between(lit(l), lit(u)))
        case (Some(l), None)    => base.where(col(column) >= lit(l))
        case (None, Some(u))    => base.where(col(column) <= lit(u))
        case (None, None)       => base
      }
    } else io.StatsIndex.prunedRead(spark, dir,
      spark.read.parquet(statsPath(schema, table)), column, lower, upper)
  }

  /** Equality-probe read through the table's bloom sidecar
    * ([[io.StatsIndex.prunedReadPoint]] — the id-lookup access path
    * min/max cannot prune); falls back to a full filtered scan when the
    * table has no index or the index has no bloom for `column`. */
  def readPrunedPoint(schema: String, table: String, column: String,
                      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = s"${lakeRoot.stripSuffix("/")}/$schema/$table"
    val sp = new org.apache.hadoop.fs.Path(statsPath(schema, table))
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lazy val stats = spark.read.parquet(statsPath(schema, table))
    if (!fs.exists(sp) || !stats.columns.contains(s"bloom_$column"))
      read(schema, table).where(col(column) === lit(value)) // MOR-aware
    else io.StatsIndex.prunedReadPoint(spark, dir, stats, column, value)
  }

  private def statsPath(schema: String, table: String): String =
    s"${lakeRoot.stripSuffix("/")}/_stats/$schema/$table"

  /** Maintenance compaction of one lake table (uses the stored keys);
    * a persisted stats index follows the rewrite. */
  def compact(schema: String, table: String): Compaction.Stats = {
    val cfg = store.get(tableDir(schema, table)).map(_.config).getOrElse(TableConfig())
    val path = s"${lakeRoot.stripSuffix("/")}/$schema/$table"
    if (cfg.mergeOnRead) {
      // MOR maintenance = its own compact (rewrite over-dead files,
      // lower equality deletes, cluster by PK for prunability) + vacuum
      // (drop fully-dead files, re-baseline sidecars) — the format's
      // native pass, not the CoW whole-table rewrite.
      val before = io.MorTable.dataFiles(spark, path).size
      io.MorTable.compact(spark, path, clusterBy = cfg.primaryKeys): Unit
      io.MorTable.vacuum(spark, path): Unit
      val after = io.MorTable.dataFiles(spark, path).size
      Compaction.Stats(before.toLong, after.toLong,
        io.MorTable.read(spark, path).count())
    } else {
      val stats = Compaction.compact(spark, path, cfg.primaryKeys, cfg.partitionKeys)
      refreshStatsIndex(schema, table): Unit
      stats
    }
  }
}

object GraftLake {
  /** Default mask-rows-per-data-row budget before [[GraftLake.maintainIfNeeded]]
    * compacts: 0.3 mirrors compact's own per-file `minDeadFraction` — below
    * it a pass would mostly find no victims anyway. */
  val DefaultMaxAmplification = 0.3

  /** Default micro-batch cadence of the streaming maintenance check
    * ([[streaming.CdcStream]] `maintainEvery`): every 10 deliveries —
    * the healthy-path check is a listing plus driver-side footer reads
    * with no Spark jobs, so cadence bounds sidecar accumulation
    * (≤ 10 batches' masks past threshold), not cost. */
  val DefaultMaintainEvery = 10

  def apply(spark: SparkSession, rawRoot: String, lakeRoot: String,
            stateDir: String, parallelism: Int = 8): GraftLake = {
    GraftFunctions.register(spark)
    new GraftLake(spark, rawRoot, lakeRoot, stateDir, parallelism)
  }
}
