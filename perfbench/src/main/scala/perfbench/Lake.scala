package perfbench

import graft.GraftLake
import graft.ops.Retrieval
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.util.{Failure, Success}

/** Run-wide state of one benchmark run: operation accounting and the
  * latency samples of the timed cycles. */
final class Ctx(val spark: SparkSession, val seed: Long, val scale: Gen.Scale,
                val rec: Recorder) {
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  /** failure kind ("op: what", paths and numbers masked) → (count, first example) */
  val failures = mutable.LinkedHashMap.empty[String, (Int, String)]
  val cycleS = mutable.ArrayBuffer.empty[Double]
  val readS = mutable.ArrayBuffer.empty[Double]
  var changeRows = 0L
  var heapPeakMb = 0.0
  /** Per-cycle readings of single layers, taken in traced cycles only. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private def fail(name: String, what: String): Unit = {
    failed += 1
    val line = s"$name: ${what.linesIterator.nextOption().getOrElse("").take(400)}"
    val k = line.replaceAll("file:\\S*", "<path>").replaceAll("\\d+", "N").take(160)
    failures(k) = failures.get(k).fold((1, line)) { case (n, ex) => (n + 1, ex) }
  }

  /** One timed operation: a throw or a failed `check` (Some(reason)) counts
    * as a failed operation and marks the span not `ok` (its time is no
    * latency sample), and the run goes on. */
  def op[T](name: String, owner: String, cycle: Int)(f: => T)(check: T => Option[String])
      : (Span, Option[T]) = {
    attempted += 1
    val (s, r) = rec.span(name, owner, cycle)(f)
    r match {
      case Failure(e) =>
        s.ok = false
        fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        (s, None)
      case Success(v) =>
        val bad = scala.util.Try(check(v)).fold(e => Some(s"check threw $e"), identity)
        bad.foreach { why => s.ok = false; wrong += 1; fail(name, s"wrong output: $why") }
        (s, Some(v))
    }
  }

  /** Record one timed cycle's samples: the cycle's wall time if all its
    * write spans succeeded, and each read round's time if all its reads
    * did. */
  def sample(writes: Seq[Span], readRounds: Seq[Seq[Span]], changes: Long): Unit = {
    if (writes.forall(_.ok)) { cycleS += writes.map(_.seconds).sum; changeRows += changes }
    readRounds.filter(_.forall(_.ok)).foreach(r => readS += r.map(_.seconds).sum)
  }

  /** An untimed correctness check (end of run). */
  def verify(name: String)(check: => Option[String]): Unit = {
    attempted += 1
    scala.util.Try(check) match {
      case Failure(e) => fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Success(Some(why)) => wrong += 1; fail(name, s"wrong output: $why")
      case Success(None) =>
    }
  }
}

/** A workload: one lake instance under a root dir, driven cycle by cycle. */
trait Workload {
  /** Generate the inputs and run the initial load; returns the seconds of
    * the initial load itself. */
  def setup(): Double
  /** One sync cycle / delivery; `timed` cycles contribute samples. */
  def cycle(c: Int, timed: Boolean): Unit
  def liveRows: Long
  /** Directories of everything the lake keeps (data, sidecars, stats,
    * feed, index, checkpoints, state). */
  def keptDirs: Seq[String]
  /** End-of-run checks against the oracle. */
  def verify(): Unit
}

object Workload {
  /** `GraftLake.sync`, throwing if any table's action failed. */
  def sync(lake: GraftLake): Unit = {
    val bad = lake.sync().toSeq.flatMap { case (t, as) =>
      as.collect { case graft.Controller.Failed(e) => s"$t: $e" } }
    if (bad.nonEmpty) throw new IllegalStateException(bad.mkString("; "))
  }

  def dirBytes(spark: SparkSession, dirs: Seq[String]): Long = dirs.map { d =>
    val p = new Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }.sum

  /** Traced cycles only: what a sync did to the lake's files, given the
    * listing before it. Notes files added and removed, `write_amp` (bytes
    * added ÷ CDC bytes in) and `rewrite_ratio` (rows in added data files
    * ÷ change rows); returns the removed files. */
  def fileReadings(ctx: Ctx, lakeRoot: String, before: Map[String, Long], cdcBytes: Long,
                   nChanges: Int, isData: String => Boolean): Set[String] = {
    val after = lakeFiles(ctx.spark, lakeRoot)
    val added = after.keySet -- before.keySet
    val removed = before.keySet -- after.keySet
    ctx.note("lake.files_added", added.size.toDouble)
    ctx.note("lake.files_removed", removed.size.toDouble)
    ctx.note("write_amp", added.toSeq.map(after).sum.toDouble / math.max(1L, cdcBytes))
    val dataAdded = added.toSeq.filter(isData)
    val rowsWritten =
      if (dataAdded.isEmpty) 0L else ctx.spark.read.parquet(dataAdded: _*).count()
    ctx.note("rewrite_ratio", rowsWritten.toDouble / math.max(1, nChanges))
    removed
  }

  /** Every parquet file under `dir` → its size. */
  def lakeFiles(spark: SparkSession, dir: String): Map[String, Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val out = mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet")) out(s.getPath.toString) = s.getLen
      }
      out.toMap
    }
  }
}

/** `lake_cow` / `lake_mor`: LOAD snapshots of orders, lineitem and
  * customer, then one CDC file per table per cycle, `GraftLake.sync`, and
  * three read-after-sync reads. */
final class LakeWorkload(ctx: Ctx, root: String, mor: Boolean) extends Workload {
  import Gen._
  private val spark = ctx.spark
  private val raw = s"$root/raw"
  private val lakeRoot = s"$root/lake"
  private val src = new LakeSource(ctx.seed, ctx.scale)
  private val lake = GraftLake(spark, raw, lakeRoot, s"$root/state")
  private val specs = Seq(Orders, Lineitem, Customer)
  private val owner = if (mor) "MorTable" else "GraftLake"
  def liveRows: Long = src.liveRows
  def keptDirs: Seq[String] = Seq(lakeRoot, s"$root/state")

  def setup(): Double = {
    src.load.foreach { case (spec, rows) => writeLoad(spark, raw, spec, rows) }
    lake.tables()
    specs.foreach(s => lake.activate(Schema, s.name, primaryKeys = s.keys,
      partitionKeys = if (mor) Nil else s.partitionKeys, mergeOnRead = mor))
    val (s, _) = ctx.op("initial_load", owner, -1)(Workload.sync(lake))(_ => None)
    if (!mor)
      ctx.op("build_stats_index", "GraftLake", -1)(
        lake.buildStatsIndex(Schema, Orders.name, Seq("o_orderkey")))(n =>
        if (n > 0) None else Some(s"indexed $n files"))
    s.seconds
  }

  def cycle(c: Int, timed: Boolean): Unit = {
    val traced = ctx.rec.beginCycle(if (timed) c else -1)
    val changes = src.cycle(c)
    val cdcBytes = specs.map(s => writeCdc(spark, raw, s, c, changes(s))).sum
    val nChanges = changes.values.map(_.size).sum
    val before = if (traced) Workload.lakeFiles(spark, lakeRoot) else Map.empty[String, Long]

    val (syncSpan, _) = ctx.op("sync", "GraftLake", c)(Workload.sync(lake))(_ => None)
    if (traced) layerReadings(before, cdcBytes, nChanges)

    val rounds = Seq.fill(LakeWorkload.ReadRounds)(reads(c, changes))
    if (timed) ctx.sample(Seq(syncSpan), rounds, nChanges)
    ctx.heapPeakMb = math.max(ctx.heapPeakMb, Trace.heapAfterGcMb())
  }

  /** One round of read-after-sync reads: an aggregate, a pruned range
    * read, and a point read of a key changed in cycle `c`. */
  private def reads(c: Int, changes: Map[Spec, Seq[Change]]): Seq[Span] = {
    val liveOrders = src.orders.count.toLong
    val (r1, _) = ctx.op("read.sql", owner, c) {
      if (mor) lake.read(Schema, Orders.name).createOrReplaceTempView("db_orders_live")
      val t = if (mor) "db_orders_live" else "db_orders"
      spark.sql(s"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS p " +
        s"FROM $t GROUP BY o_orderpriority").collect()
    } { rows =>
      val n = rows.map(_.getLong(1)).sum
      if (n == liveOrders) None else Some(s"aggregate counted $n orders, expected $liveOrders")
    }
    val hi = src.orders.next - 1
    val lo = math.max(1L, hi - ctx.scale.orders / 50)
    val (r2, _) = ctx.op("read.pruned", if (mor) "MorTable" else "StatsIndex", c)(
      lake.readPruned(Schema, Orders.name, "o_orderkey", Some(lo), Some(hi)).count()) { n =>
      val want = src.orders.liveIn(lo, hi + 1).toLong
      if (n == want) None else Some(s"range [$lo, $hi] read $n rows, expected $want")
    }
    val probe = changes(Orders).find(_.op == "U").map(_.row)
    val (r3, _) = ctx.op("read.point", owner, c) {
      probe.toSeq.flatMap(p => lake.read(Schema, Orders.name)
        .where(col("o_orderkey") === p.getLong(0)).select(Orders.cols.map(col): _*).collect())
    } { got =>
      if (got.map(_.toSeq) == probe.toSeq.map(_.toSeq)) None
      else Some(s"point read ${got.mkString} != generated ${probe.mkString}")
    }
    Seq(r1, r2, r3)
  }

  /** Traced cycles only: what the sync did to the lake's files. */
  private def layerReadings(before: Map[String, Long], cdcBytes: Long,
                            nChanges: Int): Unit = {
    val removed = Workload.fileReadings(ctx, lakeRoot, before, cdcBytes, nChanges,
      f => f.contains(s"/lake/$Schema/") && (!mor || f.contains("/data/")))
    if (mor) {
      ctx.note("mor.maintenance_runs", specs.count(s =>
        removed.exists(_.contains(s"/$Schema/${s.name}/"))).toDouble)
      ctx.note("mor.amplification", specs.map(s =>
        lake.morHealth(Schema, s.name).map(_.amplification).getOrElse(0.0)).sum / specs.size)
    }
  }

  def verify(): Unit = specs.foreach { spec =>
    ctx.verify(s"oracle.${spec.name}") {
      val d = diff(conform(lake.read(Schema, spec.name), spec), expected(spark, raw, spec))
      if (d == 0) None else Some(s"lake differs from the oracle in $d rows")
    }
  }
}

object LakeWorkload {
  /** Read rounds per cycle: the reads are short, so each cycle repeats
    * them to give `read_p50_s` more samples per run. */
  val ReadRounds = 2
}

/** `feed_index`: `documents` as a CDC table; each delivery streams its
  * change feed, folds it into the BM25 index and probes the index. */
final class FeedWorkload(ctx: Ctx, root: String) extends Workload {
  import Gen._
  private val spark = ctx.spark
  private val raw = s"$root/raw"
  private val lakeRoot = s"$root/lake"
  private val ckpt = s"$root/ckpt/documents"
  private val src = new DocSource(ctx.seed, ctx.scale)
  private val lake = GraftLake(spark, raw, lakeRoot, s"$root/state")
  private val index = lake.searchIndexName(Schema, Documents.name)
  val Probes = 50
  def liveRows: Long = src.liveRows
  def keptDirs: Seq[String] = Seq(lakeRoot, s"$root/state", s"$root/ckpt",
    spark.conf.get("spark.sql.warehouse.dir"))

  private def deliver(c: Int, traced: Boolean): (Span, Span) = {
    val (s1, q) = ctx.op("stream", "CdcStream", c) {
      val q = lake.streamWithChangeFeed(Schema, Documents.name, ckpt, maxFilesPerTrigger = 1)
      q.awaitTermination()
      q
    }(_.exception.map(e => s"stream failed: ${e.getMessage}"))
    // Spark's own per-trigger phase durations; start-up is the rest
    if (traced) q.foreach { q =>
      q.recentProgress.foreach(_.durationMs.forEach((k, v) => s1.add(s"stream.${k}_s", v / 1000.0)))
      s1.add("stream.startup_s",
        math.max(0.0, s1.seconds - s1.extra.getOrElse("stream.triggerExecution_s", 0.0)))
    }
    val (s2, _) = ctx.op("index_sync", "GraftLake", c)(
      lake.syncSearchIndex(Schema, Documents.name, "text"))(applied =>
      if (applied.size == 1) None else Some(s"applied feed batches $applied, expected one"))
    (s1, s2)
  }

  def setup(): Double = {
    writeCdc(spark, raw, Documents, 0, src.bootstrap)
    lake.tables()
    lake.activate(Schema, Documents.name, primaryKeys = Documents.keys)
    val (s1, s2) = deliver(-1, traced = false)
    s1.seconds + s2.seconds
  }

  private def queryFrame(salt: Int) = {
    import spark.implicits._
    Gen.queries(ctx.seed, salt, Probes).toDF("qid", "qtext")
  }

  def cycle(c: Int, timed: Boolean): Unit = {
    val traced = ctx.rec.beginCycle(if (timed) c else -1)
    val changes = src.delivery(c)
    writeCdc(spark, raw, Documents, c, changes)
    val (s1, s2) = deliver(c, traced)
    val qs = queryFrame(c)
    val (s3, _) = ctx.op("probe", "Retrieval", c)(
      Retrieval.bm25AgainstIndex(spark, index, qs, "qid", "qtext", k = 10).collect()) { rows =>
      val perQ = rows.groupBy(_.getAs[Long]("qid"))
      val bad = perQ.find { case (_, rs) =>
        rs.map(_.getAs[Long]("rank")).sorted.toSeq != (1L to rs.length.toLong) || rs.length > 10 }
      if (rows.isEmpty) Some("probe batch returned nothing")
      else bad.map { case (q, rs) => s"query $q ranks ${rs.map(_.getAs[Long]("rank")).mkString(",")}" }
    }
    if (traced) {
      val h = graft.io.SegmentedIndex.health(spark, index)
      ctx.note("index.segments", h.segments.toDouble)
      ctx.note("index.tombstones", h.tombstoneRows.toDouble)
    }
    if (timed) ctx.sample(Seq(s1, s2), Seq(Seq(s3)), changes.size)
    ctx.heapPeakMb = math.max(ctx.heapPeakMb, Trace.heapAfterGcMb())
  }

  def verify(): Unit = {
    ctx.verify("oracle.documents") {
      val d = diff(conform(lake.read(Schema, Documents.name), Documents),
        expected(spark, raw, Documents))
      if (d == 0) None else Some(s"lake differs from the oracle in $d rows")
    }
    ctx.verify("oracle.bm25") {
      val qs = queryFrame(-1)
      def key(rows: Array[Row]) = rows.map(r =>
        (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
          r.getAs[Long]("rank"))).toSet
      val probe = key(Retrieval.bm25AgainstIndex(spark, index, qs, "qid", "qtext", k = 10).collect())
      val fresh = key(Retrieval.bm25TopK(lake.read(Schema, Documents.name)
        .select(col("doc_id"), col("text")), qs, "doc_id", "text", "qid", "qtext", k = 10).collect())
      if (probe == fresh && probe.nonEmpty) None
      else Some(s"index probe differs from bm25TopK over the lake: " +
        s"${(probe -- fresh).size} extra, ${(fresh -- probe).size} missing")
    }
  }
}
