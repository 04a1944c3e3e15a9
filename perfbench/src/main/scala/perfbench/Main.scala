package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The lake benchmark: one run of one workload in one JVM.
  *
  * {{{
  * perfbench.Main --workload lake_cow|lake_mor|feed_index|docs_curate
  *   --seed N --seconds S --trace 0|1 --root DIR --out FILE
  *   [--commit C] [--source-hash H]
  * }}}
  *
  * Set-up runs the input generation and initial load [[Setups]] times in
  * fresh dirs; the last instance runs the workload's [[Warmup]] untimed
  * cycles and is measured. The timed phase runs cycles closed-loop for
  * `--seconds`; the end checks compare the lake with the oracle. Prints
  * each metric, then one `RESULT {json}` line; writes the full record to
  * `--out`. */
object Main {
  /** Untimed cycles the measured instance runs first (JIT warm-up). */
  val Warmup = Map("lake_cow" -> 2, "lake_mor" -> 2, "feed_index" -> 3, "docs_curate" -> 2)
  val Workloads: Seq[String] = Warmup.keys.toSeq.sorted
  /** Set-up repetitions; `setup_s` takes their median. */
  val Setups = 3

  /** Graft modules the per-layer metrics name (file stems, see
    * [[Trace.moduleOf]]): those the workloads in BENCHMARK.json call. */
  val Modules = Seq("GraftLake", "CdcPipeline", "CowWriter", "StatsIndex",
    "MorTable", "CdcStream", "SegmentedIndex", "Retrieval", "TextAnalysis", "Dedup", "Sketches",
    "Bpe", "Curation", "Similarity")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: String, out: String, commit: String, sourceHash: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), need("out"), m.getOrElse("commit", "unknown"),
      m.getOrElse("source-hash", "unknown"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of $Workloads")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def cores: Int = math.max(1, math.min(Runtime.getRuntime.availableProcessors, 4))

  def session(root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$root/ckpt-default")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.register(spark)
    spark
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (s(i + 1) - s(i)) * (pos - i)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least 10 samples beyond it. */
  def tail(xs: Seq[Double]): Map[String, Any] =
    if (xs.size < 20) Map("percentile" -> None, "samples" -> xs.size, "value" -> None)
    else {
      val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      Map("percentile" -> p, "samples" -> xs.size, "value" -> quantile(xs, p / 100.0))
    }

  private def resetCatalog(spark: SparkSession): Unit =
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }

  private def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a.root)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val (result, details) =
      try run(spark, a, sessionS)
      finally spark.stop()
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val out = new java.io.File(a.out)
    Option(out.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(out.toPath, Json(details + ("jvm_s" -> jvmS)) + "\n")
    println("RESULT " + Json(result))
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): (Map[String, Any], Map[String, Any]) = {
    val rec = new Recorder(spark, a.trace)
    val ctx = new Ctx(spark, a.seed, Gen.DefaultScale, rec)
    def make(dir: String): Workload = a.workload match {
      case "lake_cow" => new LakeWorkload(ctx, dir, mor = false)
      case "lake_mor" => new LakeWorkload(ctx, dir, mor = true)
      case "feed_index" => new FeedWorkload(ctx, dir)
      case "docs_curate" => new CurateWorkload(ctx, dir)
    }
    val warmup = Warmup(a.workload)

    // Set-up, repeated in fresh dirs; the last instance is the one measured.
    // It first runs the warm-up cycles (JIT), untimed.
    val repS = mutable.ArrayBuffer.empty[Double]
    val initS = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    for (i <- 0 until Setups) {
      if (i > 0) { resetCatalog(spark); delete(spark, s"${a.root}/rep${i - 1}") }
      val t = System.nanoTime()
      w = make(s"${a.root}/rep$i")
      initS += w.setup()
      repS += (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    (1 to warmup).foreach(c => w.cycle(c, timed = false))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(repS.toSeq) + warmS
    // after a fixed number of cycles, so it does not depend on speed
    val bytesPerRow = Workload.dirBytes(spark, w.keptDirs).toDouble / math.max(1L, w.liveRows)

    rec.spans.clear() // from here on, spans are the timed phase's
    val tl = System.nanoTime()
    val deadline = tl + a.seconds * 1000000000L
    // Cycles start until the deadline, and the last one runs to its end:
    // the sample count then moves by at most one with the machine's speed.
    var c = warmup + 1
    while (c == warmup + 1 || System.nanoTime() < deadline) {
      w.cycle(c, timed = true)
      c += 1
    }
    val wallS = (System.nanoTime() - tl) / 1e9
    rec.beginCycle(-1)
    val tv = System.nanoTime()
    w.verify()
    val verifyS = (System.nanoTime() - tv) / 1e9

    val cycles = ctx.cycleS.toSeq
    val reads = ctx.readS.toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "cycle_p50_s" -> (median(cycles), "s"),
      "read_p50_s" -> (median(reads), "s"),
      "change_rows_per_s" -> (ctx.changeRows / math.max(1e-9, cycles.sum), "rows/s"),
      "bytes_per_live_row" -> (bytesPerRow, "B"))
    val layers = if (a.trace) perLayer(rec, ctx) else mutable.LinkedHashMap.empty[String, (Double, String)]
    val shown = if (a.trace) layers else e2e
    shown.foreach { case (k, (v, u)) => println(f"$k%-28s $v%.6f $u") }
    if (ctx.failures.nonEmpty) {
      println(s"failed operations: ${ctx.failed} of ${ctx.attempted}")
      ctx.failures.foreach { case (k, (n, _)) => println(s"  $n x $k") }
    }
    // a throw and a wrong output both count in `failed`
    val correct = ctx.failed == 0 && cycles.nonEmpty && reads.nonEmpty
    val result = Map(
      "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> shown.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val details = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "result" -> result,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "cycle_tail_s" -> tail(cycles), "read_tail_s" -> tail(reads),
      "initial_load_s" -> median(initS.toSeq.drop(if (initS.size > 1) 1 else 0)),
      "wall_s" -> wallS, "error_rate" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "wrong_outputs" -> ctx.wrong, "heap_peak_mb" -> ctx.heapPeakMb,
      "session_s" -> sessionS, "setup_reps_s" -> repS, "initial_load_reps_s" -> initS,
      "warmup_s" -> warmS, "verify_s" -> verifyS, "warmup_cycles" -> warmup,
      "timed_cycles" -> cycles.size,
      "cycle_s" -> cycles, "read_s" -> reads, "change_rows" -> ctx.changeRows,
      "failures" -> ctx.failures.map { case (k, (n, ex)) => k -> Map("count" -> n, "example" -> ex) },
      "provenance" -> Map("commit" -> a.commit, "source_hash" -> a.sourceHash,
        "nproc" -> Runtime.getRuntime.availableProcessors, "cores_used" -> cores,
        "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
        "spark" -> spark.version, "scale" -> Gen.DefaultScale.toString,
        "spark_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted.toMap
          .++(Seq("spark.master", "spark.default.parallelism", "spark.local.dir")
            .flatMap(k => spark.sparkContext.getConf.getOption(k).map(k -> _)))))
    if (a.trace) {
      details("per_layer") = layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      details("modules") = moduleTable(rec)
      details("layer_readings") = ctx.layer.map { case (k, xs) =>
        k -> Map("mean" -> xs.sum / xs.size, "sum" -> xs.sum, "cycles" -> xs.size) }
      details("call_sites") = rec.log.jobs.values().toArray(Array.empty[JobLog.Job])
        .groupBy(_.site).map { case (k, v) => k -> v.length }.toSeq.sortBy(-_._2).take(40).toMap
    }
    (result, details.toMap)
  }

  private def moduleTable(rec: Recorder): Map[String, Map[String, Double]] =
    rec.breakdown().flatMap(_.byModule.toSeq).groupBy(_._1).map { case (m, xs) =>
      m -> xs.map(_._2).reduce((x, y) => x.map { case (k, v) => k -> (v + y(k)) })
    }

  /** Per-cycle means over the traced timed cycles. A module's or a stream
    * phase's time is given as its share of the traced spans' wall time, so
    * a layer a workload never calls reads a share of 0, not a constant 0 s;
    * the module shares plus the driver gap's share sum to 1. Seconds per
    * module are in the run record's `modules` table. */
  def perLayer(rec: Recorder, ctx: Ctx): mutable.LinkedHashMap[String, (Double, String)] = {
    val bds = rec.breakdown()
    val n = math.max(1, bds.map(_.span.cycle).distinct.size).toDouble
    val wallS = math.max(1e-9, bds.map(b => (b.span.endMs - b.span.startMs) / 1000.0).sum)
    def mod(b: Trace.SpanBreakdown, m: String, k: String) =
      b.byModule.get(m).map(_(k)).getOrElse(0.0)
    def all(k: String) = bds.map(b => b.byModule.values.map(_(k)).sum).sum / n
    def extra(k: String) = bds.map(_.span.extra.getOrElse(k, 0.0)).sum / n
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    out("spark.jobs") = (bds.map(_.jobs).sum / n, "count")
    out("spark.stages") = (all("stages"), "count")
    out("spark.tasks") = (all("tasks"), "count")
    out("spark.executor_run_s") = (all("task_s"), "s")
    out("spark.executor_cpu_s") = (all("cpu_s"), "s")
    out("spark.shuffle_read_mb") = (all("shuffle_read_mb"), "MB")
    out("spark.shuffle_write_mb") = (all("shuffle_write_mb"), "MB")
    out("spark.driver_gap_s") = (bds.map(_.gapS).sum / n, "s")
    // blocks still cached when each cycle's last span ends
    val lastOfCycle = bds.groupBy(_.span.cycle).values.map(_.maxBy(_.span.endMs))
    out("spark.cached_blocks_end") =
      (lastOfCycle.map(_.span.extra.getOrElse("spark.cached_blocks_end", 0.0)).sum / n, "count")
    out("jvm.gc_s") = (extra("jvm.gc_s"), "s")
    Seq("fs.bytes_read_mb", "fs.bytes_written_mb").foreach(k => out(k) = (extra(k), "MB"))
    out("traced_wall_s") = (wallS / n, "s")
    Modules.foreach { m =>
      out(s"$m.jobs") = (bds.map(mod(_, m, "jobs")).sum / n, "count")
      out(s"$m.wall_share") = (bds.map(mod(_, m, "job_s")).sum / wallS, "ratio")
    }
    out("MorTable.read_share") =
      (bds.filter(_.span.name.startsWith("read")).map(mod(_, "MorTable", "job_s")).sum / wallS, "ratio")
    Seq("startup", "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "triggerExecution").foreach(p =>
      out(s"stream.${p}_share") = (extra(s"stream.${p}_s") * n / wallS, "ratio"))
    def reading(k: String) = ctx.layer.get(k).filter(_.nonEmpty).map(xs => xs.sum / xs.size).getOrElse(0.0)
    Seq("rewrite_ratio" -> "ratio", "write_amp" -> "ratio", "lake.files_added" -> "count",
      "mor.amplification" -> "ratio", "index.segments" -> "count", "index.tombstones" -> "count")
      .foreach { case (k, u) => out(k) = (reading(k), u) }
    val jobs = bds.map(_.jobs).sum
    out("attributed_share") = (if (jobs == 0) 0.0 else bds.map(_.attributed).sum.toDouble / jobs, "ratio")
    out("graft_site_share") = (if (jobs == 0) 0.0 else bds.map(_.ownSite).sum.toDouble / jobs, "ratio")
    out("span_balance_err") = (if (bds.isEmpty) 0.0 else bds.map(_.balanceErr).max, "ratio")
    // cycle wall with the listener attached vs without, within this run
    val cycleSpans = rec.spans.filter(s => Set("sync", "stream", "index_sync").contains(s.name)).groupBy(_.cycle).values
      .map(ss => (ss.head.traced, ss.map(_.seconds).sum)).toSeq
    val (on, off) = cycleSpans.partition(_._1)
    out("trace_overhead") =
      (if (on.isEmpty || off.isEmpty) 1.0 else median(on.map(_._2)) / median(off.map(_._2)), "ratio")
    out
  }
}
