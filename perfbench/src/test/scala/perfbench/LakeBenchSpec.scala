package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LakeBenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val root = {
    val d = new java.io.File("target/spec-work")
    d.mkdirs()
    Files.createTempDirectory(d.toPath, "run").toString
  }
  private lazy val spark: SparkSession = Main.session(root)
  private val tiny = Gen.Scale(orders = 400, customers = 60, docs = 120)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  private def newCtx(seed: Long, trace: Boolean) =
    new Ctx(spark, seed, tiny, new Recorder(spark, trace))

  /** Content hash of every change file a 3-cycle source lands. */
  private def changeHashes(seed: Long, dir: String): Seq[String] = {
    val src = new Gen.LakeSource(seed, tiny)
    (1 to 3).flatMap { c =>
      src.cycle(c).toSeq.sortBy(_._1.name).map { case (spec, changes) =>
        Gen.writeCdc(spark, dir, spec, c, changes)
        val rows = spark.read.parquet(s"${Gen.rawDir(dir, spec)}/${Gen.cdcName(c)}")
          .collect().map(_.mkString("|")).mkString("\n")
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
    }
  }

  test("the same seed lands identical change files; another seed differs") {
    val a = changeHashes(7, s"$root/gen-a")
    val b = changeHashes(7, s"$root/gen-b")
    val c = changeHashes(8, s"$root/gen-c")
    assert(a == b)
    assert(a.zip(c).forall { case (x, y) => x != y })
  }

  /** Runs set-up plus three cycles; returns the failures recorded. */
  private def threeCycles(w: Workload, ctx: Ctx): Map[String, (Int, String)] = {
    w.setup()
    (1 to 3).foreach(w.cycle(_, timed = true))
    w.verify()
    ctx.failures.toMap
  }

  test("merge-on-read: the lake equals the oracle after three cycles") {
    val ctx = newCtx(3, trace = false)
    val failures = threeCycles(new LakeWorkload(ctx, s"$root/mor", mor = true), ctx)
    assert(failures.isEmpty, failures)
    assert(ctx.wrong == 0 && ctx.attempted > 0)
  }

  test("copy-on-write: lineitem and customer equal the oracle after three cycles") {
    val ctx = newCtx(3, trace = false)
    val failures = threeCycles(new LakeWorkload(ctx, s"$root/cow", mor = false), ctx)
    assert(!failures.keys.exists(k => k.startsWith("oracle.lineitem") || k.startsWith("oracle.customer")),
      failures)
    // The orders table is partitioned by o_orderpriority, whose value
    // "4-NOT SPECIFIED" becomes the URI-encoded dir "4-NOT%20SPECIFIED":
    // the merge's superseded-file delete and the stats index read those
    // paths back un-decoded, so stale rows survive and sync throws.
    pendingUntilFixed {
      assert(failures.isEmpty, failures)
    }
  }

  test("feed: the index probe equals bm25TopK over the lake after three deliveries") {
    val ctx = newCtx(5, trace = false)
    val failures = threeCycles(new FeedWorkload(ctx, s"$root/feed"), ctx)
    assert(failures.isEmpty, failures)
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
  }

  test("documents curation: operator outputs and the lake match the driver after three cycles") {
    val ctx = newCtx(4, trace = false)
    val failures = threeCycles(new CurateWorkload(ctx, s"$root/curate"), ctx)
    assert(failures.isEmpty, failures)
    assert(ctx.readS.size == 3)
  }

  test("a call site names its graft module; harness sites the span owner; others none") {
    assert(Trace.moduleOf("graft.io.CowWriter$.write(CowWriter.scala:10)") == "CowWriter")
    assert(Trace.moduleOf("graft.queries.TextQueries$.q(TextQueries.scala:3)") == "queries")
    assert(Trace.moduleOf("perfbench.LakeWorkload.cycle(Lake.scala:1)") == "harness")
    assert(Trace.moduleOf("") == Trace.Unattributed)
    assert(Trace.moduleOf("org.apache.spark.rdd.RDD.collect(RDD.scala:1)") == Trace.Unattributed)
  }

  test("traced cycles attribute at least 95% of jobs to named graft modules") {
    val ctx = newCtx(9, trace = true)
    val w = new LakeWorkload(ctx, s"$root/traced", mor = true)
    w.setup()
    (1 to 4).foreach(w.cycle(_, timed = true))
    val bds = ctx.rec.breakdown()
    val jobs = bds.map(_.jobs).sum
    assert(jobs > 0)
    // graft call sites, plus harness actions on graft-built plans counted
    // for the span's owner; empty and Spark-internal sites do not count
    assert(bds.map(_.attributed).sum.toDouble / jobs >= 0.95)
    assert(bds.forall(_.balanceErr <= 0.05))
    assert(bds.flatMap(_.byModule.keys).toSet.contains("MorTable"))
  }
}
