package graft.io

import graft.{JobCounter, SparkSpec}
import graft.cdc.{Merge, Op, TableConfig}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Footer row counts ≡ `spark.read.parquet(dirs).count()` on every
  * layout a MOR table's lifecycle leaves behind, and the health readout
  * built on them starts no Spark job. */
class ParquetFootersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("footers").toString + "/t"

  private def snapshot: DataFrame =
    spark.range(20).select(
      lit(Op.Insert).as(Op.column), $"id".as("k"),
      concat(lit("v"), $"id").as("v"))

  private def batch(seq: Long, rows: Seq[(String, Long, String)]): DataFrame =
    rows.toDF(Op.column, "k", "v").withColumn(Merge.FileSeq, lit(seq))

  /** The readout as a Spark scan counts it: the committed batch dirs
    * that hold part files, their `.parquet` listing and
    * `spark.read.parquet(dirs).count()`. */
  private def scanned(base: String): MorTable.Health = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = MorTable.committedBatches(spark, base)
    def side(sub: String): (Long, Long) = {
      val dirs = batches.map(b => new Path(s"$base/$sub/batch=$b")).filter(fs.exists)
        .filter(d => fs.listStatus(d).exists(_.getPath.getName.endsWith(".parquet")))
      val files = dirs.map(d =>
        fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet")).toLong).sum
      val rows = if (dirs.isEmpty) 0L else spark.read.parquet(dirs.map(_.toString): _*).count()
      (rows, files)
    }
    val ((dr, df), (pr, pf), (er, ef)) = (side("data"), side("deletes"), side("deletes_eq"))
    MorTable.Health(dr, df, pr, pf, er, ef)
  }

  /** Health equals the scanned counts and reads them without a job. */
  private def checkHealth(base: String): MorTable.Health = {
    val (h, jobs) = JobCounter(spark)(MorTable.health(spark, base))
    assert(jobs == 0L, s"health must run no Spark job (ran $jobs)")
    assert(h == scanned(base))
    h
  }

  test("MOR health: footer counts equal the scanned counts through merge, compact, all-delete and vacuum, with zero jobs") {
    val base = tmp()
    MorTable.init(spark, snapshot, base, maxRecordsPerFile = 5L)
    val h0 = checkHealth(base)
    assert(h0.dataRows == 20L && h0.maskRows == 0L)

    // 60% of every 5-row file superseded → equality sidecar entries
    val upd = (0L until 20L).filter(_ % 5 < 3).map(i => ("U", i, s"u$i"))
    MorTable.merge(spark, batch(1L, upd), base, Seq("k"))
    val h1 = checkHealth(base)
    assert(h1.dataRows == 32L && h1.eqKeys == 12L && h1.posRows == 0L)

    // compaction rewrites the victims → position sidecar entries
    assert(MorTable.compact(spark, base, minDeadFraction = 0.5).nonEmpty)
    assert(checkHealth(base).posRows > 0L)

    // all-delete batch: its committed data dir holds zero rows — one
    // empty schema-only part here; a write whose tasks all come up empty
    // leaves no part at all, so check that layout too
    val dataRows = checkHealth(base).dataRows
    MorTable.merge(spark, batch(2L, Seq(("D", 19L, "x"))), base, Seq("k"))
    assert(checkHealth(base).dataRows == dataRows)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastData = new Path(s"$base/data/batch=${MorTable.committedBatches(spark, base).last}")
    fs.listStatus(lastData).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach(fs.delete(_, false))
    assert(checkHealth(base).dataRows == dataRows)

    MorTable.vacuum(spark, base)
    checkHealth(base)
    assert(MorTable.read(spark, base).count() == 19L)
  }

  test("vacuum whose consolidated sidecar is empty reports every mask row as shrunk") {
    val base = tmp()
    MorTable.init(spark, snapshot, base, maxRecordsPerFile = 5L)
    val baseFiles = MorTable.dataFiles(spark, base).size.toLong
    // every stored row superseded → every base file fully dead, so the
    // consolidation keeps no mask row
    MorTable.merge(spark, batch(1L, (0L until 20L).map(i => ("U", i, s"u$i"))),
      base, Seq("k"))
    val (removed, shrunk) = MorTable.vacuum(spark, base)
    assert(removed == baseFiles && shrunk == 20L)
    val h = checkHealth(base)
    assert(h.dataRows == 20L && h.maskRows == 0L)
    assert(MorTable.read(spark, base).where($"v".startsWith("u")).count() == 20L)
  }

  test("loadIncrementalMor's rowsWritten is the number of appended rows") {
    val root = Files.createTempDirectory("footers_cdc").toString
    val out = s"$root/lake"
    MorTable.init(spark, snapshot, out)
    val cfg = TableConfig(primaryKeys = Seq("k"), mergeOnRead = true)
    def cdc(name: String, rows: Seq[(String, Long, String)]): String = {
      val f = s"$root/raw/$name"
      rows.toDF(Op.column, "k", "v").coalesce(1).write.parquet(f)
      f
    }
    // 3 updates + 2 inserts append 5 winners; the delete appends nothing
    val s1 = CdcPipeline.loadIncrementalMor(spark, Seq(cdc("c1", Seq(
      ("U", 0L, "u0"), ("U", 1L, "u1"), ("U", 2L, "u2"), ("D", 3L, "x"),
      ("I", 100L, "n100"), ("I", 101L, "n101")))), out, cfg)
    val b1 = MorTable.committedBatches(spark, out).last
    assert(s1.rowsWritten == 5L)
    assert(s1.rowsWritten == spark.read.parquet(s"$out/data/batch=$b1").count())

    val s2 = CdcPipeline.loadIncrementalMor(spark,
      Seq(cdc("c2", Seq(("D", 4L, "x"), ("D", 5L, "x")))), out, cfg)
    assert(s2.rowsWritten == 0L)
    assert(MorTable.read(spark, out).count() == 20L + 2L - 3L)
  }

  test("mergedSchema ≡ mergeSchema inference over the same dirs; partless and missing dirs are left out") {
    val root = Files.createTempDirectory("footers_schema").toString
    // the second dir reorders the first's columns and adds two, one nested
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$root/d0")
    Seq(("b", 2L, 2.5)).toDF("v", "k", "x")
      .withColumn("s", struct($"x".as("y"), lit("z").as("z"))).repartition(3)
      .write.parquet(s"$root/d1")
    val partless = s"$root/d2"
    Seq.empty[(Long, String)].toDF("k", "v").write.parquet(partless)
    val fs = new Path(partless).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(partless)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach(fs.delete(_, false))
    val dirs = Seq(s"$root/d0", s"$root/d1", partless, s"$root/missing")
    val ((schema, held), jobs) = JobCounter(spark)(ParquetFooters.mergedSchema(spark, dirs))
    assert(jobs == 0L)
    assert(held == dirs.take(2))
    // reads make every field nullable, so compare the schemas they read with
    assert(spark.read.schema(schema).parquet(held: _*).schema ==
      spark.read.option("mergeSchema", "true").parquet(held: _*).schema)
  }
}
