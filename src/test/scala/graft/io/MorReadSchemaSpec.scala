package graft.io

import graft.{JobCounter, SparkSpec}
import graft.cdc.{Merge, Op}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** MOR reads planned from footer schemas ≡ the reads Spark's schema
  * inference planned (`mergeSchema` over the data dirs, inferred
  * sidecar schemas) — same schema, same rows — on every layout a
  * table's lifecycle leaves behind, and building the read starts no
  * Spark job. */
class MorReadSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def fs(base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The inference-planned read of the commit prefix ≤ `upTo`. */
  private def inferredRead(base: String, upTo: Option[Long] = None): DataFrame = {
    val f = fs(base)
    val batches = MorTable.committedBatches(spark, base).filter(b => upTo.forall(b <= _))
    def dirs(sub: String) =
      batches.map(b => s"$base/$sub/batch=$b").filter(d => f.exists(new Path(d)))
    def withParts(sub: String) = dirs(sub).filter(d =>
      f.listStatus(new Path(d)).exists(_.getPath.getName.endsWith(".parquet")))
    val data = spark.read.option("mergeSchema", "true")
      .option("basePath", s"$base/data").parquet(dirs("data"): _*)
      .withColumn("__f", col("_metadata.file_path"))
      .withColumn("__p", col("_metadata.row_index"))
      .withColumn("__b", col("batch")).drop("batch")
    val afterPos = withParts("deletes") match {
      case Nil => data
      case ds =>
        val p = spark.read.option("basePath", s"$base/deletes").parquet(ds: _*)
        data.join(p, data("__f") === p("df_file") && data("__p") === p("df_pos"), "left_anti")
    }
    val live = withParts("deletes_eq") match {
      case Nil => afterPos
      case ds =>
        val raw = spark.read.option("basePath", s"$base/deletes_eq").parquet(ds: _*)
        val pks = raw.columns.filterNot(_ == "batch").toSeq
        val eq = raw.select(pks.map(c => col(c).as(s"__eq_$c")) :+ col("batch").as("__eq_b"): _*)
        val on: Column = pks.map(c => afterPos(c) <=> eq(s"__eq_$c")).reduce(_ && _) &&
          eq("__eq_b") > afterPos("__b")
        afterPos.join(eq, on, "left_anti")
    }
    live.drop("__f", "__p", "__b")
  }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  /** `read` and `readAsOf` of every committed batch (or only the latest)
    * equal the inference-planned reads and plan without a job. */
  private def checkReads(base: String, history: Boolean = true): Unit = {
    val (live, jobs) = JobCounter(spark)(MorTable.read(spark, base))
    assert(jobs == 0L, s"building the read ran $jobs Spark jobs")
    sameRows(live, inferredRead(base))
    val batches = MorTable.committedBatches(spark, base)
    (if (history) batches else batches.takeRight(1)).foreach { b =>
      val (asOf, asOfJobs) = JobCounter(spark)(MorTable.readAsOf(spark, base, b))
      assert(asOfJobs == 0L, s"building readAsOf($b) ran $asOfJobs Spark jobs")
      sameRows(asOf, inferredRead(base, Some(b)))
    }
  }

  /** The latest commit's `commitDiff` ≡ the value diff of the
    * inference-planned states before and after it; a merge commit's
    * diff plans without a job. */
  private def checkDiff(base: String, mergeCommit: Boolean): Unit = {
    val b = MorTable.committedBatches(spark, base).last
    val (diff, jobs) = JobCounter(spark)(MorTable.commitDiff(spark, base, b, Seq("k"), Seq("v")))
    if (mergeCommit) assert(jobs == 0L, s"building commitDiff($b) ran $jobs Spark jobs")
    val pre = inferredRead(base, Some(b - 1)).select($"k", lit(true).as("__pre"), $"v".as("pre_v"))
    val post = inferredRead(base, Some(b)).select($"k", lit(true).as("__post"), $"v".as("post_v"))
    val want = pre.join(post, Seq("k"), "full_outer")
      .where($"__pre".isNull || $"__post".isNull || !($"pre_v" <=> $"post_v"))
      .select($"k", when($"__pre".isNull, lit(Op.Insert)).when($"__post".isNull, lit(Op.Delete))
        .otherwise(lit(Op.Update)).as("change_op"), $"pre_v", $"post_v")
    assert(diff.as[(Long, String, String, String)].collect().toSet ==
      want.as[(Long, String, String, String)].collect().toSet)
  }

  private def batch(seq: Long, rows: Seq[(String, Long, String)]): DataFrame =
    rows.toDF(Op.column, "k", "v").withColumn(Merge.FileSeq, lit(seq))

  test("footer-schema reads ≡ inference reads through merges, an added column, an all-delete batch, compact and vacuum, with zero jobs") {
    val base = Files.createTempDirectory("mor_schema").toString + "/t"
    MorTable.init(spark, spark.range(20).select(lit(Op.Insert).as(Op.column), $"id".as("k"),
      concat(lit("v"), $"id").as("v")), base, maxRecordsPerFile = 5L)
    checkReads(base)

    MorTable.merge(spark, batch(1L, (0L until 12L).map(i => ("U", i, s"u$i")) :+
      (("I", 100L, "n100"))), base, Seq("k"))
    checkReads(base)
    checkDiff(base, mergeCommit = true)

    // a later batch adds a column: earlier batches read it as null
    MorTable.merge(spark, batch(2L, Seq(("U", 1L, "w1"), ("I", 101L, "n101")))
      .withColumn("w", concat(lit("x"), $"k")), base, Seq("k"))
    assert(MorTable.read(spark, base).columns.contains("w"))
    checkReads(base)
    checkDiff(base, mergeCommit = true)

    // all-delete batch: a zero-row part, then (as a write whose tasks all
    // come up empty leaves it) no part at all
    MorTable.merge(spark, batch(3L, Seq(("D", 19L, "x"))), base, Seq("k"))
    checkReads(base)
    checkDiff(base, mergeCommit = true)
    val f = fs(base)
    val lastData = new Path(s"$base/data/batch=${MorTable.committedBatches(spark, base).last}")
    f.listStatus(lastData).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach(f.delete(_, false))
    checkReads(base)
    checkDiff(base, mergeCommit = true)

    assert(MorTable.compact(spark, base, minDeadFraction = 0.3).nonEmpty)
    checkReads(base)
    checkDiff(base, mergeCommit = false)

    MorTable.merge(spark, batch(5L, Seq(("U", 2L, "z2"), ("D", 3L, "x"))), base, Seq("k"))
    checkReads(base)
    checkDiff(base, mergeCommit = true)

    // vacuum sweeps history, so only the current state is checked after it
    MorTable.vacuum(spark, base)
    checkReads(base, history = false)
    assert(MorTable.read(spark, base).count() == 20L + 2L - 2L)
  }
}
