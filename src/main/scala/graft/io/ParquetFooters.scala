package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{GraftSchemaShim, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Row counts and schemas of parquet dirs graft wrote itself, read from
  * the part files' footers on the driver. `spark.read.parquet(dirs)`
  * over the same dirs lists the same files on the driver and then pays a
  * schema-inference job (and `.count()` a count job); the footer already
  * holds the record count and the schema, so reading it runs no Spark
  * job at all. */
object ParquetFooters {

  /** Footer reads in flight at once. Each read is an open plus a tail
    * read, so on an object store it is latency-bound; a small fixed pool
    * overlaps those round trips without growing with the file count. */
  private val Threads = 8
  private lazy val pool: ExecutionContext = {
    val n = new AtomicLong(0L)
    val factory: ThreadFactory = { r =>
      val t = new Thread(r, s"graft-footers-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(Threads, factory))
  }

  /** Footer record count of every part file under `dirs`, one entry per
    * file (so `.size` is the file count and `.sum` the row count).
    * Like Spark's file index it skips `_`- and `.`-prefixed names
    * (`_SUCCESS`, checksum files, `_temporary`) and descends into the
    * rest; a dir that does not exist holds no rows. */
  def partRowCounts(spark: SparkSession, dirs: Seq[String]): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val opts = readOptions(spark)
    def parts(fs: FileSystem, dir: Path): Seq[FileStatus] =
      listParts(fs, dir).flatMap(s => if (s.isDirectory) parts(fs, s.getPath) else Seq(s))
    val files = dirs.map(new Path(_)).flatMap { d =>
      val fs = d.getFileSystem(conf)
      if (fs.exists(d)) parts(fs, d) else Nil
    }
    inPool(files) { s =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf), opts)
      try reader.getRecordCount finally reader.close()
    }
  }

  /** The schema of the part files directly under `dirs`, merged in
    * `dirs` order, and the dirs that hold a part file. Each dir must be
    * the output of ONE write, so all of its parts carry one schema: one
    * listing and one footer per dir stand for every file in it (a
    * `mergeSchema` read opens every footer, in a Spark job). Footers
    * convert and merge by Spark's own rules — the converter from the
    * session conf, `ParquetFileFormat.readSchemaFromFooter`, and the
    * case-sensitivity `mergeSchema` merges with — so a read given this
    * schema has the schema `spark.read.option("mergeSchema", "true")`
    * infers for the same parts. Names starting `_` or `.` are skipped like Spark's file index
    * does; a dir that does not exist or holds no part is left out. */
  def mergedSchema(spark: SparkSession, dirs: Seq[String]): (StructType, Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val opts = readOptions(spark)
    val sqlConf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(sqlConf)
    val perDir = inPool(dirs) { d =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(conf)
      val part =
        try listParts(fs, dir).filterNot(_.isDirectory).headOption
        catch { case _: java.io.FileNotFoundException => None }
      part.map { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf), opts)
        val footer = try reader.getFooter finally reader.close()
        d -> ParquetFileFormat.readSchemaFromFooter(new Footer(s.getPath, footer), converter)
      }
    }.flatten
    val merged = perDir.map(_._2).reduceOption(
      GraftSchemaShim.merge(_, _, sqlConf.caseSensitiveAnalysis))
    (merged.getOrElse(new StructType()), perDir.map(_._1))
  }

  /** Parquet read options, built once per call: `ParquetFileReader.open`
    * without options builds them from a fresh Configuration per file,
    * which costs milliseconds each. */
  private def readOptions(spark: SparkSession) =
    HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()

  /** `dir`'s entries minus `_`/`.`-prefixed names, as Spark's file index
    * skips them (`_SUCCESS`, checksum files, `_temporary`). */
  private def listParts(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }

  /** `f` over `xs` on the footer pool, results in `xs` order. */
  private def inPool[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    implicit val ec: ExecutionContext = pool
    Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
  }
}
