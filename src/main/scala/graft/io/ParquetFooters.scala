package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Row counts of parquet dirs graft wrote itself, read from the part
  * files' footers on the driver. `spark.read.parquet(dirs).count()` over
  * the same dirs lists the same files on the driver and then pays a
  * schema-inference job plus a count job; the footer already holds the
  * record count, so reading it runs no Spark job at all. */
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
    // built once: ParquetFileReader.open without options builds them from
    // a fresh Configuration per file, which costs milliseconds each
    val opts = HadoopReadOptions.builder(conf).build()
    def parts(fs: FileSystem, dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq
        .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
        .flatMap(s => if (s.isDirectory) parts(fs, s.getPath) else Seq(s))
    val files = dirs.map(new Path(_)).flatMap { d =>
      val fs = d.getFileSystem(conf)
      if (fs.exists(d)) parts(fs, d) else Nil
    }
    implicit val ec: ExecutionContext = pool
    Await.result(Future.traverse(files) { s =>
      Future {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf), opts)
        try reader.getRecordCount finally reader.close()
      }
    }, Duration.Inf)
  }
}
