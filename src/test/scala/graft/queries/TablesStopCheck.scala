package graft.queries

import org.apache.spark.sql.SparkSession

/** Child-JVM half of the `TablesSpec` release check: its own session
  * caches a `Tables` read, then stops; prints how many sessions the
  * cache held before and after the stop and exits 0 iff the stop
  * released the one it held. Usage: `TablesStopCheck <work dir>`. */
object TablesStopCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[1]").appName("tables-stop")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.range(3).write.parquet(s"$dir/t.parquet")
    Tables(spark, dir, "t").count(): Unit
    val before = Tables.cachedSessions
    spark.stop()
    val after = Tables.cachedSessions
    println(s"cached before stop: $before, after stop: $after")
    sys.exit(if (before == 1 && after == 0) 0 else 1)
  }
}
