package graft.queries

import graft.SparkSpec

import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** ConcurrentHashMap's bin for `key` in a fresh (16-bin) table. */
  private def bin(key: String): Int = { val h = key.hashCode; (h ^ (h >>> 16)) & 15 }

  test("events caches its normalized read even when it shares a bin with the raw read") {
    val root = Files.createTempDirectory("tables_bin").toString
    // an sfDir whose raw and normalized cache keys collide, so a mapping
    // function that caches the raw read would update its own bin
    val sfDir = Iterator.from(0).map(i => s"$root/sf$i")
      .find(d => bin(s"$d/events.parquet") == bin(s"$d/events.parquet#normalized")).get
    Seq((1L, 1000L), (2L, 2000L)).toDF("id", "ts").write.parquet(s"$sfDir/events.parquet")
    val session = spark.newSession() // a fresh per-session cache
    val events = Tables.events(session, sfDir)
    assert(events.as[(Long, Long)].collect().toSet == Set((1L, 1000L), (2L, 2000L)))
    assert(Tables.events(session, sfDir) eq events, "the normalized read is cached")
  }

  test("a stopped session's cached reads are released") {
    // stopping a session stops its SparkContext, so the check runs in a
    // child JVM with its own, under this JVM's flags and classpath
    val root = Files.createTempDirectory("tables_stop").toString
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ flags ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        TablesStopCheck.getClass.getName.stripSuffix("$"), root)
    val out = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, out.toString)
    assert(out.toString.contains("cached before stop: 1, after stop: 0"))
  }
}
