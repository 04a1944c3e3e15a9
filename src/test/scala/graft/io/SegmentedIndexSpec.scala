package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SegmentedIndexSpec extends SparkSpec {
  import spark.implicits._

  test("a tombstone write lands as one file, whatever its rows' partitioning; a replay no-ops") {
    val t = "seg_tomb_files"
    val tombT = SegmentedIndex.tombstoneTable(t)
    SegmentedIndex.initTombstones(spark, t,
      Seq.empty[(Long, Long)].toDF("id", "below_seg"))
    def files(): Set[String] = {
      spark.catalog.refreshTable(tombT)
      spark.table(tombT).inputFiles.toSet
    }
    val before = files()
    // eight non-empty partitions, like a bucketed derivation's tasks
    val rows = spark.range(100).select($"id", lit(1L).as("below_seg")).repartition(8)
    SegmentedIndex.tombstoneSegment(spark, t, rows, 1L)
    assert((files() -- before).size == 1)
    assert(spark.table(tombT).where($"below_seg" === 1L).count() == 100L)
    SegmentedIndex.tombstoneSegment(spark, t, rows, 1L)
    assert(spark.table(tombT).count() == 100L)
    spark.sql(s"DROP TABLE IF EXISTS $tombT")
  }
}
