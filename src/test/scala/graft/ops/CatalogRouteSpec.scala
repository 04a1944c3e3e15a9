package graft.ops

import graft.{JobCounter, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Probed IVF reads route through the METASTORE when a registration
  * exists: partition pruning then happens on catalog metadata, so no
  * distributed directory-listing job runs — the path-based read pays
  * one on every probe once the directory count crosses
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (forced to
  * 1 here so the 4-cluster fixture is "above threshold"). Results must
  * be identical either way. */
class CatalogRouteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select("vec_id", "embedding").localCheckpoint(true)
  private lazy val cents = Similarity.kMeans(emb, "vec_id", "embedding",
    "cid", k = 4, iters = 3).localCheckpoint(true)
  // ONE query probing ONE cluster: the catalog route then lists a single
  // selected partition directory (below even the forced threshold of 1),
  // while the path route must discover ALL cluster directories first.
  private lazy val queries = emb.where($"vec_id" === 0L)
    .select($"vec_id".as("qid"), $"embedding").localCheckpoint(true)

  private def listingJobs(body: => Unit): Long =
    JobCounter(spark, j =>
      Option(j.properties.getProperty("spark.job.description")).getOrElse("")
        .startsWith("Listing leaf files"))(body)._2

  private def knn(maskDir: String): Set[(Long, Long, Long)] =
    Similarity.binaryIvfKnn(spark, maskDir, emb, queries, cents,
      "vec_id", "embedding", "qid", "cid", k = 3, shortlist = 10, nprobe = 1)
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Long)]
      .collect().toSet

  test("registered probes skip the directory-listing job; results identical to the path read") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cat").toString + "/m"
    val masks = Similarity.binaryMasks(
        Similarity.ivfAssign(emb, cents, "vec_id", "embedding", "cid"),
        "embedding")
      .select($"vec_id", $"mask_lo", $"mask_hi", $"cluster")
    Similarity.writeIvfIndex(masks, dir)
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1")
    // the path-status cache would hide repeat listings — disable the
    // effect by clearing it between probes
    def coldCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      org.apache.spark.sql.execution.datasources.FileStatusCache
        .getOrCreate(spark).invalidateAll()
    }
    try {
      coldCaches()
      var pathRes: Set[(Long, Long, Long)] = null
      val pathListings = listingJobs { pathRes = knn(dir) }
      assert(pathListings > 0,
        "sentinel: the path-based probe must pay a listing job above the threshold")

      Similarity.registerIvfIndex(spark, dir, "ivf_cat_route_spec")
      coldCaches()
      var catRes: Set[(Long, Long, Long)] = null
      val catListings = listingJobs { catRes = knn(dir) }
      assert(catListings == 0,
        s"catalog-routed probe must not launch a listing job (saw $catListings)")
      assert(catRes == pathRes && catRes.nonEmpty,
        "catalog and path probes must answer identically")

      // maintenance keeps the catalog exact: delete every doc of one
      // cluster, the probe (still catalog-routed) matches a fresh path
      // read with the registration removed
      val victim = spark.table("ivf_cat_route_spec")
        .groupBy($"cluster".cast("long").as("c")).count()
        .orderBy("count", "c").head().getLong(0)
      val dels = spark.table("ivf_cat_route_spec")
        .where($"cluster".cast("long") === victim)
        .select("vec_id").join(emb, Seq("vec_id"))
        .select($"vec_id", $"embedding", lit("D").as("op"))
      Similarity.updateBinaryIvfIndex(spark, dels, cents, "vec_id",
        "embedding", "cid", "op", dir, "cat_d1")
      assert(spark.table("ivf_cat_route_spec")
        .where($"cluster".cast("long") === victim).isEmpty,
        "dropped partition must leave the catalog entry")
    } finally {
      spark.conf.unset("spark.sql.sources.parallelPartitionDiscovery.threshold")
      spark.sql("DROP TABLE IF EXISTS ivf_cat_route_spec")
    }
  }

  test("a registered id-map routes the DELIVERY's map read through the catalog (zero listing jobs)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_map_cat").toString + "/idx"
    val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding", "cid")
      .select($"vec_id", $"embedding", $"cluster").localCheckpoint(true)
    Similarity.writeIvfIndex(assigned, dir)
    Similarity.buildIvfIdMap(spark, dir, "vec_id")
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1")
    def coldCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      org.apache.spark.sql.execution.datasources.FileStatusCache
        .getOrCreate(spark).invalidateAll()
    }
    // a ONE-id update whose vector is unchanged: old cluster == new
    // cluster, so the delivery touches one id_bucket and one cluster
    // partition — any listing job left is the map/index DISCOVERY scan,
    // not per-partition file listing
    val chg = emb.where($"vec_id" === 3L)
      .select($"vec_id", $"embedding", lit("U").as("op")).localCheckpoint(true)
    try {
      coldCaches()
      val pathListings = listingJobs {
        Similarity.updateIvfIndex(spark, chg, cents, "vec_id", "embedding",
          "cid", "op", dir, "map_route_1")
      }
      assert(pathListings > 0,
        "sentinel: the unregistered delivery must pay a directory-listing job above the threshold")

      Similarity.registerIvfIndex(spark, dir, "ivf_map_route_spec")
      assert(spark.catalog.tableExists("ivf_map_route_spec_idmap"),
        "registerIvfIndex must register the id-map sidecar alongside the index")
      coldCaches()
      val catListings = listingJobs {
        Similarity.updateIvfIndex(spark, chg, cents, "vec_id", "embedding",
          "cid", "op", dir, "map_route_2")
      }
      assert(catListings == 0,
        s"a fully-registered delivery must launch no listing job (saw $catListings)")
      // and the maintained state is exact: the index still equals a
      // from-scratch assignment (the update was a same-vector no-op)
      val got = spark.table("ivf_map_route_spec")
        .select($"vec_id", $"cluster".cast("long").as("cluster"))
        .as[(Long, Long)].collect().toSet
      val want = assigned.select($"vec_id", $"cluster".cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(got == want, "maintained index must equal the from-scratch assignment")
      // the map agrees row-for-row with the index (no duplicates, no strays)
      val mapRows = spark.table("ivf_map_route_spec_idmap")
        .select($"vec_id", $"cluster".cast("long").as("cluster"))
        .as[(Long, Long)].collect().toSeq
      assert(mapRows.size == mapRows.toSet.size, "map must hold one row per id")
      assert(mapRows.toSet == want, "map must mirror the index's (id, cluster) pairs")
    } finally {
      spark.conf.unset("spark.sql.sources.parallelPartitionDiscovery.threshold")
      spark.sql("DROP TABLE IF EXISTS ivf_map_route_spec")
      spark.sql("DROP TABLE IF EXISTS ivf_map_route_spec_idmap")
    }
  }

  test("rebuild over a registered index re-syncs BOTH catalog entries (no stale partitions)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_reb_cat").toString + "/idx"
    val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding", "cid")
      .select($"vec_id", $"embedding", $"cluster").localCheckpoint(true)
    Similarity.writeIvfIndex(assigned, dir)
    Similarity.buildIvfIdMap(spark, dir, "vec_id")
    Similarity.registerIvfIndex(spark, dir, "ivf_rebuild_spec")
    try {
      // REBUILD with a different centroid set: clusters renumber, old
      // cluster dirs vanish, the map is dropped — the catalog must track
      // all of it without a manual re-register
      val cents2 = Similarity.kMeans(emb, "vec_id", "embedding", "cid",
        k = 3, iters = 2).localCheckpoint(true)
      val assigned2 = Similarity.ivfAssign(emb, cents2, "vec_id", "embedding", "cid")
        .select($"vec_id", $"embedding", $"cluster").localCheckpoint(true)
      Similarity.writeIvfIndex(assigned2, dir)
      val got = spark.table("ivf_rebuild_spec")
        .select($"vec_id", $"cluster".cast("long").as("cluster"))
        .as[(Long, Long)].collect().toSet
      val want = assigned2.select($"vec_id", $"cluster".cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(got == want,
        "catalog-routed read after an in-place rebuild must see the NEW build")
      // the old map registration must be gone (its data was invalidated);
      // the next update lazily rebuilds and re-registers it
      assert(!spark.catalog.tableExists("ivf_rebuild_spec_idmap") ||
        spark.table("ivf_rebuild_spec_idmap").isEmpty,
        "a rebuilt index must not leave a stale registered map")
      Similarity.updateIvfIndex(spark,
        emb.where($"vec_id" === 5L)
          .select($"vec_id", $"embedding", lit("U").as("op")),
        cents2, "vec_id", "embedding", "cid", "op", dir, "reb_u1")
      assert(spark.catalog.tableExists("ivf_rebuild_spec_idmap"),
        "the lazy map backfill must self-register under a registered index")
      val mapRows = spark.table("ivf_rebuild_spec_idmap")
        .select($"vec_id", $"cluster".cast("long").as("cluster"))
        .as[(Long, Long)].collect().toSet
      assert(mapRows == want, "the re-registered map must mirror the new build")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_rebuild_spec")
      spark.sql("DROP TABLE IF EXISTS ivf_rebuild_spec_idmap")
    }
  }

  test("an append creating a NEW cluster partition syncs the catalog entry") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cat_app").toString + "/m"
    val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding", "cid")
      .select($"vec_id", $"embedding", $"cluster").localCheckpoint(true)
    // base index misses one whole cluster; the append introduces it
    val clusters = assigned.select($"cluster".cast("long")).distinct()
      .as[Long].collect().sorted
    assert(clusters.length >= 2, "fixture needs >= 2 clusters")
    val missing = clusters.last
    Similarity.writeIvfIndex(assigned.where($"cluster".cast("long") =!= missing), dir)
    Similarity.registerIvfIndex(spark, dir, "ivf_cat_append_spec")
    try {
      assert(spark.table("ivf_cat_append_spec")
        .where($"cluster".cast("long") === missing).isEmpty)
      Similarity.appendToIvfIndex(spark,
        assigned.where($"cluster".cast("long") === missing), dir, "a1")
      // the catalog-routed read must see the appended partition with NO
      // re-registration (maintenance synced the entry)
      val got = spark.table("ivf_cat_append_spec")
        .where($"cluster".cast("long") === missing).count()
      val want = assigned.where($"cluster".cast("long") === missing).count()
      assert(got == want && got > 0,
        s"appended partition invisible through the catalog: $got vs $want")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_cat_append_spec")
  }
}
