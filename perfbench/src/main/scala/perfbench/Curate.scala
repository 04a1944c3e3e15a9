package perfbench

import graft.GraftLake
import graft.ops.{Bpe, Curation, Dedup, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** `docs_curate`: `documents` as a copy-on-write CDC table with a stats
  * index (min/max and bloom on `doc_id`). Each cycle lands one CDC file
  * and runs `GraftLake.sync`; its read-after-sync reads are an indexed
  * point read plus one training-data operator from each `graft.ops`
  * module over the synced lake. Every output is checked against a
  * recomputation on the driver from the generated texts. */
final class CurateWorkload(ctx: Ctx, root: String) extends Workload {
  import Gen._
  import CurateWorkload._
  private val spark = ctx.spark
  private val raw = s"$root/raw"
  private val lakeRoot = s"$root/lake"
  private val src = new DocSource(ctx.seed, ctx.scale)
  private val lake = GraftLake(spark, raw, lakeRoot, s"$root/state")
  def liveRows: Long = src.liveRows
  def keptDirs: Seq[String] = Seq(lakeRoot, s"$root/state")

  def setup(): Double = {
    writeLoad(spark, raw, Documents, src.bootstrap.map(_.row))
    lake.tables()
    lake.activate(Schema, Documents.name, primaryKeys = Documents.keys)
    val (s, _) = ctx.op("initial_load", "GraftLake", -1)(Workload.sync(lake))(_ => None)
    ctx.op("build_stats_index", "GraftLake", -1)(
      lake.buildStatsIndex(Schema, Documents.name, Seq("doc_id"), bloomCols = Seq("doc_id")))(n =>
      if (n > 0) None else Some(s"indexed $n files"))
    s.seconds
  }

  def cycle(c: Int, timed: Boolean): Unit = {
    val traced = ctx.rec.beginCycle(if (timed) c else -1)
    val changes = src.delivery(c)
    val cdcBytes = writeCdc(spark, raw, Documents, c, changes)
    val before = if (traced) Workload.lakeFiles(spark, lakeRoot) else Map.empty[String, Long]
    val (syncSpan, _) = ctx.op("sync", "GraftLake", c)(Workload.sync(lake))(_ => None)
    if (traced)
      Workload.fileReadings(ctx, lakeRoot, before, cdcBytes, changes.size,
        _.contains(s"/lake/$Schema/")): Unit

    val texts = src.texts
    val toks = texts.map { case (k, t) => k -> t.trim.split("\\s+").toSeq }
    // each read opens the lake inside its own span, as a caller would
    def docs = lake.read(Schema, Documents.name).select("doc_id", "text")
    val r = rng(ctx.seed, 9, c)

    val probe = changes.find(_.op == "U").map(_.row)
    val (point, _) = ctx.op("read.point", "StatsIndex", c) {
      probe.toSeq.flatMap(p => lake.readPrunedPoint(Schema, Documents.name, "doc_id", p.getLong(0))
        .select("doc_id", "text").collect())
    } { got =>
      if (got.map(_.toSeq) == probe.toSeq.map(_.toSeq)) None
      else Some(s"point read ${got.mkString} != generated ${probe.mkString}")
    }

    val (stats, _) = ctx.op("ops.token_stats", "TextAnalysis", c)(
      TextAnalysis.tokenStats(docs, "doc_id", "text")
        .agg(count(lit(1)), sum("n_tokens"), sum("n_distinct")).head()) { row =>
      val got = (row.getLong(0), row.getLong(1), row.getLong(2))
      val want = (toks.size.toLong, toks.values.map(_.size.toLong).sum,
        toks.values.map(_.distinct.size.toLong).sum)
      if (got == want) None else Some(s"(docs, tokens, distinct) $got, expected $want")
    }

    val (dedup, _) = ctx.op("ops.exact_dedup", "Dedup", c)(
      Dedup.exact(docs, "doc_id", "text")
        .agg(count(lit(1)), sum("n_copies"), sum("keep_id")).head()) { row =>
      val got = (row.getLong(0), row.getLong(1), row.getLong(2))
      val groups = texts.groupBy(_._2).values
      val want = (groups.size.toLong, texts.size.toLong, groups.map(_.keys.min).sum)
      if (got == want) None else Some(s"(groups, copies, sum of kept ids) $got, expected $want")
    }

    val words = Seq.fill(16)(Vocab(r.nextInt(Vocab.length))).distinct
    val (cms, _) = ctx.op("ops.count_min", "Sketches", c) {
      val cells = Sketches.cmsBuild(docs.select(explode(tokenCol).as("w")), "w", CmsDepth, CmsWidth)
        .localCheckpoint(true)
      import spark.implicits._
      val rowSums = cells.groupBy("row").agg(sum("cnt")).collect()
        .map(x => x.getAs[Number](0).intValue -> x.getAs[Number](1).longValue).toMap
      val est = Sketches.cmsEstimate(cells, words.toDF("w"), "w", CmsDepth, CmsWidth).collect()
        .map(x => x.getString(0) -> x.getAs[Number](1).longValue).toMap
      (rowSums, est)
    } { case (rowSums, est) =>
      // every token lands in one cell per row; an estimate never undercounts
      val n = toks.values.map(_.size.toLong).sum
      val freq = toks.values.flatten.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val under = words.filter(w => est.getOrElse(w, 0L) < freq.getOrElse(w, 0L))
      if (rowSums != (0 until CmsDepth).map(_ -> n).toMap)
        Some(s"row sums $rowSums, expected $n each")
      else if (under.nonEmpty) Some(s"estimates below the true count for ${under.mkString(",")}")
      else None
    }

    val (bpe, _) = ctx.op("ops.bpe", "Bpe", c) {
      val d = docs
      val merges = Bpe.trainMerges(d, "text", BpeMerges)
      val joined = Bpe.encode(d, "doc_id", "text", merges).groupBy("doc_id")
        .agg(concat_ws("", transform(array_sort(collect_list(struct(col("pos"), col("piece")))),
          x => x.getField("piece"))).as("joined"))
        .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
      (merges, joined)
    } { case (merges, joined) =>
      // the first merge is the most frequent adjacent symbol pair
      val pairs = toks.values.flatten
        .flatMap(w => w.sliding(2).filter(_.length == 2).map(p => (p.take(1), p.drop(1))))
        .groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
      val top = pairs.toSeq.minBy { case ((l, rr), n) => (-n, l, rr) }
      val first = merges.headOption.map(m => ((m.lhs, m.rhs), m.n))
      if (merges.size != BpeMerges) Some(s"${merges.size} merges, expected $BpeMerges")
      else if (!first.contains(top)) Some(s"first merge $first, expected $top")
      else if (joined != texts.map { case (k, t) => k -> t.replace(" ", "") })
        Some("encoded pieces do not spell the documents")
      else None
    }

    val (outliers, _) = ctx.op("ops.length_outliers", "Curation", c)(
      Curation.lengthOutliers(docs.withColumn("domain", pmod(col("doc_id"), lit(Domains.toLong))),
        "doc_id", "text", "domain", k = OutlierK)
        .groupBy("domain").agg(first("med"), first("mad"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)), count(lit(1)))
        .collect().map(x =>
          x.getLong(0) -> (x.getDouble(1), x.getDouble(2), x.getLong(3), x.getLong(4))).toMap
    ) { got =>
      val want = toks.groupBy(_._1 % Domains).map { case (d, ds) =>
        val lens = ds.values.map(_.size.toDouble).toSeq
        val med = percentile(lens)
        val dev = lens.map(l => math.abs(l - med))
        val mad = percentile(dev)
        d -> (med, mad, dev.count(_ > OutlierK * mad).toLong, lens.size.toLong)
      }
      if (got == want) None
      else Some(s"per-domain (median, MAD, outliers, docs) $got, expected $want")
    }

    val qids = new scala.util.Random(r.nextLong())
      .shuffle(texts.keys.toSeq.sorted).take(KnnQueries)
    val (knn, _) = ctx.op("ops.knn", "Similarity", c) {
      val corpus = docs.select(col("doc_id"), vecCol.as("vec"))
      Similarity.bruteForceKnn(corpus,
        corpus.where(col("doc_id").isin(qids: _*)).select(col("doc_id").as("qid"), col("vec")),
        "doc_id", "vec", "qid", KnnK).collect()
        .map(x => (x.getAs[Long]("qid"), x.getAs[Long]("rank"), x.getAs[Long]("doc_id"),
          x.getAs[Double]("cos"))).toSeq.sorted
    } { got =>
      val vecs = toks.map { case (k, ws) => k -> vecOf(ws) }
      val want = qids.flatMap { q =>
        vecs.toSeq.filter(_._1 != q).map { case (k, v) => (k, cosine(vecs(q), v)) }
          .sortBy { case (k, cs) => (-cs, k) }.take(KnnK).zipWithIndex
          .map { case ((k, cs), i) => (q, i + 1L, k, cs) }
      }.sorted
      if (got == want) None
      else Some(s"${got.diff(want).size} neighbours differ from brute force on the driver")
    }

    val reads = Seq(point, stats, dedup, cms, bpe, outliers, knn)
    if (timed) ctx.sample(Seq(syncSpan), Seq(reads), changes.size)
    ctx.heapPeakMb = math.max(ctx.heapPeakMb, Trace.heapAfterGcMb())
  }

  def verify(): Unit = ctx.verify("oracle.documents") {
    val d = diff(conform(lake.read(Schema, Documents.name), Documents),
      expected(spark, raw, Documents))
    if (d == 0) None else Some(s"lake differs from the oracle in $d rows")
  }
}

object CurateWorkload {
  val CmsDepth = 4
  val CmsWidth = 2048
  val BpeMerges = 3
  val Domains = 4
  val OutlierK = 2.0
  val KnnQueries = 8
  val KnnK = 10
  val Dims = 16

  /** The operators' tokenizer: whitespace split of the trimmed text. */
  private def tokenCol: Column = split(trim(col("text")), "\\s+")

  /** A bag-of-tokens vector: token `w` counts in dim
    * (code of its last char + its length) mod [[Dims]]. */
  private def vecCol: Column = {
    val t = tokenCol
    transform(sequence(lit(0), lit(Dims - 1)), i =>
      size(filter(t, w => pmod(ascii(substring(w, -1, 1)) + length(w), lit(Dims)) === i))
        .cast("float"))
  }
  def vecOf(ws: Seq[String]): Array[Float] = {
    val v = new Array[Float](Dims)
    ws.foreach(w => v((w.last.toInt + w.length) % Dims) += 1f)
    v
  }

  /** Cosine in the order `graft.expressions.CosineSimilarityExpr` takes. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]) = {
      var acc = 0.0
      var i = 0
      while (i < math.min(x.length, y.length)) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
      acc
    }
    val n = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    if (n == 0.0) 0.0 else dot(a, b) / n
  }

  /** Spark's `percentile(x, 0.5)`: linear interpolation between the two
    * middle values. */
  def percentile(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val pos = (s.size - 1) * 0.5
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }
}
