package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded DMS-style raw input (TPC-H-shaped `orders`, `lineitem`,
  * `customer` and a `documents` corpus) plus an oracle for the lake state
  * it must produce.
  *
  * Every generated row is a pure function of (seed, table, key, version),
  * and the keys each cycle touches come from a seeded stream, so the same
  * seed lands identical change files. The live key sets are tracked on the
  * driver, which is what the per-cycle checks compare against. */
object Gen {
  val Schema = "db"
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Common = Array("batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "vector", "table", "join", "index", "merge", "file", "lake", "stream", "delta")
  /** Zipf-ish vocabulary: a few common words, a long tail of rare ones. */
  val Vocab: Array[String] = Common ++ (0 until 470).map(i => f"tok$i%03d")
  private val DayMs = 86400000L
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00:00Z

  /** Table sizes of one lake instance. */
  final case class Scale(orders: Int, customers: Int, docs: Int)
  val DefaultScale = Scale(orders = 20000, customers = 2000, docs = 2000)

  final case class Spec(name: String, keys: Seq[String], partitionKeys: Seq[String],
                        schema: StructType) {
    def cols: Seq[String] = schema.fieldNames.toSeq
  }

  private def st(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val Orders = Spec("orders", Seq("o_orderkey"), Seq("o_orderpriority"), st(
    "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
    "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
    "o_orderpriority" -> StringType, "o_comment" -> StringType))
  val Lineitem = Spec("lineitem", Seq("l_orderkey", "l_linenumber"), Nil, st(
    "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
    "l_linestatus" -> StringType, "l_shipdate" -> TimestampType, "l_comment" -> StringType))
  val Customer = Spec("customer", Seq("c_custkey"), Seq("c_nationkey"), st(
    "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
    "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType, "c_comment" -> StringType))
  val Documents = Spec("documents", Seq("doc_id"), Nil, st(
    "doc_id" -> LongType, "text" -> StringType))

  /** splitmix64 finalizer: a well-mixed 64-bit hash of the inputs. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(mix(seed + 0x9E3779B97F4A7C15L))((h, p) => mix(h ^ p)))

  private def words(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(Vocab((Vocab.length * math.pow(r.nextDouble(), 2.5)).toInt)).mkString(" ")
  private def ts(r: SplittableRandom): Timestamp =
    new Timestamp(Epoch1992 + r.nextInt(2400) * DayMs)

  def ordersRow(seed: Long, key: Long, ver: Int, customers: Int): Row = {
    val r = rng(seed, 1, key, ver)
    Row(key, 1L + r.nextInt(customers), Seq("O", "F", "P")(r.nextInt(3)),
      r.nextInt(50000000) / 100.0, ts(r), Priorities(r.nextInt(Priorities.length)),
      s"v$ver ${words(r, 3)}")
  }
  def lineRow(seed: Long, okey: Long, line: Int, ver: Int): Row = {
    val r = rng(seed, 2, okey * 64 + line, ver)
    Row(okey, 1L + r.nextInt(20000), 1L + r.nextInt(1000), line, 1.0 + r.nextInt(50),
      r.nextInt(10000000) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)), ts(r),
      s"v$ver ${words(r, 2)}")
  }
  def customerRow(seed: Long, key: Long, ver: Int): Row = {
    val r = rng(seed, 3, key, ver)
    Row(key, f"Customer#$key%09d", r.nextInt(25), (r.nextInt(1100000) - 100000) / 100.0,
      Segments(r.nextInt(Segments.length)), s"v$ver ${words(r, 3)}")
  }
  def docRow(seed: Long, key: Long, ver: Int): Row = {
    val r = rng(seed, 4, key, ver)
    Row(key, words(r, 20 + r.nextInt(60)))
  }

  /** `n` seeded probe queries: a common word (in turn, so every batch
    * probes the same heavy posting lists and batch cost does not hinge on
    * the seed) plus 0–2 random rare words. */
  def queries(seed: Long, salt: Int, n: Int): Seq[(Long, String)] = {
    val r = rng(seed, 5, salt)
    (0 until n).map { i =>
      val rare = Seq.fill(r.nextInt(3))(Vocab(Common.length + r.nextInt(Vocab.length - Common.length)))
      (i.toLong, (Common(i % Common.length) +: rare).mkString(" "))
    }
  }

  /** One change row as landed: op code + the table's columns. */
  final case class Change(op: String, row: Row)

  /** Live single-column keys: a bitset plus the next fresh key. */
  final class Keys(n: Int) {
    val live = new java.util.BitSet()
    live.set(1, n + 1)
    var next: Long = n + 1L
    def count: Int = live.cardinality()
    def isLive(k: Long): Boolean = k > 0 && k < Int.MaxValue && live.get(k.toInt)
    def liveIn(lo: Long, hi: Long): Int = // keys in [lo, hi)
      live.get(math.max(lo, 0L).toInt, math.max(hi, 0L).toInt).cardinality()
  }

  /** Draw `n` distinct live keys from [lo, next), by rejection; widens to
    * the whole key range when the window runs dry. */
  private def pick(r: SplittableRandom, n: Int, lo0: Long, hi: Long,
                   ok: Long => Boolean, taken: mutable.Set[Long]): Seq[Long] = {
    val out = mutable.ArrayBuffer.empty[Long]
    var lo = math.max(1L, lo0)
    var widened = lo == 1L
    var tries = 0
    while (out.size < n && lo < hi) {
      if (tries > 50 * n + 1000) {
        if (widened) return out.toSeq
        lo = 1L; widened = true; tries = 0
      }
      val k = lo + r.nextLong(hi - lo)
      if (ok(k) && taken.add(k)) out += k
      tries += 1
    }
    out.toSeq
  }

  /** Share of each table's live rows a lake cycle changes. */
  val LakeRate = 0.01
  /** Share of live documents a delivery changes. */
  val DocRate = 0.02

  /** The three-table lake source: LOAD snapshot, then one CDC batch per
    * cycle with ~[[LakeRate]] of each table's live rows changed (80% U,
    * 10% D, 10% I with new keys). Orders and lineitem changes fall in the
    * newest 10% of order keys; customer changes are uniform. */
  final class LakeSource(val seed: Long, val scale: Scale) {
    val orders = new Keys(scale.orders)
    val customers = new Keys(scale.customers)
    /** Live line numbers per order key, as a bitmask (lines 1..63). */
    private val lines = mutable.LongMap.empty[Long]
    private def linesOf(k: Long) = 1 + rng(seed, 6, k).nextInt(7)
    (1L to scale.orders.toLong).foreach(k => lines(k) = ((1L << linesOf(k)) - 1) << 1)
    def lineCount: Long = lines.valuesIterator.map(m => java.lang.Long.bitCount(m).toLong).sum
    def liveRows: Long = orders.count.toLong + customers.count + lineCount

    def load: Map[Spec, Seq[Row]] = Map(
      Orders -> (1L to scale.orders.toLong).map(ordersRow(seed, _, 0, scale.customers)),
      Lineitem -> (1L to scale.orders.toLong).flatMap { k =>
        (1 to linesOf(k)).map(lineRow(seed, k, _, 0)) },
      Customer -> (1L to scale.customers.toLong).map(customerRow(seed, _, 0)))

    /** The changes of cycle `ver` (≥ 1); advances the live key sets. */
    def cycle(ver: Int): Map[Spec, Seq[Change]] = {
      val r = rng(seed, 7, ver)
      def split(live: Long) = {
        val n = math.max(10L, math.round(live * LakeRate)).toInt
        (n * 8 / 10, n / 10, n - n * 8 / 10 - n / 10)
      }
      val window = math.max(1L, (orders.next - 1) / 10)
      val recentLo = orders.next - window

      // orders: U/D in the recent window, I as fresh keys
      val (ou, od, oi) = split(orders.count)
      val taken = mutable.Set.empty[Long]
      val oU = pick(r, ou, recentLo, orders.next, orders.isLive, taken)
      val oD = pick(r, od, recentLo, orders.next, orders.isLive, taken)
      val oI = (0 until oi).map(i => orders.next + i)
      oD.foreach(k => orders.live.clear(k.toInt))
      oI.foreach(k => orders.live.set(k.toInt))
      orders.next += oi
      val oRows =
        oU.map(k => Change("U", ordersRow(seed, k, ver, scale.customers))) ++
          oD.map(k => Change("D", ordersRow(seed, k, ver, scale.customers))) ++
          oI.map(k => Change("I", ordersRow(seed, k, ver, scale.customers)))

      // lineitem: U/D of live lines of recent orders; I = the new orders' lines
      val (lu, ld, _) = split(lineCount)
      val lineTaken = mutable.Set.empty[Long]
      def pickLines(n: Int): Seq[(Long, Int)] = {
        val out = mutable.ArrayBuffer.empty[(Long, Int)]
        var tries = 0
        while (out.size < n && tries < 100 * n + 1000) {
          tries += 1
          val k = recentLo + r.nextLong(window)
          val m = lines.getOrElse(k, 0L)
          if (m != 0L) {
            val bits = (1 to 63).filter(b => (m & (1L << b)) != 0L)
            val b = bits(r.nextInt(bits.size))
            if (lineTaken.add(k * 64 + b)) out += ((k, b))
          }
        }
        out.toSeq
      }
      val lU = pickLines(lu)
      val lD = pickLines(ld)
      lD.foreach { case (k, b) => lines(k) = lines(k) & ~(1L << b) }
      val lI = oI.flatMap { k =>
        val n = linesOf(k)
        lines(k) = ((1L << n) - 1) << 1
        (1 to n).map(b => (k, b))
      }
      val lRows =
        lU.map { case (k, b) => Change("U", lineRow(seed, k, b, ver)) } ++
          lD.map { case (k, b) => Change("D", lineRow(seed, k, b, ver)) } ++
          lI.map { case (k, b) => Change("I", lineRow(seed, k, b, ver)) }

      // customer: uniform
      val (cu, cd, ci) = split(customers.count)
      val cTaken = mutable.Set.empty[Long]
      val cU = pick(r, cu, 1, customers.next, customers.isLive, cTaken)
      val cD = pick(r, cd, 1, customers.next, customers.isLive, cTaken)
      val cI = (0 until ci).map(i => customers.next + i)
      cD.foreach(k => customers.live.clear(k.toInt))
      cI.foreach(k => customers.live.set(k.toInt))
      customers.next += ci
      val cRows =
        cU.map(k => Change("U", customerRow(seed, k, ver))) ++
          cD.map(k => Change("D", customerRow(seed, k, ver))) ++
          cI.map(k => Change("I", customerRow(seed, k, ver)))

      Map(Orders -> oRows, Lineitem -> lRows, Customer -> cRows)
    }
  }

  /** The document corpus: a bootstrap batch of every doc as `I`, then per
    * delivery ~[[DocRate]] of live docs changed (70% edited, 15% deleted,
    * 15% inserted). */
  final class DocSource(val seed: Long, val scale: Scale) {
    val docs = new Keys(scale.docs)
    /** Current version of every live doc. */
    private val vers = mutable.LongMap.empty[Int]
    (1L to scale.docs.toLong).foreach(k => vers(k) = 0)
    def liveRows: Long = docs.count.toLong
    /** Every live doc's current text, by doc id. */
    def texts: Map[Long, String] =
      vers.iterator.map { case (k, v) => k -> docRow(seed, k, v).getString(1) }.toMap
    def bootstrap: Seq[Change] =
      (1L to scale.docs.toLong).map(k => Change("I", docRow(seed, k, 0)))
    def delivery(ver: Int): Seq[Change] = {
      val r = rng(seed, 8, ver)
      val n = math.max(10L, math.round(docs.count * DocRate)).toInt
      val (nu, nd) = (n * 7 / 10, n * 15 / 100)
      val taken = mutable.Set.empty[Long]
      val u = pick(r, nu, 1, docs.next, docs.isLive, taken)
      val d = pick(r, nd, 1, docs.next, docs.isLive, taken)
      val i = (0 until n - nu - nd).map(j => docs.next + j)
      d.foreach(k => docs.live.clear(k.toInt))
      i.foreach(k => docs.live.set(k.toInt))
      docs.next += i.size
      d.foreach(vers.remove)
      (u ++ i).foreach(k => vers(k) = ver)
      u.map(k => Change("U", docRow(seed, k, ver))) ++
        d.map(k => Change("D", docRow(seed, k, ver))) ++
        i.map(k => Change("I", docRow(seed, k, ver)))
    }
  }

  /** DMS-style CDC file name for cycle `ver`: a UTC timestamp, so names
    * sort in commit order and after every earlier cycle. */
  def cdcName(ver: Int): String = {
    val t = java.time.Instant.ofEpochSecond(1790000000L + ver * 3600L)
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(t) + ".parquet"
  }
  val LoadName = "LOAD00000001.parquet"

  def rawDir(rawRoot: String, spec: Spec): String = s"$rawRoot/$Schema/${spec.name}"

  /** Write rows as ONE parquet file `<dir>/<name>` (row order kept). */
  def writeFile(spark: SparkSession, rows: Seq[Row], schema: StructType,
                dir: String, name: String): Long = {
    val tmp = new Path(dir, s".staging-$name")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val dst = new Path(dir, name)
    fs.rename(part, dst)
    fs.delete(tmp, true)
    fs.getFileStatus(dst).getLen
  }

  def writeLoad(spark: SparkSession, rawRoot: String, spec: Spec, rows: Seq[Row]): Long =
    writeFile(spark, rows, spec.schema, rawDir(rawRoot, spec), LoadName)

  private def withOp(schema: StructType) =
    StructType(StructField("Op", StringType) +: schema.fields)

  def writeCdc(spark: SparkSession, rawRoot: String, spec: Spec, ver: Int,
               changes: Seq[Change]): Long =
    writeFile(spark, changes.map(c => Row.fromSeq(c.op +: c.row.toSeq)), withOp(spec.schema),
      rawDir(rawRoot, spec), cdcName(ver))

  /** Expected lake state of `spec`, built independently of the merge code:
    * `row_number` latest-wins over every LOAD and CDC row, ordered by
    * (LOAD before CDC, file name, row index); a winning `D` drops the key. */
  def expected(spark: SparkSession, rawRoot: String, spec: Spec): DataFrame = {
    val dir = rawDir(rawRoot, spec)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
    def read(files: Seq[String], phase: Int, schema: StructType) =
      spark.read.schema(schema).parquet(files.map(n => s"$dir/$n"): _*)
        .select(col("*"), lit(phase).as("__phase"),
          col("_metadata.file_name").as("__file"), col("_metadata.row_index").as("__row"))
    val loads = names.filter(_.startsWith("LOAD")).toSeq
    val cdcs = names.filter(_.startsWith("2")).toSeq
    val parts =
      (if (loads.isEmpty) Nil
       else Seq(read(loads, 0, spec.schema).withColumn("Op", lit("I")))) ++
        (if (cdcs.isEmpty) Nil else Seq(read(cdcs, 1, withOp(spec.schema))))
    val all = parts.reduce(_ unionByName _)
    val w = Window.partitionBy(spec.keys.map(col): _*)
      .orderBy(col("__phase").desc, col("__file").desc, col("__row").desc)
    all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col("Op") =!= "D")
      .select(spec.cols.map(col): _*)
  }

  /** `df` projected onto the spec's columns and types. */
  def conform(df: DataFrame, spec: Spec): DataFrame =
    df.select(spec.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

  /** Rows in one side but not the other, both ways (0 = equal as bags). */
  def diff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()
}
