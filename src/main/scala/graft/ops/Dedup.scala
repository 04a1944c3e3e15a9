package graft.ops

import graft.expressions.TextSketches
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, DataFrame in →
  * DataFrame out. Scale design, per operator:
  *
  *  - exact: one hash-aggregate shuffle on a 128-bit fingerprint — the
  *    minimal possible movement for exact dedup; at 100 TB the shuffle
  *    carries only (fingerprint, id) pairs after partial aggregation.
  *  - MinHash/LSH: per-row signature computation (no shuffle), then ONE
  *    shuffle on band keys (explode → groupBy band). Candidate pairs are
  *    generated per-bucket, so cost is Σ bucket² not n² — the standard
  *    near-dup design at web scale. Skewed buckets (boilerplate text) are
  *    capped with `maxBucketSize`.
  *  - SimHash: per-row 32-bit sketch; near-dup pairs join on the sketch's
  *    band prefixes (two 16-bit halves — Hamming ≤ k pigeonhole) instead
  *    of n² comparisons.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per normalized-text fingerprint. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("fingerprint", fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Corpus-wide PASSAGE dedup with text reconstruction — the
    * C4/RefinedWeb-style step that REMOVES duplicated passages from
    * documents instead of dropping whole documents: the token stream
    * splits into disjoint `window`-token chunks, every chunk keeps only
    * its globally FIRST occurrence (lexicographic (doc, position) — the
    * deterministic "first writer wins" rule), and each document's
    * surviving chunks re-concatenate in position order. Boilerplate that
    * recurs across documents (headers, navigation, license blocks)
    * disappears everywhere but its first appearance while the host
    * documents survive.
    *
    * Chunk identity travels as the mirrored 60-bit hash (collision odds
    * are the usual 2^-60-per-pair; the oracle uses the same hash, so
    * behavior is identical cross-engine). Scale: one partial-agg
    * exchange on chunk hashes (the movement any global dedup pays —
    * after map-side combine it carries one (hash, min-owner) pair per
    * distinct chunk), one hash join of chunks against that
    * distinct-sized table, and one per-doc reassembly agg whose state is
    * the document's own ≤ n_chunks kept chunks. The reassembly fold is
    * position-ordered (deterministic strings).
    *
    * Output: (idCol, text_dedup, n_chunks, n_dropped) — every input
    * document appears (a fully-duplicated document keeps an empty
    * text_dedup, the signal to drop it downstream). */
  def passageDedup(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 3): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val w = lit(window)
    val chunks = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(
          when(size(col("__toks")) === 0, array().cast("array<string>"))
            .otherwise(transform(
              // ceil(n/w) chunks — exact int arithmetic (shiftright-free
              // floor of (n + w − 1) / w via integral division)
              sequence(lit(0),
                floor((size(col("__toks")) + lit(window - 1)).cast("double") / w)
                  .cast("int") - 1),
              i => concat_ws(" ", slice(col("__toks"), i * w + 1, w)))))
          .as(Seq("chunk_idx", "chunk")))
      .withColumn("__h", hash60(col("chunk")))
      .localCheckpoint(true) // feeds first-occurrence agg, keep join, per-doc totals
    val first = chunks.groupBy("__h")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__first"))
    val kept = chunks.join(first, "__h")
      .where(col(idCol) === col("__first").getField(idCol) &&
        col("chunk_idx") === col("__first").getField("chunk_idx"))
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("__kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk"))).as("text_dedup"))
    docs.select(col(idCol))
      .join(chunks.groupBy(idCol).agg(count(lit(1)).as("n_chunks")), Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        (coalesce(col("n_chunks"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** Estimated Jaccard from MinHash signature agreement: the fraction of
    * the k signature slots where the two documents hash equal. The single
    * shared definition — every candidate-pair entry point (self-join,
    * cross-corpus, against-index) divides by the SAME k. */
  private def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(zip_with(sigA, sigB,
      (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, x) => acc + x)
      .cast("double") / k

  /** Cap pathological band buckets (boilerplate text): count per band
    * key, drop the heavy hitters — standard web-dedup guard, documented
    * data loss. Materialized once (eager localCheckpoint): every
    * downstream join side reads the (tiny: id+signature+band) sketch
    * table instead of recomputing signatures per side, and the blocks
    * are reclaimed by the context cleaner once the plan is unreachable —
    * unlike persist(), which pins cache entries for the session (the
    * round-1 cache-leak finding). */
  private def cappedSketches(hashed: DataFrame, maxBucketSize: Int): DataFrame =
    hashed.withColumn("bucket_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band_key")))
      .where(col("bucket_n") <= maxBucketSize)
      .localCheckpoint(true)

  /** MinHash signatures + LSH band keys per document. */
  def minHashed(docs: DataFrame, idCol: String, textCol: String,
                shingleWords: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    docs.select(col(idCol),
      TextSketches.minHashSignature(col(textCol), k, shingleWords).as("signature"))
      .withColumn("band_key", explode(lshBandKeys(col("signature"), bands, rows)))
  }

  /** LSH candidate near-duplicate pairs (id_a < id_b, distinct across
    * bands), with estimated Jaccard from signature agreement. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleWords: Int = 3, k: Int = 16, bands: Int = 4,
                        maxBucketSize: Int = 1000): DataFrame = {
    val sized =
      cappedSketches(minHashed(docs, idCol, textCol, shingleWords, k, bands), maxBucketSize)
    // Distinct the candidate ID pairs FIRST (cheap long-pair shuffle), then
    // compute est_jaccard once per surviving pair from re-joined
    // signatures. The naive order — estimate then distinct — evaluates the
    // interpreted zip_with/aggregate fold per RAW candidate row (Σ bucket²
    // of them, every band a pair co-occurs in) and shuffles signature
    // arrays through the distinct; this order pays one fold per unique
    // pair. Same output: est_jaccard is determined by the pair.
    val a = sized.select(col("band_key"), col(idCol).as("id_a"))
    val b = sized.select(col("band_key"), col(idCol).as("id_b"))
    val cand = a.join(b, Seq("band_key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val sigs = sized.select(col(idCol), col("signature")).distinct()
    cand
      .join(sigs.select(col(idCol).as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("signature").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), k).as("est_jaccard"))
  }

  /** LSH candidate near-duplicate pairs ACROSS two corpora (`id_a` from
    * `a`, `id_b` from `b`, orientation preserved) with estimated Jaccard
    * — the batch shape of cross-delivery contamination ("which new-crawl
    * documents near-duplicate the reference corpus"). Unlike
    * [[lshCandidatePairs]]' self-join, no within-side pairs are
    * generated, and each side's band buckets are capped INDEPENDENTLY
    * (the quadratic term is |bucket_a|·|bucket_b|). Sides may share ids —
    * they are only labels here; callers joining a corpus against a
    * filtered view of itself can drop `id_a === id_b` rows.
    *
    * Same two-stage economics as [[lshCandidatePairs]]: distinct the
    * long-pair candidates FIRST, then compute one signature fold per
    * unique pair. When `b` is a long-lived reference corpus, persist its
    * sketches instead and use [[lshCandidatesAgainstIndex]] — this
    * entry point re-sketches both sides and suits one-shot audits. */
  def crossCorpusCandidates(a: DataFrame, b: DataFrame, idCol: String,
                            textCol: String, shingleWords: Int = 3,
                            k: Int = 16, bands: Int = 4,
                            maxBucketSize: Int = 1000): DataFrame = {
    def side(df: DataFrame) =
      cappedSketches(minHashed(df, idCol, textCol, shingleWords, k, bands), maxBucketSize)
    val ha = side(a)
    val hb = side(b)
    val cand = ha.select(col("band_key"), col(idCol).as("id_a"))
      .join(hb.select(col("band_key"), col(idCol).as("id_b")), Seq("band_key"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(ha.select(col(idCol).as("id_a"), col("signature").as("sig_a")).distinct(), "id_a")
      .join(hb.select(col(idCol).as("id_b"), col("signature").as("sig_b")).distinct(), "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), k).as("est_jaccard"))
  }

  /** SimHash sketch per document. */
  def simHashed(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextSketches.simHash32(col(textCol)).as("simhash"))

  /** Candidate pairs over a (id, simhash) table via `bands` keys of
    * `bandBits` bits each (pigeonhole: Hamming ≤ bands−1 ⇒ at least one
    * band equal, so recall is EXACT for thresholds up to bands−1; the
    * 2-band 32-bit configuration bounds but does not guarantee recall at
    * threshold 3, identically to its SQL oracle).
    *
    * `maxBucketSize` caps each band bucket (independently per key space):
    * the self-join is Σ bucket², so one boilerplate-heavy bucket would
    * otherwise go quadratic with no escape hatch — the same guard
    * [[lshCandidatePairs]] applies, same documented data loss. */
  private[ops] def sketchPairs(sketches: DataFrame, idCol: String, maxHamming: Int,
                               maxBucketSize: Int, bands: Int = 2,
                               bandBits: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val mask = (1L << bandBits) - 1
    val keys = (0 until bands).map(j => s"bk$j")
    val keyed = keys.zipWithIndex.foldLeft(sketches) { case (df, (k, j)) =>
      df.withColumn(k, shiftright(col("simhash"), j * bandBits).bitwiseAND(mask))
        .withColumn(s"${k}_n", count(lit(1)).over(w.partitionBy(k)))
    }.localCheckpoint(true)
    def pairsOn(key: String) = {
      val capped = keyed.where(col(s"${key}_n") <= maxBucketSize)
      val a = capped.select(col(key), col(idCol).as("id_a"), col("simhash").as("sh_a"))
      val b = capped.select(col(key), col(idCol).as("id_b"), col("simhash").as("sh_b"))
      a.join(b, Seq(key)).where(col("id_a") < col("id_b")).drop(key)
    }
    keys.map(pairsOn).reduce(_ unionByName _).distinct()
      .withColumn("hamming", hammingDistance(col("sh_a"), col("sh_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    sketchPairs(simHashed(docs, idCol, textCol), idCol, maxHamming, maxBucketSize)

  /** 60-bit SimHash sketch per document — the wide sketch for corpora
    * where 32 bits saturate (collisions at billions of docs). */
  def simHashed60(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextSketches.simHash60(col(textCol)).as("simhash"))

  /** 60-bit SimHash near-dup pairs via 4×15-bit bands: EXACT recall for
    * `maxHamming` ≤ 3 (pigeonhole — 3 flipped bits cannot touch all four
    * bands), with the same per-band bucket cap. */
  def simHash60Pairs(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    sketchPairs(simHashed60(docs, idCol, textCol), idCol, maxHamming, maxBucketSize,
      bands = 4, bandBits = 15)

  /** SimHash duplicate clusters at scale: identical sketches collapse to
    * their min-id representative BEFORE pair generation (duplicate-heavy
    * corpora produce near-clique pair sets — 937k pairs from 5k docs on
    * the test corpus; reps cut that quadratic term), then connected
    * components run on the representative graph and members rejoin.
    * Produces exactly the fixed point of [[resolveClusters]] over
    * [[simHashPairs]]: a sketch group is itself a clique (Hamming 0), and
    * its representative carries the group's min id. */
  def simHashClusters(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val sketched = simHashed(docs, idCol, textCol).localCheckpoint(true)
    val groups = sketched.groupBy("simhash")
      .agg(min(col(idCol)).as("rep"), count(lit(1)).as("members"))
      .localCheckpoint(true)
    // The bucket cap applies to the REPRESENTATIVE table (one row per
    // distinct sketch): a million identical docs are one rep row, so the
    // cap only bites on buckets of genuinely distinct near-dup sketches.
    val repPairs = sketchPairs(
      groups.select(col("rep").as(idCol), col("simhash")), idCol, maxHamming, maxBucketSize)
    val repClusters = resolveClusters(repPairs)
      .select(col("id").as("rep"), col("cluster"))
    sketched.join(groups, "simhash")
      .join(broadcast(repClusters), Seq("rep"), "left")
      .where(col("members") >= 2 || col("cluster").isNotNull)
      .select(col(idCol).as("id"),
        coalesce(col("cluster"), col("rep")).as("cluster"))
      .withColumn("keep", col("id") === col("cluster"))
  }

  /** Resolve near-duplicate pairs into clusters: iterative min-label
    * propagation (connected components), `cluster` = smallest id in the
    * component, `keep` = canonical representative.
    *
    * Scale: each iteration is one join + partial-aggregated groupBy on the
    * edge list; iteration count is the component diameter, which for dedup
    * graphs (dense near-clique clusters) is small. Labels persist per
    * iteration with the previous generation unpersisted — the standard
    * iterative-Spark pattern (same shape as GraphX CC, without the dep).
    */
  def resolveClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                      maxIter: Int = 20, localThreshold: Long = 2000000L): DataFrame = {
    // localCheckpoint (eager) after every generation: persist alone keeps
    // the LOGICAL plan growing each iteration (planning cost explodes
    // after ~15 rounds); checkpointing truncates the lineage so each
    // iteration plans against a flat in-memory relation.
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().localCheckpoint(true)

    // Small graphs (bounded by localThreshold edges) solve in one driver
    // pass with union-find — one collect of (long, long) pairs instead of
    // O(log diameter) distributed rounds. Bigger graphs use the loop.
    // The gate requires INTEGRAL ids (the driver engine works in Long;
    // a string id would crash the cast) and restores the input type on
    // the way out — non-integral ids always take the distributed loop,
    // whose least()/min() arithmetic is type-generic.
    val srcType = edges.schema("src").dataType
    val integralSrc = {
      import org.apache.spark.sql.types._
      Set[DataType](ByteType, ShortType, IntegerType, LongType).contains(srcType)
    }
    if (integralSrc && edges.count() <= localThreshold)
      return localUnionFind(edges)
        .select(col("id").cast(srcType).as("id"),
          col("cluster").cast(srcType).as("cluster"), col("keep"))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // Phase 1: min over neighbor labels (one hop).
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src")).agg(min("cluster").as("nmin"))
        .select(col("src").as("nid"), col("nmin"))
      val hopped = labels.join(neighborMin, labels("id") === col("nid"), "left")
        .select(col("id"), col("cluster"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("next"))
      // Phase 2: pointer jump — follow the label's own label. Labels only
      // decrease and stay within the component, so this is safe and turns
      // diameter-bound convergence into ~log(diameter) iterations.
      val updated = hopped.join(
        labels.select(col("id").as("lid"), col("cluster").as("lcluster")),
        hopped("next") === col("lid"), "left")
        .select(hopped("id"), hopped("cluster"),
          least(hopped("next"), coalesce(col("lcluster"), hopped("next"))).as("next"))
        .localCheckpoint(true)
      changed = updated.where(col("next") < col("cluster")).count()
      labels = updated.select(col("id"), col("next").as("cluster"))
      it += 1
    }
    labels.withColumn("keep", col("id") === col("cluster"))
  }

  /** Driver-side union-find with path compression; min id becomes the
    * component label. Input is the doubled edge list (both directions). */
  private def localUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } // min-id root
    }
    val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    rows.toDF("id", "cluster").withColumn("keep", col("id") === col("cluster"))
  }

  /** Exact n-gram Jaccard similarity over candidate pairs: `pairs` must
    * have (id_a, id_b); texts are joined in and compared as distinct
    * shingle sets. Use after LSH candidate generation at scale.
    *
    * Verify-stage economics: shingle sets are built only for documents
    * that appear in a candidate pair (semi-join first — at 100 TB the
    * candidates are a sliver of the corpus), deduplicated ONCE per
    * document, and each pair pays a single array_intersect. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
                   shingleWords: Int = 3): DataFrame = {
    val ids = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol))).distinct()
    // Shingle sets are HASHED (distinct hash60 per shingle, one native
    // pass — standard MinHash-literature practice): the joins move
    // array<long> instead of array<string>, and the per-pair intersect
    // compares longs. Jaccard value is identical absent an intra-pair
    // 60-bit collision, and the SQL oracle hashes the same way, so the
    // comparison is bit-exact either way.
    val sh = docs.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol),
        TextSketches.shingleHashSet(col(textCol), shingleWords).as("sh"))
    pairs
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** Shingle-set CONTAINMENT over candidate pairs:
    * `|A∩B| / min(|A|, |B|)` — the asymmetric near-subset detector that
    * Jaccard misses (a document pasted inside a larger one scores low
    * Jaccard because the union is dominated by the larger set, but its
    * containment is ~1). Same verify-stage economics as [[ngramJaccard]]:
    * hashed distinct shingle sets built once per candidate document
    * (semi-join first), one array_intersect per pair; the intersect size
    * binds as a real column so the ratio doesn't re-evaluate it.
    * Output: (id_a, id_b, n_a, n_b, n_shared, containment). */
  def ngramContainment(docs: DataFrame, pairs: DataFrame, idCol: String,
                       textCol: String, shingleWords: Int = 3): DataFrame = {
    val ids = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol))).distinct()
    val sh = docs.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol),
        TextSketches.shingleHashSet(col(textCol), shingleWords).as("sh"))
    pairs
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_shared"))
      .withColumn("containment",
        when(least(col("n_a"), col("n_b")) === 0, lit(0.0))
          .otherwise(col("n_shared").cast("double")
            / least(col("n_a"), col("n_b")).cast("double")))
  }

  /** EXACT Jaccard-threshold self-join via PREFIX FILTERING — the
    * AllPairs/PPJoin family (Bayardo et al., WWW'07): finds EVERY pair of
    * documents whose shingle-set Jaccard is ≥ τ, with no LSH false
    * negatives. τ is a rational `tauNum/tauDen` so every pruning filter is
    * exact integer arithmetic (the one IEEE operation is the reported
    * jaccard division, mirrored verbatim in the SQL oracle).
    *
    * Mechanics: elements (hashed shingles) get a CANONICAL rare-first
    * total order — ascending global document frequency, then element
    * value. A set of size s can share an element with a τ-similar set
    * inside its first `s − ⌈τ·s⌉ + 1` elements of that order (pigeonhole:
    * two sets with Jaccard ≥ τ overlap in ≥ ⌈τ·s⌉ elements, so disjoint
    * prefixes of that length would leave too few slots). Candidates are
    * therefore generated ONLY from prefix-element buckets, then verified
    * with one exact `array_intersect` per pair.
    *
    * Scale: the element explode is corpus-linear; the candidate self-join
    * shuffles only PREFIX rows, and the rare-first order makes those
    * buckets the smallest document-frequency buckets in the corpus (the
    * boilerplate tokens that blow up a naive token-join are the most
    * frequent and are pushed OUT of prefixes). The verify join is keyed
    * on pair ids, array-vs-array per row. A length filter
    * (τ·max(|a|,|b|) ≤ min(|a|,|b|)) prunes cross-size candidates before
    * the distinct. No stage is quadratic in the corpus.
    *
    * Output: (id_a, id_b, n_a, n_b, n_shared, jaccard), pairs with
    * jaccard ≥ τ only, id_a < id_b. */
  def prefixJaccardJoin(docs: DataFrame, idCol: String, textCol: String,
                        tauNum: Int, tauDen: Int,
                        shingleWords: Int = 3): DataFrame = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"tau must be a rational in (0,1]: $tauNum/$tauDen")
    val W = org.apache.spark.sql.expressions.Window
    val sh = docs.select(col(idCol).as("__id"),
      TextSketches.shingleHashSet(col(textCol), shingleWords).as("__s"))
    val el = sh.select(col("__id"), explode(col("__s")).as("__e"))
    val dfreq = el.groupBy("__e").agg(count(lit(1)).as("__df"))
    // per-set rare-first rank; prefix length = sz − ⌈τ·sz⌉ + 1 with
    // ⌈(num·sz)/den⌉ computed in exact integer arithmetic
    val ranked = el.join(dfreq, "__e")
      .withColumn("__pos",
        row_number().over(W.partitionBy("__id").orderBy("__df", "__e")))
      .withColumn("__sz", count(lit(1)).over(W.partitionBy("__id")))
    val pref = ranked.where(col("__pos") <=
      col("__sz") - expr(s"(__sz * $tauNum + ${tauDen - 1}) DIV $tauDen") + 1)
    val cand = pref.select(col("__e"), col("__id").as("id_a"), col("__sz").as("__sza"))
      .join(pref.select(col("__e"), col("__id").as("id_b"), col("__sz").as("__szb")), "__e")
      .where(col("id_a") < col("id_b") &&
        lit(tauNum) * greatest(col("__sza"), col("__szb")) <=
          lit(tauDen) * least(col("__sza"), col("__szb")))
      .select("id_a", "id_b").distinct()
    cand
      .join(sh.select(col("__id").as("id_a"), col("__s").as("__s_a")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__s").as("__s_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(col("__s_a")).cast("long").as("n_a"),
        size(col("__s_b")).cast("long").as("n_b"),
        size(array_intersect(col("__s_a"), col("__s_b"))).cast("long").as("n_shared"))
      .where(lit(tauDen) * col("n_shared") >=
        lit(tauNum) * (col("n_a") + col("n_b") - col("n_shared")))
      .withColumn("jaccard", col("n_shared").cast("double")
        / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
  }

  /** SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo, SIGMOD'95): the
    * third classic candidate-generation family beside LSH banding and
    * prefix filtering. Documents sort by a canonical key (whitespace-
    * normalized lowercase prefix — catches shared-prefix boilerplate
    * near-dups that shingle-hash methods dilute), and every pair within
    * `window` positions of the GLOBAL sort order becomes a candidate.
    *
    * Scale: the global rank is NOT a single-partition window — it is the
    * two-phase parallel prefix sum ([[Curation.parallelRunningSum]]:
    * range-partition by key, per-slice local ranks, slice offsets from a
    * slice-count-sized window). Neighbor pairs join on rank-bucket ids
    * (`rank DIV window`, each left row probing its own and the next
    * bucket) — a keyed equi-join producing each qualifying pair exactly
    * once, never a rank-range theta join. Work is O(n·window).
    *
    * Output: (id_a, id_b, rank_gap ∈ [1, window]), a preceding b in the
    * sort order. */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, textCol: String,
                              window: Int, keyLen: Int = 30): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val keyed = docs.select(col(idCol).as("__id"),
      substring(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), 1, keyLen)
        .as("__key"))
      .withColumn("__one", lit(1L))
    val ranked = Curation.parallelRunningSum(
      keyed, Seq.empty, Seq("__key", "__id"), "__one", "__rank")
    val bK = ranked.select(col("__id").as("id_b"), col("__rank").as("__rb"))
      .withColumn("__bk", expr(s"__rb DIV $window"))
    val aK = ranked.select(col("__id").as("id_a"), col("__rank").as("__ra"))
      .withColumn("__bk",
        explode(array(expr(s"__ra DIV $window"), expr(s"__ra DIV $window + 1"))))
    aK.join(bK, "__bk")
      .where(col("__rb") > col("__ra") && col("__rb") - col("__ra") <= window)
      .select(col("id_a"), col("id_b"), (col("__rb") - col("__ra")).as("rank_gap"))
  }

  /** Edit-distance fuzzy-match join — the classic record-linkage
    * composition: [[sortedNeighborhoodPairs]] blocking generates the
    * candidates, EXACT Levenshtein distance over the normalized text
    * (lowercased, whitespace-collapsed, first `verifyLen` chars — the cap
    * bounds the O(len²) DP per pair) verifies them. Work is O(n·window)
    * candidates × one bounded DP each, never a cartesian similarity
    * matrix; Levenshtein is unit-cost integer DP, bit-identical across
    * engines (the oracle is DuckDB's `levenshtein`). Near-duplicate
    * rewrites verify at small distance; unrelated sort-neighbors land far
    * above any sane cutoff, so the threshold separates cleanly.
    *
    * Output: (id_a, id_b, edit_dist ≤ maxDist), id_a preceding id_b in
    * the blocking sort order. */
  def editDistanceJoin(docs: DataFrame, idCol: String, textCol: String,
                       window: Int, maxDist: Int,
                       verifyLen: Int = 120, keyLen: Int = 30): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    val pairs = sortedNeighborhoodPairs(docs, idCol, textCol, window, keyLen)
    val norm = docs.select(col(idCol).as("__id"),
      substring(regexp_replace(lower(trim(col(textCol))), "\\s+", " "), 1, verifyLen)
        .as("__t"))
    pairs
      .join(norm.select(col("__id").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(norm.select(col("__id").as("id_b"), col("__t").as("__tb")), "id_b")
      // the THRESHOLDED DP: returns the exact distance when ≤ maxDist,
      // −1 otherwise, early-exiting the O(len²) matrix on a banded
      // O(len·maxDist) walk — one DP per pair, no second verify pass
      // (ad-hoc `levenshtein(a,b) <= d` predicates get the same rewrite
      // from [[graft.plans.LevenshteinThresholdRule]])
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long").as("edit_dist"))
      .where(col("edit_dist") >= 0)
  }

  /** Persist a corpus's LSH band index as a bucketed table on `band_key`
    * (see [[graft.io.Bucketing]]): incremental dedup then joins each
    * incoming batch against the index with NO corpus-side exchange — the
    * dominant cost of dedup-on-ingest at 100 TB is re-shuffling the
    * corpus sketches per batch, and bucketing removes exactly that.
    * Rows carry the writing segment and the index gets a
    * `<table>_segments` ledger + `<table>_tombstones` table (see
    * [[graft.io.SegmentedIndex]]) so appends are exactly-once and CDC
    * changes maintain the index in O(batch) ([[updateLshIndex]]). */
  def writeLshIndex(docs: DataFrame, idCol: String, textCol: String, table: String,
                    buckets: Int, shingleWords: Int = 3, k: Int = 16,
                    bands: Int = 4): Unit = {
    val SI = graft.io.SegmentedIndex
    val spark = docs.sparkSession
    SI.resetGen(spark, table) // fresh build owns the plain names again
    val sketch = minHashed(docs, idCol, textCol, shingleWords, k, bands)
      .withColumn(SI.SegCol, lit(0L)).localCheckpoint(true)
    // both writes read the CHECKPOINTED sketch and target distinct
    // tables — overlap them; the ledger still publishes last
    graft.io.Overlap.awaitAll(Seq(
      () => graft.io.Bucketing.writeBucketed(sketch, table, "band_key", buckets),
      () => SI.initTombstones(spark, table,
        sketch.select(col(idCol), lit(0L).as("below_seg")))))
    // Exactly `bands` band rows per doc, so the doc count needs no
    // second corpus pass.
    SI.initLedger(spark, table, idCol, sketch.count() / bands, 0L)
  }

  /** Append a new batch's band rows to a persisted LSH index, preserving
    * the bucket layout — the dedup-on-ingest loop closes: a batch is
    * checked against the index ([[lshCandidatesAgainstIndex]]) and then
    * BECOMES part of it, no corpus rebuild. Exactly-once under
    * at-least-once delivery: ledger-gated on `batchId` (a replayed batch
    * no-ops) and crash-resumable (see [[graft.io.SegmentedIndex]]).
    * Batch ids must be NEW; route changed documents through
    * [[updateLshIndex]]. Sketch parameters and bucket count must match
    * the index's write-time values. Appends add one file per non-empty
    * bucket; compact a high-churn index with [[compactLshIndex]]. */
  def appendToLshIndex(docs: DataFrame, idCol: String, textCol: String, table: String,
                       buckets: Int, shingleWords: Int = 3, k: Int = 16,
                       bands: Int = 4, batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val spark = docs.sparkSession
    val t = SI.resolve(spark, table)
    if (SI.hasBatch(spark, t, batchId)) return
    val seg = SI.nextSeg(spark, t)
    val sketch = minHashed(docs, idCol, textCol, shingleWords, k, bands)
      .localCheckpoint(true)
    SI.appendSegment(spark, t, sketch, "band_key", buckets, seg)
    SI.appendLedger(spark, t, seg, batchId, sketch.count() / bands, 0L, idCol)
  }

  /** CDC maintenance of a persisted LSH index — the engine's latest-wins
    * upsert/delete semantics at O(change batch) cost: every changed id is
    * tombstoned below this segment (probes drop all older versions — a
    * tombstone for an id the index never held is inert and folds away at
    * compaction), and upserted documents re-sketch at this segment.
    * After maintenance, [[lshCandidatesAgainstIndex]] sees exactly the
    * band rows a from-scratch index over the merged corpus would hold
    * (spec-asserted). `changes` is a merged change set (≤ 1 row per id,
    * [[graft.cdc.Merge.applySequenced]]'s shape), `opCol` = "D" deletes.
    * Ledger-gated on `batchId`; crash-resumable. */
  def updateLshIndex(spark: org.apache.spark.sql.SparkSession,
                     changes: DataFrame, idCol: String, textCol: String,
                     opCol: String, table: String, buckets: Int,
                     shingleWords: Int = 3, k: Int = 16, bands: Int = 4,
                     batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    if (SI.hasBatch(spark, t, batchId)) return
    val seg = SI.nextSeg(spark, t)
    // ONE evaluation of the caller's change plan (§2.4): the sketch and
    // the tombstone ids would otherwise each re-run it.
    val ch = changes.localCheckpoint(true)
    try {
      val sketch = minHashed(ch.where(col(opCol) =!= "D"), idCol, textCol,
          shingleWords, k, bands)
        .localCheckpoint(true)
      // sorted bucketed append + the tiny unsorted tombstone append:
      // disjoint tables, checkpointed inputs, both seg-gated on replay —
      // the §2.6 one-heavy-plus-cheap overlap shape
      graft.io.Overlap.awaitAll(Seq(
        () => SI.appendSegment(spark, t, sketch, "band_key", buckets, seg),
        () => SI.tombstoneSegment(spark, t,
          ch.select(col(idCol)).distinct()
            .select(col(idCol), lit(seg).as("below_seg")), seg)))
      SI.appendLedger(spark, t, seg, batchId, sketch.count() / bands, 0L, idCol)
    } finally ch.unpersist(blocking = false): Unit
  }

  /** Fold accumulated segments and tombstones into a fresh segment-0 LSH
    * index, committed by the single generation-pointer append (same
    * crash-atomic contract as [[Retrieval.compactBm25Index]]). The
    * ledger doc count recounts live sketched ids (docs with no shingles
    * hold no band rows and are not index members — unlike the BM25/
    * phrase corpus stats, this ledger field counts SKETCHES). */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String, buckets: Int,
                      beforeCommit: () => Unit = () => (),
                      afterCommit: () => Unit = () => ()): Unit = {
    val SI = graft.io.SegmentedIndex
    val cur = SI.resolve(spark, table)
    val idCol = SI.idColOf(spark, cur)
    SI.compact(spark, table, buckets,
      Seq(SI.CompactTable("", "band_key", idCol, ownTombstones = true)),
      live => (live("").select(col(idCol)).distinct().count(), 0L),
      idCol, beforeCommit, afterCommit)
  }

  /** Threshold-driven LSH-index maintenance — [[graft.GraftLake
    * .maintainIfNeeded]]'s closed loop applied to the segmented index
    * families: read the [[graft.io.SegmentedIndex.health]] ledger
    * (segments ∝ per-bucket file count = probe open cost; tombstone
    * fraction = per-probe dead-row join work) and run the family's
    * crash-atomic [[compactLshIndex]] when either budget trips. Returns
    * the PRE-maintenance health when it fired, None when within budget
    * (O(ledger) — safe to check every delivery). */
  def maintainLshIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                               table: String, buckets: Int,
                               maxSegments: Long = 16L,
                               maxTombstoneFraction: Double = 0.3)
      : Option[graft.io.SegmentedIndex.Health] = {
    val h = graft.io.SegmentedIndex.health(spark, table)
    if (h.segments <= maxSegments && h.tombstoneFraction <= maxTombstoneFraction)
      None
    else { compactLshIndex(spark, table, buckets); Some(h) }
  }

  /** Candidate near-dup pairs of a NEW batch against a persisted LSH
    * index: (id_new, id_corpus, est_jaccard). Sketch parameters must
    * match the ones the index was written with.
    *
    * Plan shape (asserted in ScaleOpsSpec): the index scan is bucketed on
    * `band_key`, which already satisfies both the heavy-bucket window's
    * and the join's partitioning requirement — no `band_key` exchange
    * exists anywhere in the plan. What does move: the batch (broadcast
    * when small, hash-exchanged into the bucket layout otherwise) and the
    * candidates-proportional distinct. `maxBucketSize` caps corpus
    * postings per band key before the join — the same guard as
    * [[lshCandidatePairs]], but with deliberately different SEMANTICS:
    * here the cap bounds CORPUS-side postings only (the index is the
    * quadratic risk; the incoming batch is small by construction), while
    * the full recompute caps the combined corpus+batch bucket. Near the
    * cap boundary the two paths may therefore disagree about which heavy
    * buckets are dropped; equivalence holds for buckets below the cap on
    * both sides. */
  def lshCandidatesAgainstIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                                newDocs: DataFrame, idCol: String, textCol: String,
                                shingleWords: Int = 3, k: Int = 16, bands: Int = 4,
                                maxBucketSize: Int = 1000): DataFrame = {
    // Materialized once (eager, cleaner-reclaimed): the batch's band rows
    // feed both the probe-key set and the candidate join.
    val batch = minHashed(newDocs, idCol, textCol, shingleWords, k, bands)
      .select(col("band_key"), col(idCol).as("id_new"), col("signature").as("sig_n"))
      .localCheckpoint(true)
    // The batch's band keys semi-join the index BEFORE the heavy-bucket
    // window: a matching bucket keeps ALL its postings, so bucket_n is
    // exact for every surviving key, and keys the batch doesn't probe
    // would be dropped by the candidate join anyway — identical results,
    // but the per-batch window sorts only the probed buckets instead of
    // the whole accumulated index. The key set broadcasts UN-distinct-ed
    // (≤ bands rows per doc — delivery-sized; a distinct would cost a
    // band_key exchange, and the broadcast hash relation collapses
    // duplicate keys anyway). Broadcast is a deliberate hint: batches are
    // delivery-sized by contract (see DedupStream.ingestBatch); rebuild
    // via writeLshIndex for corpus-scale backfills.
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    require(SI.idColOf(spark, t) == idCol,
      s"index $table was written with id column '${SI.idColOf(spark, t)}', not '$idCol'")
    // Dead (tombstoned) versions drop BEFORE the heavy-bucket window so
    // bucket_n counts exactly the live postings a from-scratch index
    // over the merged corpus would hold; the broadcast tombstone join
    // preserves the bucket partitioning, so the plan stays free of
    // band_key exchanges (plan-asserted in ScaleOpsSpec).
    val idx = SI.dropDead(
      graft.io.Bucketing.readBucketed(spark, t)
        .join(broadcast(batch.select(col("band_key"))),
          Seq("band_key"), "left_semi"),
      SI.tombstoneMax(spark, t, idCol), idCol)
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band_key")))
      .where(col("bucket_n") <= maxBucketSize)
      .select(col("band_key"), col(idCol).as("id_corpus"), col("signature").as("sig_c"))
    // Estimate BEFORE the distinct: a pair co-occurs in ≤ `bands` band
    // keys, so at most `bands` redundant folds per pair — cheaper than
    // shuffling signature arrays through the distinct, and re-joining
    // corpus signatures by id would shuffle the whole index (the cost
    // bucketing exists to avoid). est_jaccard is determined by the pair,
    // so the distinct on the (id, id, est) triple is exact.
    batch.join(idx, "band_key")
      .select(col("id_new"), col("id_corpus"),
        estJaccard(col("sig_n"), col("sig_c"), k).as("est_jaccard"))
      .distinct()
  }

  /** All candidate pairs FROM a persisted LSH index — the all-pairs
    * dual of [[lshCandidatesAgainstIndex]] (which probes with a batch):
    * live band rows (tombstoned versions dropped), heavy buckets capped
    * exactly like the from-scratch path, then a BUCKET-LOCAL self-join
    * (both sides are the same bucketed table, so the join inherits the
    * band_key layout with no index-side exchange). After any
    * append/update history the result equals [[lshCandidatePairs]] over
    * the merged corpus — the pair-level ingest ≡ recompute law the
    * `dedup_communities_after_ingest` oracle pins. */
  def lshPairsFromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                        k: Int = 16, maxBucketSize: Int = 1000): DataFrame = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    val idCol = SI.idColOf(spark, t)
    val live = SI.dropDead(graft.io.Bucketing.readBucketed(spark, t),
        SI.tombstoneMax(spark, t, idCol), idCol)
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band_key")))
      .where(col("bucket_n") <= maxBucketSize)
      .select(col("band_key"), col(idCol), col("signature"))
      .localCheckpoint(true) // both sides of the self-join
    val lhs = live.select(col("band_key"), col(idCol).as("id_a"),
      col("signature").as("sig_a"))
    val rhs = live.select(col("band_key"), col(idCol).as("id_b"),
      col("signature").as("sig_b"))
    lhs.join(rhs, "band_key").where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), k).as("est_jaccard"))
      .distinct()
  }

  // ---- Near-dup COMMUNITY index (r11): the Louvain hierarchy as a ----
  // ---- PERSISTED, incrementally-maintained table ----

  /** The community hierarchy of an LSH candidate-pair set under
    * PER-COMPONENT Louvain ([[Similarity.louvainLabelsLocal]]):
    * `(doc_id, comp, comm1, comm2)` — connected component, level-1 and
    * level-2 community labels. Per-component normalization (each
    * component's own edge count as the modularity m) is what makes the
    * hierarchy INCREMENTALLY maintainable: a component whose edge set
    * did not change keeps its labels verbatim no matter what landed
    * elsewhere, which global-m Louvain cannot promise (its gain
    * comparison shifts with every far-away insert). Edges at
    * `egThreshold`, seeds = components of the `hiThreshold` subgraph —
    * the `dedup_communities` thresholds. Isolated docs (no candidate
    * pair) hold no rows, like the batch operator. */
  def communitiesLocal(pairs: DataFrame, idCol: String = "doc_id",
                       egThreshold: Double = 0.25,
                       hiThreshold: Double = 0.75,
                       localThreshold: Long = 200000L): DataFrame = {
    val p = pairs.localCheckpoint(true)
    // Small graphs (bounded by localThreshold candidate pairs) solve on
    // the DRIVER — union-find + the exact driver mirror of the level
    // engine ([[Similarity.louvainHierarchyDriver]]) — in ~2 jobs
    // instead of the ~100 tiny ones the distributed engine schedules.
    // A delivery-sized refresh graph always lands here; corpus-scale
    // builds exceed the bound and keep the distributed path. Labels are
    // identical by construction (LouvainDriverSpec pins equality), so
    // the gate is invisible to the splice law and the oracles. The gate
    // additionally requires INTEGRAL id columns: the driver engine works
    // in Long, so a string/decimal id would cast to null (runtime crash)
    // and even a lossless integral widening would silently change the
    // output schema — non-integral ids keep the type-generic
    // distributed path, integral ones get their exact type restored on
    // the way out.
    val idType = p.schema("id_a").dataType
    val integralIds = {
      import org.apache.spark.sql.types._
      Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(idType) && idType == p.schema("id_b").dataType
    }
    if (integralIds && p.count() <= localThreshold) {
      val spark = p.sparkSession
      import spark.implicits._
      val rows = p.select(col("id_a").cast("long"), col("id_b").cast("long"),
          col("est_jaccard").cast("double"))
        .as[(Long, Long, Double)].collect()
      val eg = rows.iterator.filter(_._3 >= egThreshold)
        .map(r => (r._1, r._2)).toArray.distinct
      val hi = rows.iterator.filter(_._3 >= hiThreshold)
        .map(r => (r._1, r._2)).toArray.distinct
      val compOf = unionFindDriver(eg)
      val seed = unionFindDriver(hi)
      val ls = Similarity.louvainHierarchyDriver(eg, seed, compOf, levels = 2)
      // All four columns go back to the input id type (lossless — ids
      // ARE input values and comp/comm labels are min-ids), matching
      // the type-generic distributed engine's output schema.
      return ls(0).keys.toSeq.sorted
        .map(n => (n, compOf(n), ls(0)(n), ls(1)(n)))
        .toDF(idCol, "comp", "comm1", "comm2")
        .select(Seq(idCol, "comp", "comm1", "comm2")
          .map(c => col(c).cast(idType).as(c)): _*)
    }
    val eg = p.where(col("est_jaccard") >= egThreshold)
      .select(col("id_a").as("a"), col("id_b").as("b")).distinct()
    val hi = p.where(col("est_jaccard") >= hiThreshold)
      .select(col("id_a").as("a"), col("id_b").as("b")).distinct()
    val compOf = resolveClusters(eg, "a", "b")
      .select(col("id").as("n"), col("cluster").as("comp")).localCheckpoint(true)
    val seed = resolveClusters(hi, "a", "b")
      .select(col("id").as("n"), col("cluster").as("comm"))
    val ls = Similarity.louvainLabelsLocal(eg, seed, compOf, levels = 2)
    ls(0).select(col("vec_id"), col("comm").as("comm1"))
      .join(ls(1).select(col("vec_id"), col("comm").as("comm2")), "vec_id")
      .join(compOf.select(col("n").as("vec_id"), col("comp")), "vec_id")
      .select(col("vec_id").as(idCol), col("comp"), col("comm1"), col("comm2"))
  }

  /** Min-id-root union-find over an in-memory edge array — the
    * [[localUnionFind]] algorithm without the DataFrame shell, shared
    * by [[communitiesLocal]]'s driver path. Returns node → component
    * label (= min member id, the [[resolveClusters]] convention). */
  private def unionFindDriver(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(id => id -> find(id)).toMap
  }

  /** Build the persisted community index from a persisted LSH index:
    * one parquet table at `path`. Returns the row count. */
  def buildCommunityIndex(spark: org.apache.spark.sql.SparkSession,
                          lshTable: String, path: String, k: Int = 16,
                          maxBucketSize: Int = 1000): Long = {
    val out = communitiesLocal(lshPairsFromIndex(spark, lshTable, k, maxBucketSize))
      .localCheckpoint(true)
    out.write.mode("overwrite").parquet(path)
    out.count()
  }

  /** Live candidate pairs from whole buckets containing a `members` id —
    * heavy-bucket capping evaluated on the FULL bucket contents (the
    * bucket set is restricted, never the rows the count sees), so every
    * emitted pair is exactly what [[lshPairsFromIndex]] would emit.
    * `bothSides` keeps only member–member pairs; otherwise any pair with
    * ≥ 1 member endpoint survives. Cost: members' postings + their
    * buckets, not the index. */
  private def livePairsInMemberBuckets(spark: org.apache.spark.sql.SparkSession,
                                       table: String, members: DataFrame,
                                       k: Int, maxBucketSize: Int,
                                       bothSides: Boolean): DataFrame = {
    val SI = graft.io.SegmentedIndex
    val W = org.apache.spark.sql.expressions.Window
    val t = SI.resolve(spark, table)
    val idCol = SI.idColOf(spark, t)
    val m = members.select(col(members.columns.head).as(idCol)).distinct()
      .localCheckpoint(true)
    val live0 = SI.dropDead(graft.io.Bucketing.readBucketed(spark, t),
      SI.tombstoneMax(spark, t, idCol), idCol)
    val keys = live0.join(m, Seq(idCol), "left_semi")
      .select("band_key").distinct()
    val live = live0.join(keys, Seq("band_key"), "left_semi")
      .withColumn("bucket_n", count(lit(1)).over(W.partitionBy("band_key")))
      .where(col("bucket_n") <= maxBucketSize)
      .select(col("band_key"), col(idCol), col("signature"))
      .localCheckpoint(true)
    val lhs = live.select(col("band_key"), col(idCol).as("id_a"),
      col("signature").as("sig_a"))
    val rhs = live.select(col("band_key"), col(idCol).as("id_b"),
      col("signature").as("sig_b"))
    val pairs = lhs.join(rhs, "band_key").where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), k).as("est_jaccard"))
      .distinct()
    val ma = m.select(col(idCol).as("id_a"))
    val mb = m.select(col(idCol).as("id_b"))
    if (bothSides)
      pairs.join(ma, Seq("id_a"), "left_semi").join(mb, Seq("id_b"), "left_semi")
    else
      pairs.join(ma, Seq("id_a"), "left_semi")
        .unionByName(pairs.join(mb, Seq("id_b"), "left_semi"))
        .distinct()
  }

  /** INCREMENTAL refresh of the persisted community index after a CDC
    * delivery changed `changedIds` (the LSH index must already be
    * maintained for the delivery, [[updateLshIndex]]): recompute the
    * hierarchy ONLY for the new-graph components the delivery touched,
    * splice, overwrite. Cost is bounded by the touched components and
    * their bucket contents — per-delivery, not per-corpus.
    *
    * Affected-set derivation (exact, not heuristic): new candidate
    * edges only ever touch changed ids (a pair of unchanged docs is
    * unchanged), and a LOST edge's far endpoint shared the changed id's
    * OLD component. So closure over {changed–partner edges} ∪
    * {node–old-comp membership stars} reaches every component that can
    * gain, lose, merge or split; everything outside keeps its rows —
    * sound because [[communitiesLocal]]'s per-component normalization
    * makes untouched components label-invariant (the spec pins streamed
    * ≡ from-scratch equality).
    *
    * The one way a pair of UNCHANGED docs can gain or lose an edge is a
    * heavy-bucket CAP TRANSITION: a changed id's insert pushes a bucket
    * past `maxBucketSize` (its pairs all vanish from the from-scratch
    * set) or its delete drops one back under (pairs among the remaining
    * members appear). Those buckets are detected conservatively —
    * current live size vs the size the delivery could have moved it
    * from, reconstructed from the changed ids' live AND dead rows — and
    * every live member of a possibly-crossing bucket joins the affected
    * seeds (a superset never hurts: its components are recomputed to
    * the same rows). Because dead rows carry the evidence, call this
    * BEFORE compacting the delivery's tombstones away
    * ([[graft.streaming.CommunityStream]] orders refresh before
    * maintenance for exactly this reason). Returns rows in the
    * refreshed index. */
  def refreshCommunityIndex(spark: org.apache.spark.sql.SparkSession,
                            lshTable: String, path: String,
                            changedIds: DataFrame, k: Int = 16,
                            maxBucketSize: Int = 1000,
                            egThreshold: Double = 0.25,
                            hiThreshold: Double = 0.75): Long = {
    val prev = spark.read.parquet(path) // detached by `out`'s checkpoint
    val chg = changedIds.select(col(changedIds.columns.head).as("doc_id"))
      .distinct().localCheckpoint(true)
    // ---- fused delivery-bucket pass -------------------------------
    // ONE materialized frame (candLive) holds the live rows of every
    // bucket that carries a changed id's rows — live OR dead — with the
    // per-bucket live size and live-changed-row count as window
    // columns. It feeds BOTH derivation products (the r11 verdict's
    // job-floor finding: the refresh cost is action count, not data):
    //  - inc: new-graph eg-edges incident to changed ids (deleted ids
    //    hold no live band rows; their influence rides their old
    //    component). The bucket set is a superset of the live-member
    //    buckets; the endpoint semi-filters below make the pair set
    //    identical to livePairsInMemberBuckets(chg, bothSides=false).
    //  - capSeeds: live members of buckets the delivery could have
    //    pushed across maxBucketSize (in either direction) — the only
    //    mechanism that changes pairs between UNCHANGED docs. n_prev is
    //    bracketed from the changed ids' live rows (inserts that could
    //    have pushed it over) and dead rows (removals that could have
    //    dropped it under); both bounds over-approximate, which only
    //    grows the recomputed-and-respliced set.
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, lshTable)
    val idc = SI.idColOf(spark, t)
    val W = org.apache.spark.sql.expressions.Window.partitionBy("band_key")
    val all = graft.io.Bucketing.readBucketed(spark, t)
    val liveAll = SI.dropDead(all, SI.tombstoneMax(spark, t, idc), idc)
    val chgm = chg.select(col("doc_id").as(idc))
    val chgBuckets = all.join(chgm, Seq(idc), "left_semi")
      .groupBy("band_key").agg(count(lit(1)).as("n_all_chg"))
      .localCheckpoint(true) // bounded by the delivery's band rows
    val candLive = liveAll
      .join(chgBuckets.select("band_key"), Seq("band_key"), "left_semi")
      .join(chgm.withColumn("__isChg", lit(1L)), Seq(idc), "left")
      .withColumn("bucket_n", count(lit(1)).over(W))
      .withColumn("n_live_chg",
        sum(coalesce(col("__isChg"), lit(0L))).over(W))
      .select(col("band_key"), col(idc), col("signature"),
        col("bucket_n"), col("n_live_chg"))
      .localCheckpoint(true)
    val sized = candLive.where(col("bucket_n") <= maxBucketSize)
    val lhs = sized.select(col("band_key"), col(idc).as("id_a"),
      col("signature").as("sig_a"))
    val rhs = sized.select(col("band_key"), col(idc).as("id_b"),
      col("signature").as("sig_b"))
    val pairs = lhs.join(rhs, "band_key").where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), k).as("est_jaccard"))
      .distinct()
    val inc = pairs
      .join(chg.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .unionByName(pairs
        .join(chg.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi"))
      .distinct()
      .where(col("est_jaccard") >= egThreshold)
      .select(col("id_a").as("x"), col("id_b").as("y"))
      .localCheckpoint(true) // reused by nodes AND the closure edges
    val crossing = candLive.groupBy("band_key")
      .agg(max("bucket_n").as("n_now"), max("n_live_chg").as("n_live_chg"))
      .join(chgBuckets, Seq("band_key"), "left")
      .na.fill(0L, Seq("n_all_chg"))
      .withColumn("n_dead_chg", col("n_all_chg") - col("n_live_chg"))
      .where((col("n_now") > maxBucketSize &&
              col("n_now") - col("n_live_chg") <= maxBucketSize) ||
             (col("n_now") <= maxBucketSize &&
              col("n_now") + col("n_dead_chg") > maxBucketSize))
      .select("band_key")
    val capSeeds = candLive.join(crossing, Seq("band_key"), "left_semi")
      .select(col(idc).as("doc_id")).distinct()
    val seeds = chg.unionByName(capSeeds).distinct().localCheckpoint(true)
    val nodes = seeds
      .unionByName(inc.select(col("x").as("doc_id")))
      .unionByName(inc.select(col("y").as("doc_id")))
      .distinct()
    val prevComp = prev.select(col("doc_id"), col("comp"))
    // membership stars: node → its old component id (comp ids are doc
    // ids — the min member — so the star reconstructs old connectivity)
    val stars = nodes.join(prevComp, Seq("doc_id"))
      .select(col("doc_id").as("a"), col("comp").as("b"))
    val closure = resolveClusters(
      stars.unionByName(inc.select(col("x").as("a"), col("y").as("b")))
        .distinct(), "a", "b")
      .localCheckpoint(true)
    val affectedClusters = closure
      .join(seeds.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .select("cluster").distinct()
    // seeds union: a cap-transition seed that was a SINGLETON before
    // (absent from prev, so no membership star) never enters the
    // closure graph — force it into the recompute set so pairs it just
    // gained are found.
    val affectedNodes = closure
      .join(affectedClusters, Seq("cluster"), "left_semi").select("id")
      .unionByName(seeds.select(col("doc_id").as("id")))
      .distinct()
    val affectedComps = prevComp.select(col("comp")).distinct()
      .join(affectedNodes.select(col("id").as("comp")), Seq("comp"), "left_semi")
      .localCheckpoint(true) // reused by members and the final anti-join
    val members = prev.join(affectedComps, Seq("comp"), "left_semi")
      .select("doc_id")
      .unionByName(affectedNodes.select(col("id").as("doc_id")))
      .distinct()
    val newRows = communitiesLocal(
      livePairsInMemberBuckets(spark, lshTable, members, k, maxBucketSize,
        bothSides = true),
      "doc_id", egThreshold, hiThreshold)
    val out = prev.join(affectedComps, Seq("comp"), "left_anti")
      .unionByName(newRows.select(prev.columns.map(col): _*))
      .localCheckpoint(true) // detaches the read-then-overwrite of `path`
    out.write.mode("overwrite").parquet(path)
    out.count()
  }

  /** Winnowing fingerprints per document: (id, fp) exploded from the
    * distinct sliding-min set of Rabin-Karp window hashes over the
    * normalized text (see [[graft.expressions.WinnowSetExpr]]). Any
    * shared substring of ≥ k + w − 1 codepoints guarantees a shared fp. */
  def winnowed(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 16, w: Int = 8): DataFrame =
    docs.select(col(idCol),
      explode(TextSketches.winnowSet(normalize(col(textCol)), k, w)).as("fp"))

  /** Exact-substring near-duplicate candidates (Lee et al.-style substring
    * dedup, approximated by winnowing): documents sharing ≥ `minShared`
    * winnow fingerprints, via an inverted fingerprint index.
    *
    * Scale shape: per-row sketching (no shuffle), ONE shuffle on fp for
    * the inverted index, Σ posting² bounded by `maxPostings` — identical
    * economics to [[lshCandidatePairs]]. Boilerplate fingerprints (page
    * furniture shared by millions of documents) are dropped by the cap,
    * the standard web-dedup tradeoff, and the cap is applied BEFORE the
    * self-join so a hot fingerprint never materializes its quadratic
    * bucket. */
  def substringCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                              k: Int = 16, w: Int = 8, minShared: Int = 2,
                              maxPostings: Int = 200): DataFrame = {
    val fps = winnowed(docs, idCol, textCol, k, w)
      .localCheckpoint(true) // both self-join sides read the sketch table
    val capped = fps.withColumn("posting_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .where(col("posting_n") <= maxPostings)
    val a = capped.select(col("fp"), col(idCol).as("id_a"))
    val b = capped.select(col("fp"), col(idCol).as("id_b"))
    a.join(b, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Fellegi-Sunter record-linkage scoring (Fellegi & Sunter 1969):
    * weight each candidate pair by the likelihood ratio of its
    * per-field agreement pattern, Π_f agree ? m_f/u_f : (1−m_f)/(1−u_f),
    * where m_f = P(field f agrees | pair is a match) and u_f =
    * P(agrees | any candidate pair). The classical probabilistic
    * counterpart to [[bandingPlan]]'s similarity threshold: a pair of
    * short docs sharing a rare source scores higher than one sharing
    * only the corpus-dominant language.
    *
    * `pairs` must carry a boolean `is_dup` (the m-estimation stratum —
    * e.g. jaccard ≥ 0.5) and one boolean column per field in
    * `agreeCols`. m/u are add-one-smoothed ((cnt+1)/(n+2) — never 0 or
    * 1, so both ratio branches stay finite) from ONE aggregation pass,
    * broadcast back as a single scalar row; the score is a fixed-order
    * left-associated product of per-field CASE ratios — the identical
    * IEEE tree in the SQL mirror. Kept as a RATIO (log-free): ranking
    * and thresholding are monotone-invariant, and every step stays
    * engine-portable.
    *
    * Cost: candidate-sized (one agg + one broadcast crossJoin); output
    * = input pairs + `score`. */
  def fellegiSunter(pairs: DataFrame, agreeCols: Seq[String]): DataFrame = {
    require(agreeCols.nonEmpty, "need at least one agreement field")
    // two consumers (the m/u stats pass and the scored output): pin the
    // candidate-sized pair frame once, or the generation chain runs twice
    val p = pairs.localCheckpoint(true)
    val aggExprs = Seq(
      count(lit(1)).as("__n"),
      sum(when(col("is_dup"), 1L).otherwise(0L)).as("__nd")) ++
      agreeCols.flatMap(f => Seq(
        sum(when(col("is_dup") && col(f), 1L).otherwise(0L)).as(s"__mc_$f"),
        sum(when(col(f), 1L).otherwise(0L)).as(s"__uc_$f")))
    val stats = p.agg(aggExprs.head, aggExprs.tail: _*)
    val probs = stats.select(agreeCols.flatMap(f => Seq(
      ((col(s"__mc_$f") + 1).cast("double") / (col("__nd") + 2).cast("double"))
        .as(s"__m_$f"),
      ((col(s"__uc_$f") + 1).cast("double") / (col("__n") + 2).cast("double"))
        .as(s"__u_$f"))): _*)
    val score = agreeCols.map { f =>
      when(col(f), col(s"__m_$f") / col(s"__u_$f"))
        .otherwise((lit(1.0) - col(s"__m_$f")) / (lit(1.0) - col(s"__u_$f")))
    }.reduceLeft(_ * _)
    p.crossJoin(broadcast(probs))
      .select(p.columns.map(col) :+ score.as("score"): _*)
  }

  /** Data-driven LSH banding planner: given the OBSERVED similarity
    * histogram of candidate pairs (`bin` ∈ 0..9 = ⌊10·jaccard⌋ capped,
    * `n_pairs`), evaluate every (bands b, rows-per-band r) split of a
    * `k`-hash MinHash signature (b·r = k) by the standard S-curve
    * P(caught) = 1 − (1 − s^r)^b at each bin's midpoint similarity
    * s = (2·bin + 1)/20 — turning "which banding should I run?" from
    * folklore into an expected-yield table over this corpus's actual
    * pair-similarity mass.
    *
    * Engine-exact: both integer powers expand to literal repeated
    * multiplication (left-associated — the identical IEEE tree in the
    * SQL mirror), `exp_caught` is the single multiply n_pairs · p per
    * row, and there is NO cross-bin float sum (the per-(b,r,bin) grain
    * keeps every value order-independent). Cost: the histogram is
    * bins-sized; the plan is a #divisors-way union of 10-row selects.
    *
    * Output: (bands, rows_per_band, bin, n_pairs, p_detect, exp_caught). */
  def bandingPlan(binned: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"signature length must be >= 1: $k")
    def powInt(c: Column, n: Int): Column =
      (1 until n).foldLeft(c)((acc, _) => acc * c)
    val s = (col("bin") * 2 + 1).cast("double") / lit(20.0)
    val splits = (1 to k).filter(k % _ == 0).map(b => (b, k / b))
    // one branch per divisor split reads the histogram: pin the
    // bins-sized frame once or its (expensive) producing chain —
    // typically an exact-Jaccard pass over all candidates — executes
    // once per split
    val binnedCk = binned.localCheckpoint(true)
    splits.map { case (b, r) =>
      val p = lit(1.0) - powInt(lit(1.0) - powInt(s, r), b)
      binnedCk.select(
        lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        col("bin"), col("n_pairs"), p.as("p_detect"),
        (col("n_pairs").cast("double") * p).as("exp_caught"))
    }.reduce(_ unionByName _)
  }
}
