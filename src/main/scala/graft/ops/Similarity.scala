package graft.ops

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: brute-force kNN is a broadcast of the (small) query set
  * against the full corpus — one pass, no corpus shuffle, per-partition
  * top-k via window over (query, cosine). The scale path buckets the
  * corpus by a sign-LSH key so each query only scans its probe buckets
  * (IVF-style cost: corpus/2^bits per probe); recall is tuned with
  * `bits` (coarser buckets = higher recall, more scan).
  */
object Similarity {

  /** Session conf key for [[gatedBroadcast]]'s row cap (default
    * [[DefaultBroadcastRowCap]]). */
  val BroadcastRowCapKey = "graft.sim.broadcastRowCap"

  /** Default row cap above which the "queries/anchors are the small
    * side" contract stops being assumed: 100k 64-dim float rows
    * ≈ 30 MB — comfortably inside a broadcast budget, far above any
    * real query batch. */
  val DefaultBroadcastRowCap = 100000L

  /** Size-gated broadcast hint — the MorTable `MaxInListPaths` gate
    * applied to the similarity family's query/anchor/probe sides: probe
    * `df` with a LIMIT-capped count (O(cap) work, never a full count)
    * and attach the hint only when the frame is provably small;
    * otherwise return it unhinted so AQE plans the join. A corpus-sized
    * "query" set (an everything-vs-everything re-ranking backfill) then
    * degrades to a shuffle join instead of force-broadcasting gigabytes
    * into every executor heap — the hint is not demotable by AQE, so an
    * ungated hint is an OOM, not a slowdown. The probe evaluates `df`'s
    * plan once more; every caller passes a cheap scan, a derived
    * projection of one, or a checkpointed frame. */
  /** Probe results cached per (session, analyzed-plan semantic hash,
    * cap): recall curves and health monitors call the same operator
    * over the same query frame many times — they pay the LIMIT-count
    * probe once per session instead of once per call. The cache trades
    * BOUNDED STALENESS for jobs: a frame whose underlying files grew
    * past the cap mid-session would keep its hint. Acceptable for a
    * hint (performance, never correctness); cleared wholesale at a size
    * bound. */
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), java.lang.Boolean]()

  private[graft] def underBroadcastCap(df: DataFrame): Boolean = {
    val cap = df.sparkSession.conf
      .get(BroadcastRowCapKey, DefaultBroadcastRowCap.toString).toLong
    val key = (System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.semanticHash(), cap)
    val cached = probeCache.get(key)
    if (cached != null) cached.booleanValue()
    else {
      val probeN = math.min(cap + 1, Int.MaxValue.toLong).toInt
      val r = df.limit(probeN).count() <= cap
      if (probeCache.size() > 4096) probeCache.clear()
      probeCache.put(key, r)
      r
    }
  }

  private[graft] def gatedBroadcast(df: DataFrame): DataFrame =
    if (underBroadcastCap(df)) broadcast(df) else df

  /** Brute-force top-k cosine neighbors of each query vector.
    * `queries` rows must carry (qidCol, vecCol); broadcast against the
    * corpus while the batch stays under the [[gatedBroadcast]] cap. */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, qidCol: String, k: Int): DataFrame = {
    val q = gatedBroadcast(queries.select(col(qidCol), col(vecCol).as("__qvec")))
    val scored = corpus.select(col(idCol), col(vecCol).as("__cvec"))
      .crossJoin(q)
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol),
        cosine(col("__qvec"), col("__cvec")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: each anchor's top-k
    * most-similar corpus vectors with a DIFFERENT label — the
    * near-boundary negatives a contrastive loss learns most from (the
    * in-batch-random alternative wastes gradient on easy negatives).
    * Output: (qidCol, idCol, cos, rank ≤ k).
    *
    * This is the brute variant (anchors broadcast against one corpus
    * pass — oracle-exact, `sim_hard_negatives`); at corpus×corpus scale
    * swap the candidate source for the bucketed paths ([[annKnn]] /
    * [[ivfPqKnn]] candidates, then the same different-label filter +
    * top-k — identical output shape). */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, qidCol: String,
                    k: Int): DataFrame = {
    val q = gatedBroadcast(anchors.select(col(qidCol), col(vecCol).as("__qvec"),
      col(labelCol).as("__qlab")))
    val scored = corpus
      .select(col(idCol), col(vecCol).as("__cvec"), col(labelCol))
      .crossJoin(q)
      .where(col(labelCol) =!= col("__qlab"))
      .select(col(qidCol), col(idCol),
        cosine(col("__qvec"), col("__cvec")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Corpus bucketed by sign-LSH of the first `bits` dimensions. */
  def bucketed(corpus: DataFrame, vecCol: String, bits: Int): DataFrame =
    corpus.withColumn("bucket", signBucket(col(vecCol), bits))

  /** ANN top-k with Hamming-1 multi-probe: each query scans its own
    * bucket plus the `bits` buckets one sign-flip away (1+bits probes →
    * corpus·(1+bits)/2^bits of the data per query). Same output shape as
    * [[bruteForceKnn]]; recall < 1 by design, tuned via bits/probes. */
  def annKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, qidCol: String, k: Int, bits: Int): DataFrame = {
    val bc = bucketed(corpus, vecCol, bits).select(col(idCol), col(vecCol).as("__cvec"), col("bucket"))
    val probes = (0 until bits).map(j => col("bucket").bitwiseXOR(1L << j))
    // gate on the EXPLODED frame, not the base queries: what broadcasts
    // is the (1+bits)x multiprobe expansion, so near the row cap with
    // large `bits` a base-frame probe would under-model the actual
    // broadcast bits-fold. The probe result caches per plan
    // (semanticHash), so a recall curve's repeat calls stay one probe.
    val bq0 = bucketed(queries, vecCol, bits)
      .withColumn("bucket", explode(array(col("bucket") +: probes: _*)))
      .select(col(qidCol), col(vecCol).as("__qvec"), col("bucket"))
    val bq = if (underBroadcastCap(bq0)) broadcast(bq0) else bq0
    val scored = bc.join(bq, "bucket")
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol), cosine(col("__qvec"), col("__cvec")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Bounded-round HITS (hubs & authorities, Kleinberg 1999) over a
    * directed edge list: authorities accumulate hub mass over incoming
    * edges, hubs accumulate authority mass over outgoing edges. This
    * variant normalizes each vector by its MAX instead of the L1/L2
    * norm — max is an order-independent exact aggregate (one broadcast
    * scalar per round), where a distributed float sum/sqrt norm would
    * need a corpus-ordered fold per round; the fixed point is the same
    * principal-eigenvector direction, rescaled. Per-node accumulation
    * stays the rank-ORDERED list fold (deterministic, bounded by the
    * degree cap). Output: (node, hub, authority). */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e = edges.select("src", "dst").distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    def foldSum(grouped: DataFrame, key: String, ord: String, v: String) =
      grouped.groupBy(col(key).as("node"))
        .agg(aggregate(
          array_sort(collect_list(struct(col(ord), col(v).as("v")))),
          lit(0.0), (acc, s) => acc + s.getField("v")).as("__raw"))
    def maxNorm(raw: DataFrame): DataFrame =
      nodes.join(raw, Seq("node"), "left")
        .select(col("node"), coalesce(col("__raw"), lit(0.0)).as("__raw"))
        .crossJoin(broadcast(raw.agg(max(col("__raw")).as("__mx"))))
        .select(col("node"), (col("__raw") / col("__mx")).as("__s"))
    var h = nodes.select(col("node"), lit(1.0).as("__s")).localCheckpoint(true)
    var a = h
    var t = 0
    while (t < rounds) {
      a = maxNorm(foldSum(
        e.join(h.select(col("node").as("src"), col("__s")), "src"),
        "dst", "src", "__s")).localCheckpoint(true)
      h = maxNorm(foldSum(
        e.join(a.select(col("node").as("dst"), col("__s")), "dst"),
        "src", "dst", "__s")).localCheckpoint(true)
      t += 1
    }
    h.select(col("node"), col("__s").as("hub"))
      .join(a.select(col("node"), col("__s").as("authority")), Seq("node"), "outer")
      .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("authority"), lit(0.0)).as("authority"))
  }

  /** Two-stage search RERANK — the production pattern behind every
    * IVF-PQ deployment: the compressed index produces a cheap shortlist
    * (ADC distances drift from true distances by quantization error),
    * then ONLY the shortlist rows join back to their raw vectors for an
    * exact-cosine re-score. Cost: the exact math touches k_short rows
    * per query instead of the corpus, and the raw-vector join is keyed
    * on the shortlist ids — the corpus vector table never broadcasts
    * and never cross-joins. Output: (qidCol, idCol, cos, rank ≤ k),
    * ties broken on the unique id. */
  def rerankExact(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, qidCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val scored = shortlist.select(col(qidCol), col(idCol))
      .join(corpus.select(col(idCol), col(vecCol).as("__cvec")), idCol)
      .join(gatedBroadcast(queries.select(col(qidCol), col(vecCol).as("__qvec"))), qidCol)
      .select(col(qidCol), col(idCol),
        cosine(col("__qvec"), col("__cvec")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Binary (1-bit/dim) quantization: sign masks packed 32 dims per LONG
    * word (bit j of word w ⇔ v[32w+j] > 0 — the [[graft.functions
    * .VectorFunctions.signBucket]] convention extended to the full
    * vector). Output: input columns + (`mask_lo`, `mask_hi`, `n_bits`).
    * Covers ≤ 64 dims (two words — the fixture's 64); wider vectors
    * add words, the Hamming arithmetic extends term-by-term. */
  def binaryMasks(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("mask_lo", signMask(col(vecCol), 0, 32))
      .withColumn("mask_hi", signMask(col(vecCol), 32, 32))
      .withColumn("n_bits",
        (bit_count(col("mask_lo")) + bit_count(col("mask_hi"))).cast("long"))

  /** Binary-quantized kNN — the cheapest rung of the compression ladder
    * (float → int8 → PQ → 1 bit): Hamming distance over the packed sign
    * masks shortlists `shortlist` candidates per query, then ONLY those
    * rows rejoin their float vectors for the exact-cosine re-score
    * ([[rerankExact]]). The 100 TB shape: the shortlist pass scans
    * 16 bytes/vector (two LONG words, column-pruned — 32× less bandwidth
    * than the float array), stays in integer whole-stage codegen
    * (xor + bit_count), and the float math touches shortlist-sized data.
    * Output: (qidCol, idCol, hamming, cos, rank ≤ k). */
  def binaryKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, qidCol: String, k: Int,
                shortlist: Int = 20): DataFrame =
    binaryKnnPreMasked(
      binaryMasks(corpus.select(col(idCol), col(vecCol)), vecCol)
        .select(col(idCol), col("mask_lo"), col("mask_hi")),
      corpus, queries, idCol, vecCol, qidCol, k, shortlist)

  /** [[binaryKnn]] against a PERSISTED mask sidecar (`masks` =
    * (idCol, mask_lo, mask_hi) — the 16-byte/vector index a deployment
    * maintains instead of re-deriving masks per query): the Hamming
    * shortlist scans the sidecar only; the float vectors are touched
    * for shortlist rows alone. */
  def binaryKnnPreMasked(masks: DataFrame, corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, qidCol: String, k: Int,
                         shortlist: Int = 20): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist >= k >= 1: $shortlist, $k")
    // ONE size probe covers both query-side hints (masks and rerank
    // vectors are exactly one row per query)
    val qSmall = underBroadcastCap(queries)
    def gb(df: DataFrame): DataFrame = if (qSmall) broadcast(df) else df
    val c = masks.select(col(idCol), col("mask_lo"), col("mask_hi"))
    val q = gb(binaryMasks(queries.select(col(qidCol), col(vecCol)), vecCol)
      .select(col(qidCol), col("mask_lo").as("__qlo"), col("mask_hi").as("__qhi")))
    val w = Window.partitionBy(qidCol).orderBy(col("hamming"), col(idCol))
    val short = c.crossJoin(q)
      .where(col(idCol) =!= col(qidCol))
      .withColumn("hamming",
        (bit_count(col("mask_lo").bitwiseXOR(col("__qlo"))) +
          bit_count(col("mask_hi").bitwiseXOR(col("__qhi")))).cast("long"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= shortlist)
      .select(col(qidCol), col(idCol), col("hamming"))
    // Rerank inline ([[rerankExact]] semantics) so `hamming` rides the
    // shortlist rows: re-joining the rank output back to the shortlist
    // would evaluate the whole mask cross-join subtree TWICE.
    val scored = short
      .join(corpus.select(col(idCol), col(vecCol).as("__cvec")), idCol)
      .join(gb(queries.select(col(qidCol), col(vecCol).as("__qvec"))), qidCol)
      .select(col(qidCol), col(idCol), col("hamming"),
        cosine(col("__qvec"), col("__cvec")).as("cos"))
    val w2 = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w2).cast("long"))
      .where(col("rank") <= k)
  }

  /** IVF-pruned binary kNN — the binary rung composed with the
    * cluster-partitioned index layout, making the Hamming shortlist
    * SUB-SCAN instead of a corpus-wide mask sweep: `maskDir` is a
    * persisted [[writeIvfIndex]] layout of (idCol, mask_lo, mask_hi)
    * rows partitioned by `cluster` (build it from
    * `binaryMasks(ivfAssign(corpus, …))`). Each query batch probes its
    * `nprobe` nearest clusters; ONLY those partitions' mask files are
    * opened (the `cluster` filter is a static partition predicate —
    * the same pruning the IVF-PQ probes already get), the integer
    * Hamming shortlist runs within them, and the float vectors are
    * touched for shortlist rows alone. At 100 TB the per-query-batch
    * scan cost drops from |corpus|·16 bytes to
    * |corpus|·nprobe/k_clusters·16 bytes. Recall vs the flat
    * [[binaryKnn]] is the standard IVF trade: a true neighbor outside
    * the probed clusters is unreachable — measure with [[recallAtK]],
    * widen `nprobe` to buy it back. */
  def binaryIvfKnn(spark: org.apache.spark.sql.SparkSession, maskDir: String,
                   corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                   idCol: String, vecCol: String, qidCol: String, cidCol: String,
                   k: Int, shortlist: Int = 20, nprobe: Int = 1): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist >= k >= 1: $shortlist, $k")
    // rerank-side hint gates on the base queries (one row per query);
    // the mask side is nprobe-EXPLODED, so it gates on its own frame
    // (the annKnn rule — the probe caches per plan)
    val qSmall = underBroadcastCap(queries)
    def gb(df: DataFrame): DataFrame = if (qSmall) broadcast(df) else df
    val qm0 =
      binaryMasks(ivfAssignTop(queries, centroids, qidCol, vecCol, cidCol, nprobe),
          vecCol)
        .select(col(qidCol), col("cluster").cast("long").as("cluster"),
          col("mask_lo").as("__qlo"), col("mask_hi").as("__qhi"))
    val qm = if (underBroadcastCap(qm0)) broadcast(qm0) else qm0
    val masks = readIvfIndex(spark, maskDir,
        probedClusters(queries, centroids, qidCol, vecCol, cidCol, nprobe))
      .select(col(idCol), col("cluster").cast("long").as("cluster"),
        col("mask_lo"), col("mask_hi"))
    // Join on the probed cluster (a corpus id lives in exactly ONE
    // partition, so a (query, id) pair meets at most once even at
    // nprobe > 1); the shortlist window spans the query's probed set.
    val w = Window.partitionBy(qidCol).orderBy(col("hamming"), col(idCol))
    val short = masks.join(qm, "cluster")
      .where(col(idCol) =!= col(qidCol))
      .withColumn("hamming",
        (bit_count(col("mask_lo").bitwiseXOR(col("__qlo"))) +
          bit_count(col("mask_hi").bitwiseXOR(col("__qhi")))).cast("long"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= shortlist)
      .select(col(qidCol), col(idCol), col("hamming"))
    val scored = short
      .join(corpus.select(col(idCol), col(vecCol).as("__cvec")), idCol)
      .join(gb(queries.select(col(qidCol), col(vecCol).as("__qvec"))), qidCol)
      .select(col(qidCol), col(idCol), col("hamming"),
        cosine(col("__qvec"), col("__cvec")).as("cos"))
    val w2 = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w2).cast("long"))
      .where(col("rank") <= k)
  }

  /** IVF-style cluster assignment: nearest centroid by cosine (ties →
    * smallest centroid id). `centroids` is small (it collapses to ONE
    * broadcast row, cid-sorted) — assignment is PER-ROW Column math: the
    * cosine array binds as an attribute, argmax = first position of the
    * max (ties → lowest cid). ZERO corpus shuffle — the
    * explode-then-window formulation this replaces exchanged the whole
    * corpus by id just to pick each row's max. At scale the centroid set
    * comes from [[kMeans]] or a sampled variant — any deterministic
    * centroid set works, the index structure is the same. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String, cidCol: String): DataFrame = {
    val c = broadcast(centroids.agg(
      array_sort(collect_list(struct(col(cidCol).as("cid"), col(vecCol).as("cvec"))))
        .as("__cents")))
    // Degenerate-input contract (matches the windowed formulation this
    // replaced): an EMPTY centroid set assigns nothing (collect_list
    // still emits one row with an empty array — filter it, else every
    // corpus row would surface with cluster = NULL); a row whose cosines
    // are all NULL (null/absent embedding) falls back to the lowest cid
    // (the desc_nulls_last tie-break) instead of a silent NULL cluster.
    corpus.crossJoin(c)
      .where(size(col("__cents")) > 0)
      .withColumn("__ccos",
        transform(col("__cents"), ct => cosine(col(vecCol), ct.getField("cvec"))))
      .withColumn("cluster",
        element_at(col("__cents"),
          coalesce(
            array_position(col("__ccos"), array_max(col("__ccos"))), lit(1L))
            .cast("int"))
          .getField("cid"))
      .drop("__cents", "__ccos")
  }

  /** The `nprobe` nearest centroids per row (rank by cosine desc, ties →
    * smallest cid) — the query-side expansion for multi-probe IVF. One
    * output row per (row, probed cluster); `nprobe = 1` ≡ [[ivfAssign]]
    * with a probe_rank column. */
  def ivfAssignTop(corpus: DataFrame, centroids: DataFrame, idCol: String,
                   vecCol: String, cidCol: String, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1: $nprobe")
    val c = broadcast(centroids.select(col(cidCol).as("__cid"), col(vecCol).as("__cvec")))
    val scored = corpus.crossJoin(c)
      .select(col("*"), cosine(col(vecCol), col("__cvec")).as("__ccos"))
    val w = Window.partitionBy(idCol).orderBy(col("__ccos").desc, col("__cid"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= nprobe)
      .withColumn("cluster", col("__cid"))
      .withColumn("probe_rank", col("__rn").cast("long"))
      .drop("__cid", "__cvec", "__ccos", "__rn")
  }

  /** IVF top-k: probe the query's `nprobe` nearest clusters (the
    * standard IVF recall knob — single-probe by default). */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             idCol: String, vecCol: String, qidCol: String, cidCol: String,
             k: Int, nprobe: Int = 1): DataFrame =
    ivfKnnPreAssigned(ivfAssign(corpus, centroids, idCol, vecCol, cidCol),
      queries, centroids, idCol, vecCol, qidCol, cidCol, k, nprobe)

  /** IVF top-k over a PRE-ASSIGNED corpus — `assigned` is the output of
    * [[ivfAssign]] (columns idCol, vecCol, cluster), ideally persisted
    * bucketed on `cluster` (see [[graft.io.Bucketing]]). Repeated query
    * batches then reuse the index instead of re-scanning the corpus and
    * recomputing N×K centroid distances per call — the IVF read path at
    * 100 TB, where assignment runs once per index build and kNN runs per
    * query batch. Only the (small) query side computes centroid
    * assignments here. `nprobe > 1` expands each query to its n nearest
    * clusters ([[ivfAssignTop]]) — recall rises with scan cost
    * corpus·nprobe/k_clusters, the standard IVF trade; the INDEX stays
    * single-assignment either way. */
  def ivfKnnPreAssigned(assigned: DataFrame, queries: DataFrame,
                        centroids: DataFrame, idCol: String, vecCol: String,
                        qidCol: String, cidCol: String, k: Int,
                        nprobe: Int = 1): DataFrame = {
    val bc = assigned.select(col(idCol), col(vecCol).as("__cvec"), col("cluster"))
    val bq0 = ivfAssignTop(queries, centroids, qidCol, vecCol, cidCol, nprobe)
      .select(col(qidCol), col(vecCol).as("__qvec"), col("cluster"))
    // gate on the nprobe-exploded frame itself (the annKnn rule): the
    // probe result caches per plan, so a recall curve's calls reuse it
    val bq = if (underBroadcastCap(bq0)) broadcast(bq0) else bq0
    val scored = bc.join(bq, "cluster")
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol), cosine(col("__qvec"), col("__cvec")).as("cos"))
    val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** One k-means centroid-update step over an assignment (Lloyd's
    * iteration — the index-maintenance aggregation for the IVF path):
    * per-(cluster, dimension) component sums and member counts; the new
    * centroid is comp_sum/n driver-side or in a follow-up select.
    *
    * Bit-determinism with BOUNDED per-group state (a two-phase sum, like
    * [[Curation.parallelRunningSum]]'s slicing): a single id-sorted fold
    * per (cluster, dim) would collect the cluster's full membership into
    * one array — a head-heavy cluster (most real assignments have one)
    * OOMs that task at scale. Instead each member gets a slice from a
    * 60-bit id-hash (`h60("cslice:"+id) div width` — uniform regardless
    * of id layout), phase 1 folds per (cluster, dim, slice) in `idCol`
    * order (group size ≈ members/numSlices), phase 2 folds the
    * ≤ numSlices slice sums in slice order (group size ≤ numSlices).
    * Both folds have a fixed order that is a pure function of the rows,
    * so the result is bit-deterministic and DuckDB-mirrorable — but it
    * is the SLICED order: changing `numSlices` changes the (well-defined)
    * floating-point sum. Phase 2's shuffle moves ≤ k·dims·numSlices rows.
    * A production loop free of the determinism requirement can use plain
    * `avg` and accept floating-point reorder across partitions. */
  def centroidUpdate(assigned: DataFrame, idCol: String, vecCol: String,
                     numSlices: Int = 1024): DataFrame = {
    require(numSlices >= 1, s"numSlices must be >= 1: $numSlices")
    val rows = assigned
      .select(col("cluster"), col(idCol).as("__vid"),
        sliceHashKey(idCol), posexplode(col(vecCol)))
      .select(col("cluster"), col("pos").cast("long").as("dim"),
        col("__vid"), sliceOfKey(numSlices), col("col").cast("double").as("__v"))
    slicedComponentFold(rows)
  }

  /** The k init centroids, cids = ranks 0..k-1: the k lowest-id corpus
    * vectors, or with a seed the k lowest by a seeded 60-bit id-hash —
    * a deterministic pseudo-random draw (new seed = new draw), shared by
    * [[kMeans]] and [[kMeansSub]]. */
  private def initRows(corpus: DataFrame, idCol: String, vecCol: String,
                       k: Int, initSeed: Option[String]): Seq[(Long, Seq[Float])] = {
    val order = initSeed match {
      case None => Seq(col(idCol))
      case Some(seed) => Seq(graft.functions.TextFunctions.hash60(
        concat(lit(seed + ":"), col(idCol).cast("string"))), col(idCol))
    }
    corpus.select(col(idCol), col(vecCol)).orderBy(order: _*).limit(k)
      .collect().zipWithIndex
      .map { case (r, j) => (j.toLong, r.getSeq[Float](1)) }
  }

  /** The member's uniform 60-bit slice hash (see [[centroidUpdate]]). */
  private def sliceHashKey(idCol: String): Column =
    graft.functions.TextFunctions.hash60(
      concat(lit("cslice:"), col(idCol).cast("string"))).as("__skey")

  /** `__skey` → slice id via EXACT integer division (`div`; a double
    * divide would mis-floor keys within ulp of a slice boundary and
    * diverge from the oracle's BIGINT `//`). */
  private def sliceOfKey(numSlices: Int): Column = {
    val width = ((1L << 60) + numSlices - 1) / numSlices
    expr(s"__skey div ${width}L").as("__slice")
  }

  /** The two-phase bounded deterministic fold over exploded component
    * rows (cluster, dim, __vid, __slice, __v) — see [[centroidUpdate]]
    * for the memory/determinism contract. */
  private def slicedComponentFold(rows: DataFrame): DataFrame =
    rows
      .groupBy("cluster", "dim", "__slice")
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("__vid"), col("__v").as("v")))),
          lit(0.0), (acc, s) => acc + s.getField("v")).as("__ssum"),
        count(lit(1)).as("__n"))
      .groupBy("cluster", "dim")
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("__slice"), col("__ssum").as("v")))),
          lit(0.0), (acc, s) => acc + s.getField("v")).as("comp_sum"),
        sum(col("__n")).as("n"))

  /** Deterministic k-means training (Lloyd's iterations) — produces the
    * centroid set the IVF/PQ/SemDeDup operators consume, instead of
    * requiring one from outside. Init = the `k` lowest-id corpus vectors,
    * or with `initSeed` the k lowest by a seeded 60-bit id-hash — a
    * deterministic pseudo-random sample (reproducible per seed, a
    * different seed re-draws), which is the init a 100 TB corpus wants:
    * lowest-id rows are usually the oldest/most-correlated slice. Each
    * round assigns by cosine ([[ivfAssign]]) and recomputes means via the
    * bit-deterministic [[centroidUpdate]] fold.
    *
    * Per iteration: one corpus pass + one (cluster, dim) shuffle of the
    * component sums; only the k×dim centroid table (a few KB) returns to
    * the driver — the corpus never does. A cluster that loses all
    * members keeps its previous centroid (the standard empty-cluster
    * fallback, deterministic).
    *
    * Output: (cidCol, vecCol`: array<float>`, like the corpus — means are
    * computed in double and rounded once to float per component, `::REAL`
    * in the SQL mirror); `iters = 0` returns the initial centroids. */
  /** K-center greedy coreset (farthest-point traversal): pick the lowest
    * id as the seed, then k−1 times pick the point FARTHEST (max min
    * cosine-distance, ties → lowest id) from everything chosen so far —
    * the classic 2-approximation to the k-center cover and the standard
    * diversity-first data-selection baseline (a uniform sample keeps
    * mostly head-cluster rows; the maximin sweep guarantees every corpus
    * region is within the last selection's radius of a kept point).
    *
    * Deterministic end to end: no RNG, the per-pass dist math is the
    * engine-exact [[cosine]], argmax ties break on the unique id. Cost:
    * k corpus passes, each against ONE broadcast center (per-row Column
    * math; the running min-dist column rides a localCheckpoint so pass
    * j never recomputes passes 0..j−1). Driver state is k (id, dist)
    * pairs — bounded. Output: (step, idCol, maximin_dist) — the seed's
    * dist is NULL; the LAST step's dist is the coreset's cover radius.
    */
  def kCenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val seed = corpus.orderBy(col(idCol)).limit(1)
      .select(col(idCol), col(vecCol)).head()
    var picked = Seq((0L, seed.getLong(0), Option.empty[Double]))
    // running min distance to the chosen set (1 − cos, engine-exact)
    var state = corpus.select(col(idCol), col(vecCol),
        (lit(1.0) - cosine(col(vecCol),
          typedLit(seed.getSeq[Float](1)))).as("__mind"))
      .localCheckpoint(true)
    var step = 1L
    while (step < k) {
      val far = state.orderBy(col("__mind").desc, col(idCol)).limit(1)
        .select(col(idCol), col(vecCol), col("__mind")).head()
      picked :+= ((step, far.getLong(0), Option(far.getDouble(2))))
      val fv = far.getSeq[Float](1)
      state = state.select(col(idCol), col(vecCol),
          least(col("__mind"),
            lit(1.0) - cosine(col(vecCol), typedLit(fv))).as("__mind"))
        .localCheckpoint(true)
      step += 1
    }
    picked.toDF("step", idCol, "maximin_dist")
  }

  /** SCALABLE k-center (the k-center|| shape): [[kCenterCoreset]] is k
    * sequential driver-paced greedy passes — k Spark jobs, fine at the
    * query's k but round-count-bound at k = 10,000. Here each of
    * `passes` batch rounds takes the `oversample` CURRENT farthest
    * points in ONE action (top-L by running min-distance, id
    * tie-break — deterministic, no RNG), folds the whole batch into
    * the distance state lazily, and the ≤ 1 + passes·oversample
    * candidate set is reduced to exactly k by the exact greedy run
    * DRIVER-SIDE over candidate VECTORS only (kilobytes — the same
    * driver-state bound as [[kMeans]]' centroid table). Spark-action
    * count = `passes`, independent of k. The oversampling trade: a
    * batch's members are chosen against the same distance state, so
    * two batch mates can be near each other — the final exact reduce
    * repairs that, and the fixture spec pins the cover radius within
    * 2× of the sequential greedy (the classic 2-approximation stacks).
    * `maximin_dist` is the reduce-time maximin over the CANDIDATE set
    * (the sequential variant reports it over the corpus). Driver-side
    * arithmetic replicates the engine's sequential-fold cosine exactly,
    * so a SQL mirror can unroll both phases. */
  def kCenterScalable(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, oversample: Int, passes: Int): DataFrame = {
    require(k >= 1 && oversample >= 1 && passes >= 1,
      s"need k, oversample, passes >= 1: $k, $oversample, $passes")
    val spark = corpus.sparkSession
    import spark.implicits._
    def dotD(a: Seq[Float], b: Seq[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def distD(a: Seq[Float], b: Seq[Float]): Double = {
      val nrm = math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))
      1.0 - (if (nrm == 0.0) 0.0 else dotD(a, b) / nrm)
    }
    val seed = corpus.orderBy(col(idCol)).limit(1)
      .select(col(idCol), col(vecCol)).head()
    var cands = Vector((seed.getLong(0), seed.getSeq[Float](1)))
    var state = corpus.select(col(idCol), col(vecCol),
        (lit(1.0) - cosine(col(vecCol),
          typedLit(seed.getSeq[Float](1)))).as("__mind"))
      .localCheckpoint(true)
    for (p <- 1 to passes) {
      val far = state.orderBy(col("__mind").desc, col(idCol)).limit(oversample)
        .select(col(idCol), col(vecCol)).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      cands ++= far.filterNot(f => cands.exists(_._1 == f._1))
      if (p < passes) {
        val folds = far.map(f =>
          lit(1.0) - cosine(col(vecCol), typedLit(f._2)))
        state = state.select(col(idCol), col(vecCol),
            least(col("__mind") +: folds: _*).as("__mind"))
          .localCheckpoint(true)
      }
    }
    require(cands.size >= k,
      s"k-center|| collected ${cands.size} candidates < k = $k — " +
        "raise oversample/passes or shrink k")
    // exact greedy reduce, driver-side (candidate-set-sized)
    var picked = Vector((0L, cands.head._1, Option.empty[Double]))
    var minds = cands.map(c => (c._1, c._2, distD(c._2, cands.head._2)))
    var step = 1L
    while (step < k) {
      // argmax over ALL candidates (picked rows fold to ~0 distance) —
      // the same convention as [[kCenterCoreset]]'s corpus argmax, so
      // the SQL mirror is one QUALIFY per step with no exclusion set
      val far = minds.maxBy(m => (m._3, -m._1))
      picked :+= ((step, far._1, Option(far._3)))
      minds = minds.map(m => (m._1, m._2, math.min(m._3, distD(m._2, far._2))))
      step += 1
    }
    picked.toDF("step", idCol, "maximin_dist")
  }

  def kMeans(corpus: DataFrame, idCol: String, vecCol: String,
             cidCol: String, k: Int, iters: Int,
             initSeed: Option[String] = None): DataFrame = {
    require(k >= 1 && iters >= 0)
    val spark = corpus.sparkSession
    import spark.implicits._
    def toDf(cents: Seq[(Long, Seq[Float])]) = cents.toDF(cidCol, vecCol)
    // Driver-side state is ONLY the k×dim centroid table (a few KB); the
    // corpus itself never leaves the cluster.
    var cents: Seq[(Long, Seq[Float])] = initRows(corpus, idCol, vecCol, k, initSeed)
    // A corpus with < k rows would silently hand IVF/PQ/SemDeDup consumers
    // a differently-sized centroid set — fail loudly instead.
    require(cents.length == k,
      s"kMeans k = $k but the corpus has only ${cents.length} rows to init from")
    var i = 0
    while (i < iters) {
      val assigned = ivfAssign(corpus, toDf(cents), idCol, vecCol, cidCol)
      val rows = centroidUpdate(assigned, idCol, vecCol)
        .select(col("cluster"), col("dim"),
          (col("comp_sum") / col("n")).as("m"))
        .collect()
      // Means in double, rounded ONCE to float so the next assignment
      // compares float vectors like the corpus (`::REAL` in the mirror).
      val means = rows.groupBy(_.getLong(0)).map { case (c, rs) =>
        c -> rs.sortBy(_.getLong(1)).map(_.getDouble(2).toFloat).toSeq
      }
      cents = cents.map { case (c, v) => (c, means.getOrElse(c, v)) }
      i += 1
    }
    toDf(cents)
  }

  /** Per-subspace PQ codebook training: Lloyd's iterations over the `m`
    * equal-width subvectors SIMULTANEOUSLY — the training path that turns
    * [[pqCodes]]/[[pqKnn]] from demo-grade (hand-picked codebook rows)
    * into real product quantization. Assignment metric is squared L2 per
    * subspace (the [[pqCodes]] metric — NOT [[kMeans]]'s cosine), ties →
    * lowest code; means via the same bounded deterministic fold as
    * [[centroidUpdate]].
    *
    * One corpus pass per iteration covers ALL m subspaces: codes are
    * assigned against the broadcast codebook exactly as in [[pqCodes]]
    * (per-row Column math, zero corpus shuffle), then one posexplode
    * routes every component to (cluster = its subspace's code, dim) and
    * one sliced two-phase fold computes all m×k×(dims/m) means. Driver
    * state is only the k×dims centroid table.
    *
    * Output: (cidCol, vecCol) with FULL-WIDTH vectors — entry j is the
    * concatenation of subspace-j centroids, which is exactly the codebook
    * shape [[pqCodes]]/[[pqKnn]] consume (each subspace slices its own
    * part; codes stay independent per subspace). Init = the k lowest-id
    * corpus vectors, or with `initSeed` the k lowest by a seeded 60-bit
    * id-hash — the same deterministic pseudo-random draw as [[kMeans]].
    * Empty (cluster, subspace) pairs keep their init subvector. Init-row
    * width must divide evenly by `m`; a corpus row's trailing
    * `width mod m` dims are ignored — the same remainder rule the coder
    * ([[subL2]]) applies. */
  def kMeansSub(corpus: DataFrame, idCol: String, vecCol: String,
                cidCol: String, m: Int, k: Int, iters: Int,
                initSeed: Option[String] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    def toDf(cents: Seq[(Long, Seq[Float])]) = cents.toDF(cidCol, vecCol)
    var cents: Seq[(Long, Seq[Float])] = initRows(corpus, idCol, vecCol, k, initSeed)
    require(cents.length == k,
      s"kMeansSub k = $k but the corpus has only ${cents.length} rows to init from")
    require(cents.forall(_._2.length % m == 0),
      s"vector width must divide evenly into $m subspaces")
    var it = 0
    while (it < iters) {
      val cb = collectCodebook(toDf(cents), cidCol, vecCol, m)
      // The coder's own assignment ([[withSubspaceCodes]]) — training and
      // coding share one semantics by construction.
      val coded = withSubspaceCodes(corpus, cb, Seq(idCol, vecCol), vecCol, m)
      // Route each exploded component to its subspace's cluster, then the
      // shared sliced fold: one shuffle for all m subspaces.
      val rows = coded
        .select(col(idCol).as("__vid"), sliceHashKey(idCol),
          array((0 until m).map(i => col(s"code$i")): _*).as("__codes"),
          size(col(vecCol)).as("__w"), posexplode(col(vecCol)))
        // Fold exactly the dims the coder reads: [[subL2]] slices m equal
        // per-row subvectors and IGNORES a trailing remainder, so a
        // ragged row's tail dims are dropped here too — without this
        // filter they would route to subspace index m (out of range) and
        // corrupt the fold with null clusters.
        .where(col("pos") < expr(s"(__w div $m) * $m"))
        .select(
          element_at(col("__codes"),
            (expr(s"pos div (__w div $m)") + 1).cast("int")).as("cluster"),
          col("pos").cast("long").as("dim"), col("__vid"),
          sliceOfKey(1024), col("col").cast("double").as("__v"))
      // k×dims rows back to the driver — the centroid table, never data.
      val means = slicedComponentFold(rows)
        .select(col("cluster"), col("dim"), (col("comp_sum") / col("n")).as("mean"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      cents = cents.map { case (j, v) =>
        (j, v.toIndexedSeq.zipWithIndex.map { case (old, d) =>
          means.get((j, d.toLong)).map(_.toFloat).getOrElse(old)
        })
      }
      it += 1
    }
    toDf(cents)
  }

  /** Sign random projection (Johnson–Lindenstrauss, Achlioptas 2003
    * ±1 variant): reduce `inDim`-wide embeddings to `outDim` components
    * `p_j = (Σ_i s_ij · v_i) / √outDim` with a DETERMINISTIC sign matrix
    * `s_ij = ±1` drawn from the 60-bit md5 hash of `"seed:i:j"` (the
    * engine-portable hash the dedup family uses) — the storage/compute
    * reducer in front of ANN: a 4× narrower vector cuts every downstream
    * cosine/L2 fold 4× while approximately preserving pairwise distances.
    *
    * The matrix is materialized ONCE driver-side (outDim×inDim literal —
    * a few KB riding the plan) and each row's projection is a fixed
    * zip-multiply + left-to-right fold per output component: per-row
    * column math, zero shuffle, scan speed. All arithmetic is IEEE
    * multiply/add in a fixed order plus one correctly-rounded sqrt, so
    * values reproduce bitwise cross-engine. Rows whose vector is not
    * exactly `inDim` wide project to null components (zip misalignment),
    * surfacing bad data instead of silently truncating.
    *
    * Output: corpus columns + `projCol: array<double>` (length outDim). */
  def randomProject(corpus: DataFrame, vecCol: String, projCol: String,
                    inDim: Int, outDim: Int, seed: String): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"dims must be >= 1: $inDim -> $outDim")
    val signs: IndexedSeq[IndexedSeq[Double]] = (0 until outDim).map(j =>
      (0 until inDim).map(i => if (h60(s"$seed:$i:$j") % 2 == 0) 1.0 else -1.0))
    val comps = (0 until outDim).map { j =>
      aggregate(
        zip_with(typedLit(signs(j)), col(vecCol), (s, v) => s * v.cast("double")),
        lit(0.0), (acc, x) => acc + x) / sqrt(lit(outDim.toDouble))
    }
    corpus.withColumn(projCol, array(comps: _*))
  }

  /** JVM twin of [[graft.functions.TextFunctions.hash60]] (first 15 hex
    * chars of md5 as a 60-bit long) — lets driver-side constants (the
    * projection sign matrix) agree bit-for-bit with in-plan and oracle
    * hashing. */
  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Cluster-stratified diversity sample: keep at most `perCluster`
    * members of each IVF cluster, chosen by a seeded 60-bit id-hash
    * (deterministic; a new seed re-draws). Uniform sampling of a skewed
    * embedding corpus keeps mostly head-region documents — stratifying by
    * semantic cluster caps every region at the same budget, the standard
    * coverage-preserving downsample for training data. `assigned` is
    * [[ivfAssign]] output (idCol, ..., cluster).
    *
    * Scale: the rank-≤-n window plans as WindowGroupLimit — per-partition
    * top-n heaps run BEFORE the cluster exchange, so shuffle input is
    * ≤ partitions·perCluster rows per cluster, never the cluster's full
    * membership (a mega-cluster costs the same as a small one). */
  def clusterSample(assigned: DataFrame, idCol: String, perCluster: Int,
                    seed: String): DataFrame = {
    require(perCluster >= 1, s"perCluster must be >= 1: $perCluster")
    val h = graft.functions.TextFunctions.hash60(
      concat(lit(seed + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy("cluster").orderBy(h, col(idCol))
    assigned.withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= perCluster)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, restricted
    * to bucketed candidates (the scale path for embedding dedup).
    *
    * Scale guards:
    *  - `maxBucketSize` drops heavy buckets before the Σ bucket² self-join
    *    (one dense embedding region would otherwise go quadratic —
    *    the same cap [[graft.ops.Dedup.lshCandidatePairs]] uses);
    *  - Hamming-1 multiprobe (as in [[annKnn]]) recovers pairs that a
    *    single sign-flip separates, so recall is tuned by `bits`/probes
    *    instead of being bucket-boundary-lossy. Each qualifying pair is
    *    produced exactly once: a same-bucket pair matches only the
    *    identity probe, a one-flip pair matches one probe per orientation
    *    and the `id_a < id_b` filter keeps a single orientation. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bits: Int,
                         maxBucketSize: Int = 1000,
                         multiprobe: Boolean = true): DataFrame =
    lshBucketPairs(corpus, Nil, idCol, vecCol, bits, maxBucketSize, multiprobe)
      .where(col("cos") >= threshold)

  /** DBSCAN density clustering (Ester et al. 1996) over the LSH
    * eps-graph: eps-neighbors are the capped-bucket multiprobe candidate
    * pairs with cos >= `eps` — the same mirrored candidate generation as
    * [[cosineNearDupPairs]], so an oracle sees the identical graph.
    * core = degree >= `minPts` (neighbors, self excluded); clusters =
    * connected components of the core–core subgraph, labeled by their
    * min member id (an edgeless core is its own singleton cluster);
    * border points attach to the smallest cluster among their core
    * neighbors; everything else is noise with a NULL cluster.
    *
    * Every step is candidate-pair-sized, never N²: one degree agg, a
    * components pass over core–core edges only ([[Dedup.resolveClusters]]
    * — distributed label-prop above its local threshold), one
    * neighbor-min agg for borders, and a final left-join sweep over the
    * corpus ids. The density shape DBSCAN finds that k-means cannot —
    * non-convex clusters plus an explicit noise verdict — is exactly the
    * curation split between "coherent semantic region" and "outlier
    * junk". Output: (idCol, role ∈ core|border|noise, cluster). */
  def dbscan(corpus: DataFrame, idCol: String, vecCol: String,
             eps: Double, minPts: Int, bits: Int,
             maxBucketSize: Int = 1000): DataFrame = {
    // distinct: multiprobe can surface the same pair via several probe
    // buckets; degrees must count each neighbor once.
    val pairs = cosineNearDupPairs(corpus, idCol, vecCol, eps, bits,
        maxBucketSize)
      .select(col("id_a"), col("id_b")).distinct().localCheckpoint(true)
    val edges = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val cores = edges.groupBy(col("id_a").as("__cid"))
      .agg(count(lit(1)).as("__deg"))
      .where(col("__deg") >= minPts).select("__cid")
    val coreEdges = pairs
      .join(cores.select(col("__cid").as("id_a")), Seq("id_a"), "left_semi")
      .join(cores.select(col("__cid").as("id_b")), Seq("id_b"), "left_semi")
    val comp = Dedup.resolveClusters(coreEdges, "id_a", "id_b")
      .select(col("id").as("__cid"), col("cluster").as("__comp"))
    val coreLab = cores.join(comp, Seq("__cid"), "left")
      .select(col("__cid"), coalesce(col("__comp"), col("__cid")).as("__cl"))
    val border = edges
      .join(cores.select(col("__cid").as("id_a")), Seq("id_a"), "left_anti")
      .join(coreLab.select(col("__cid").as("id_b"), col("__cl")), Seq("id_b"))
      .groupBy(col("id_a").as("__bid")).agg(min(col("__cl")).as("__bcl"))
    corpus.select(col(idCol))
      .join(coreLab.withColumnRenamed("__cid", idCol), Seq(idCol), "left")
      .join(border.withColumnRenamed("__bid", idCol), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cl").isNotNull, lit("core"))
          .when(col("__bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__cl"), col("__bcl")).as("cluster"))
  }

  /** The shared capped-bucket multiprobe pair shape: sign-LSH bucket the
    * rows, drop buckets over `maxBucketSize` (the quadratic guard),
    * generate candidate pairs within `extraKeys ++ bucket` with optional
    * Hamming-1 multiprobe. Used corpus-wide ([[cosineNearDupPairs]],
    * `extraKeys = Nil`) and per-cluster ([[semDedup]]'s heavy fallback,
    * `extraKeys = Seq("cluster")`). Each qualifying pair is produced
    * exactly once: a same-bucket pair matches only the identity probe; a
    * one-flip pair matches one probe per orientation and `id_a < id_b`
    * keeps a single orientation. The capped bucket table is materialized
    * once (eager, cleaner-reclaimed) — the probe-expanded side and the
    * plain side both reuse it. Output: extraKeys ++ (id_a, id_b, cos). */
  private def lshBucketPairs(df: DataFrame, extraKeys: Seq[String],
                             idCol: String, vecCol: String, bits: Int,
                             maxBucketSize: Int, multiprobe: Boolean): DataFrame = {
    val keyCols = extraKeys.map(col)
    val b = df.withColumn("__bkt", signBucket(col(vecCol), bits))
      .withColumn("__bn",
        count(lit(1)).over(Window.partitionBy((extraKeys :+ "__bkt").map(col): _*)))
      .where(col("__bn") <= maxBucketSize)
      .localCheckpoint(true)
    val a0 = b.select(keyCols ++ Seq(col("__bkt"),
      col(idCol).as("id_a"), col(vecCol).as("__va")): _*)
    val probes = (0 until bits).map(j => col("__bkt").bitwiseXOR(1L << j))
    val a =
      if (multiprobe) a0.withColumn("__bkt", explode(array(col("__bkt") +: probes: _*)))
      else a0
    val c = b.select(keyCols ++ Seq(col("__bkt"),
      col(idCol).as("id_b"), col(vecCol).as("__vb")): _*)
    a.join(c, extraKeys :+ "__bkt")
      .where(col("id_a") < col("id_b"))
      .select(keyCols ++ Seq(col("id_a"), col("id_b"),
        cosine(col("__va"), col("__vb")).as("cos")): _*)
  }

  /** SemDeDup — semantic deduplication by cluster-then-prune (Abbas et
    * al. 2023, arXiv:2303.09540): assign every embedding to its nearest
    * centroid, generate candidate pairs ONLY within a cluster, and drop
    * every document that has a lower-id near-duplicate (cosine ≥
    * `threshold`) in its cluster. The intra-cluster restriction is what
    * makes semantic dedup tractable at 100 TB: candidate generation is
    * Σ cluster² instead of N², and clusters are the unit of parallelism.
    *
    * Deterministic keep rule: the paper keeps one arbitrary member per
    * near-dup group; here the kept member is the lowest id of any
    * ≥-threshold pair — greedy per-pair, no iterative connected
    * components, so the result is closed-form SQL (the oracle mirrors it
    * exactly). For full transitive-group resolution compose with
    * [[graft.ops.Dedup.resolveClusters]] on the pair set instead.
    *
    * Scale guards: clusters over `maxClusterSize` do NOT generate the
    * all-pairs self-join (one mega-cluster cannot go quadratic) — but
    * they are not exempt either: the densest (most duplicate-rich)
    * region is exactly where dedup matters most, so over-cap clusters
    * fall back to sign-LSH sub-bucketing INSIDE the cluster (the
    * [[cosineNearDupPairs]] shape, additionally keyed by cluster):
    * pairs generate per (cluster, bucket) with Hamming-1 multiprobe,
    * buckets over `heavyMaxBucketSize` are the residual quadratic guard.
    * Recall within heavy clusters is LSH-bounded (tuned by `heavyBits`)
    * instead of exact — the standard trade at this density. The
    * assignment is materialized once (eager, cleaner-reclaimed) because
    * both pair paths and the final anti-join re-read it.
    *
    * Output: (idCol, cluster) of KEPT documents. */
  def semDedup(corpus: DataFrame, centroids: DataFrame, idCol: String,
               vecCol: String, cidCol: String, threshold: Double,
               maxClusterSize: Int = 10000, heavyBits: Int = 6,
               heavyMaxBucketSize: Int = 1000): DataFrame =
    semDedupAssigned(
      ivfAssign(corpus, centroids, idCol, vecCol, cidCol)
        .select(col(idCol), col(vecCol), col("cluster"))
        .localCheckpoint(true),
      idCol, vecCol, threshold, maxClusterSize, heavyBits, heavyMaxBucketSize)

  /** [[semDedup]] over a PRE-ASSIGNED corpus — `assigned` carries
    * (idCol, vecCol, cluster) and should already be MATERIALIZED
    * (checkpointed/persisted): both pair paths and the final anti-join
    * re-read it. Lets callers that already hold an assignment (e.g. the
    * ingest gate [[graft.streaming.EmbedDedupStream]], which assigns each
    * delivery once for the index probe) skip a second centroid pass. */
  def semDedupAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, maxClusterSize: Int = 10000,
                       heavyBits: Int = 6,
                       heavyMaxBucketSize: Int = 1000): DataFrame = {
    // Over-cap clusters as a TINY broadcast list (≤ |centroids| rows)
    // anti-joined away — a count window would re-shuffle and re-count the
    // corpus once per self-join side; this is one partial agg.
    val heavy = assigned.groupBy("cluster").agg(count(lit(1)).as("__cn"))
      .where(col("__cn") > maxClusterSize).select("cluster")
    val capped = assigned.join(broadcast(heavy), Seq("cluster"), "left_anti")
    val a = capped.select(col("cluster"), col(idCol).as("__id_a"), col(vecCol).as("__va"))
    val b = capped.select(col("cluster"), col(idCol).as("__id_b"), col(vecCol).as("__vb"))
    val droppedSmall = a.join(b, "cluster")
      .where(col("__id_a") < col("__id_b"))
      .where(cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("__id_b").as(idCol))
    // Heavy clusters: the shared capped-bucket multiprobe pair shape
    // ([[lshBucketPairs]]), additionally keyed by cluster.
    val droppedHeavy = lshBucketPairs(
      assigned.join(broadcast(heavy), Seq("cluster")), Seq("cluster"),
      idCol, vecCol, heavyBits, heavyMaxBucketSize, multiprobe = true)
      .where(col("cos") >= threshold)
      .select(col("id_b").as(idCol))
    val dropped = droppedSmall.unionByName(droppedHeavy).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** Product-quantization code assignment: split each vector into `m`
    * equal subvectors, assign each subvector to its nearest codebook
    * entry by squared L2 (ties → lowest code), and pack the `m` codes
    * into one BIGINT (code_i in base-256 digit i).
    *
    * Each code is the 0-based RANK of the winning entry in cid-sorted
    * order, not the cid value itself (they coincide for contiguous
    * 0..K-1 cids). Guards: `m ≤ 8` and ≤ 256 codebook entries, else the
    * base-256 packing would overflow/collide (enforced, with the same
    * contract on the [[pqKnn]] read path).
    *
    * `codebook` rows carry (cidCol, vecCol full-width) — at
    * scale it comes from sampled k-means, here from any deterministic
    * vector subset. The codebook is collapsed to a single sorted
    * array-of-structs row and broadcast, so assignment is PER-ROW Column
    * math: zero corpus shuffle, zero explode — N·m·K distance folds
    * stream through one projection (the minimal PQ-assign work).
    *
    * Squared-L2 folds accumulate left-to-right in double over fixed
    * subvector order — bit-identical in the SQL mirror. */
  def pqCodes(corpus: DataFrame, codebook: DataFrame, idCol: String,
              vecCol: String, cidCol: String, m: Int,
              extraCols: Seq[String] = Nil): DataFrame = {
    val cb = collectCodebook(codebook, cidCol, vecCol, m)
    val packed = (0 until m).map(i => col(s"code$i") * lit(1L << (8 * i)))
      .reduce(_ + _)
    // `extraCols` ride along so an IVF-PQ index builds in ONE pass:
    // pqCodes(ivfAssign(...), ..., extraCols = Seq("cluster")) — both
    // assignments are per-row math, so the (id, cluster, pq_code) index
    // needs zero shuffles and no corpus self-join.
    withSubspaceCodes(corpus, cb, idCol +: extraCols, vecCol, m)
      .withColumn("pq_code", packed)
  }

  /** The shared per-subspace nearest-code assignment: keep `keep` and
    * append `code0..code{m-1}` against the collapsed broadcast codebook
    * `cb` ([[collectCodebook]] output). Per-subspace distance arrays are
    * bound as attributes BEFORE the argmin — array_position + array_min
    * would otherwise inline (and re-evaluate) the full distance transform
    * twice per subspace. argmin = first index achieving the min; the
    * codebook is cid-sorted, so ties resolve to the lowest code. Used by
    * the coder ([[pqCodes]]) and the trainer ([[kMeansSub]]) — ONE
    * assignment semantics, which the 'same codebook as at
    * code-assignment time' contract of [[pqKnn]]/[[ivfPqKnn]] relies on. */
  private def withSubspaceCodes(corpus: DataFrame, cb: DataFrame,
                                keep: Seq[String], vecCol: String,
                                m: Int): DataFrame = {
    val distCols = (0 until m).map(i =>
      transform(col("__cb"), c => subL2(col(vecCol), c.getField("cvec"), i, m)).as(s"__d$i"))
    val codeCols = (0 until m).map(i =>
      (array_position(col(s"__d$i"), array_min(col(s"__d$i"))) - 1L)
        .cast("long").as(s"code$i"))
    corpus.crossJoin(cb)
      .select(keep.map(col) ++ distCols: _*)
      .select(keep.map(col) ++ codeCols: _*)
  }

  /** Asymmetric-distance (ADC) top-k over packed PQ codes — the 100 TB
    * ANN read path that [[pqCodes]] exists for: the scan touches only the
    * 8-byte `pq_code` column, never the full vectors (a 64-float vector
    * is 256 bytes; its 4-subspace code is 4). Per query, one lookup table
    * of `K` exact query↔codebook subspace distances is computed per
    * subspace and broadcast; each corpus row's approximate distance is
    * then `m` array lookups on its unpacked code digits. Zero corpus
    * shuffle until the final per-query top-k window.
    *
    * `codes` is the output of [[pqCodes]] (idCol, `pq_code`); `queries`
    * carries raw vectors (qidCol, vecCol); `codebook`/`m` must be the
    * SAME as at code-assignment time (codes are positional ranks in cid
    * order — see [[pqCodes]]). Output: (qid, id, adc_dist, rank ≤ k),
    * ascending approximate squared L2. */
  def pqKnn(codes: DataFrame, queries: DataFrame, codebook: DataFrame,
            idCol: String, vecCol: String, qidCol: String, cidCol: String,
            m: Int, k: Int): DataFrame = {
    val cb = collectCodebook(codebook, cidCol, vecCol, m)
    // Per-query, per-subspace lookup tables over the broadcast codebook:
    // bound as attributes so the argmin-free lookups below don't inline
    // the distance transform.
    val lutCols = (0 until m).map(i =>
      transform(col("__cb"), c => subL2(col(vecCol), c.getField("cvec"), i, m)).as(s"__lut$i"))
    val q0 = queries.crossJoin(cb).select(col(qidCol) +: lutCols: _*)
    val q = if (underBroadcastCap(queries)) broadcast(q0) else q0
    // Unpack digit i = (pq_code >> 8i) & 255, then ADC distance = the sum
    // of one LUT entry per subspace (left-to-right, bit-deterministic).
    val dist = (0 until m).map(i =>
      element_at(col(s"__lut$i"),
        (shiftrightunsigned(col("pq_code"), 8 * i).bitwiseAND(lit(255L)) + 1L).cast("int")))
      .reduce(_ + _)
    val w = Window.partitionBy(qidCol).orderBy(col("adc_dist"), col(idCol))
    codes.crossJoin(q)
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol), dist.as("adc_dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** IVF-PQ top-k — the composed 100 TB ANN read path (the FAISS IVFPQ
    * shape): probe the query's `nprobe` nearest clusters and rank ONLY
    * their members by asymmetric distance over packed PQ codes. The scan
    * side is the 16-byte (id, cluster, pq_code) index — never raw
    * vectors — and touches corpus·nprobe/k_clusters of it; per query one
    * K-entry LUT per subspace rides the broadcast. Zero corpus shuffle
    * until the final per-query top-k window.
    *
    * `indexed` = [[ivfAssign]]'s (idCol, cluster) joined with
    * [[pqCodes]]'s (idCol, pq_code) — built once per index build, ideally
    * persisted bucketed on `cluster`. `centroids` (coarse quantizer) and
    * `codebook`/`m` (fine quantizer, same as at code-assignment time) are
    * both broadcast. Output: (qid, id, adc_dist, rank ≤ k). */
  def ivfPqKnn(indexed: DataFrame, queries: DataFrame, centroids: DataFrame,
               codebook: DataFrame, idCol: String, vecCol: String,
               qidCol: String, cidCol: String, m: Int, k: Int,
               nprobe: Int = 1): DataFrame = {
    val cb = collectCodebook(codebook, cidCol, vecCol, m)
    val lutCols = (0 until m).map(i =>
      transform(col("__cb"), c => subL2(col(vecCol), c.getField("cvec"), i, m)).as(s"__lut$i"))
    val q0 = ivfAssignTop(queries, centroids, qidCol, vecCol, cidCol, nprobe)
      .crossJoin(cb)
      .select(col(qidCol) +: col("cluster") +: lutCols: _*)
    val q = if (underBroadcastCap(queries)) broadcast(q0) else q0
    val dist = (0 until m).map(i =>
      element_at(col(s"__lut$i"),
        (shiftrightunsigned(col("pq_code"), 8 * i).bitwiseAND(lit(255L)) + 1L).cast("int")))
      .reduce(_ + _)
    val w = Window.partitionBy(qidCol).orderBy(col("adc_dist"), col(idCol))
    indexed.join(q, "cluster")
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol), dist.as("adc_dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Nearest-centroid residuals — the encoding-space transform behind
    * REAL FAISS IVFPQ (Jégou et al. 2011 §III): r = v − c(v), so the
    * fine quantizer spends its codebook on the (much lower-variance)
    * within-cell displacement instead of re-describing the coarse
    * structure the IVF assignment already captured. Per-row math against
    * one broadcast centroid row set; output (idCol, cluster,
    * residual: array<double>). */
  def residuals(corpus: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String, cidCol: String): DataFrame = {
    val c = broadcast(centroids.select(col(cidCol).as("__rcid"),
      col(vecCol).as("__rcv")))
    val scored = corpus.crossJoin(c)
      .select(col(idCol), col(vecCol), col("__rcid"), col("__rcv"),
        cosine(col(vecCol), col("__rcv")).as("__ccos"))
    val w = Window.partitionBy(idCol).orderBy(col("__ccos").desc, col("__rcid"))
    scored.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col(idCol), col("__rcid").as("cluster"),
        zip_with(col(vecCol), col("__rcv"),
          (x, cc) => x.cast("double") - cc.cast("double")).as("residual"))
  }

  /** Residual IVF-PQ top-k — [[ivfPqKnn]] with the fine quantizer in
    * residual space (the production FAISS IVFPQ read path): the index
    * carries PQ codes of r = v − c(v) ([[residuals]] → [[pqCodes]]),
    * and each query builds its per-PROBED-CLUSTER residual q − c_probe
    * before the ADC lookup tables — the query side is
    * (#queries · nprobe · K · m) broadcast arithmetic, the scan side is
    * still the 16-byte (id, cluster, pq_code) index and touches
    * corpus·nprobe/k_clusters of it. `codebook` is residual-space
    * (cidCol, cbVecCol); `centroids`/`m` must match the index build.
    * Output: (qid, id, adc_dist, rank ≤ k). */
  def ivfPqResidualKnn(indexed: DataFrame, queries: DataFrame,
                       centroids: DataFrame, codebook: DataFrame,
                       idCol: String, vecCol: String, qidCol: String,
                       cidCol: String, cbVecCol: String, m: Int, k: Int,
                       nprobe: Int = 1): DataFrame = {
    val cb = collectCodebook(codebook, cidCol, cbVecCol, m)
    val cents = broadcast(centroids.select(col(cidCol).as("cluster"),
      col(vecCol).as("__pcv")))
    val probes = ivfAssignTop(queries, centroids, qidCol, vecCol, cidCol, nprobe)
      .join(cents, "cluster")
      .withColumn("__qres", zip_with(col(vecCol), col("__pcv"),
        (x, cc) => x.cast("double") - cc.cast("double")))
    val lutCols = (0 until m).map(i =>
      transform(col("__cb"), c => subL2(col("__qres"), c.getField("cvec"), i, m))
        .as(s"__lut$i"))
    val q0 = probes.crossJoin(cb)
      .select(col(qidCol) +: col("cluster") +: lutCols: _*)
    val q = if (underBroadcastCap(probes)) broadcast(q0) else q0
    val dist = (0 until m).map(i =>
      element_at(col(s"__lut$i"),
        (shiftrightunsigned(col("pq_code"), 8 * i).bitwiseAND(lit(255L)) + 1L).cast("int")))
      .reduce(_ + _)
    val w = Window.partitionBy(qidCol).orderBy(col("adc_dist"), col(idCol))
    indexed.join(q, "cluster")
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(idCol), dist.as("adc_dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Bucketed kNN graph over the WHOLE corpus: each row's top-k cosine
    * neighbors among its sign-LSH candidates — the input shape for
    * graph-based curation (connected-component dedup families, label
    * propagation, graph sampling). Distinct from [[annKnn]], whose query
    * side is a small broadcast set: here every row is a query, so the
    * candidate generation is the capped-bucket self-join of
    * [[cosineNearDupPairs]] (Σ bucket² with `maxBucketSize` the quadratic
    * guard, Hamming-1 multiprobe for boundary recall) — never N² and
    * never a corpus broadcast.
    *
    * Each undirected candidate pair feeds BOTH directions, then a per-src
    * top-k window that plans as WindowGroupLimit (per-partition heaps
    * before the exchange), so a hub node costs what any node costs.
    * Recall is LSH-bounded (tuned by `bits`/multiprobe), the standard
    * trade for corpus-wide graphs.
    *
    * Output: (src, dst, cos, rank ≤ k). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               bits: Int, maxBucketSize: Int = 1000,
               multiprobe: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val pairs = lshBucketPairs(corpus, Nil, idCol, vecCol, bits,
      maxBucketSize, multiprobe)
    val directed = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
      .unionByName(pairs
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    directed.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Jaccard link prediction over a directed edge list (Liben-Nowell &
    * Kleinberg 2003): for every 2-hop pair (a, c) not already linked,
    * score = |N(a) ∩ N(c)| / |N(a) ∪ N(c)| over out-neighborhoods —
    * the "these two nodes should probably be connected" signal that
    * densifies a sparse kNN graph (missed near-dups, retrieval
    * expansion) without touching a single vector. Candidates come from
    * the shared-neighbor self-join, so the work is Σ in-deg(b)² over
    * the graph — bounded by k·|V| edges with in-degree capped by the
    * top-k construction, never corpus×corpus. Exact integer counts,
    * one IEEE division; global top-N plans as TakeOrderedAndProject.
    * Output: (a, c, n_common, jaccard), a < c. */
  def linkPredictJaccard(edges: DataFrame, srcCol: String, dstCol: String,
                         topN: Int): DataFrame = {
    // distinct: multiprobe candidate generation can surface one edge
    // twice; set semantics everywhere below.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("__d"))
    val common = e.select(col("src").as("a"), col("dst").as("__b"))
      .join(e.select(col("src").as("c"), col("dst").as("__b")), "__b")
      .where(col("a") < col("c"))
      .groupBy("a", "c").agg(count(lit(1)).as("n_common"))
    val existing = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("c")).distinct()
    common.join(existing, Seq("a", "c"), "left_anti")
      .join(deg.select(col("src").as("a"), col("__d").as("__da")), "a")
      .join(deg.select(col("src").as("c"), col("__d").as("__dc")), "c")
      .select(col("a"), col("c"), col("n_common"),
        (col("n_common").cast("double") /
          (col("__da") + col("__dc") - col("n_common")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("c")).limit(topN)
  }

  /** Resource-Allocation link prediction (Zhou-Lü-Zhang 2009): score a
    * non-edge (a,c) by Σ 1/deg(z) over shared neighbors z — the
    * LOG-FREE cousin of Adamic-Adar, and empirically its equal: a rare
    * shared neighbor is strong evidence, a hub is weak. Same wedge-join
    * shape as [[linkPredictJaccard]] (work = Σ deg², bounded by the kNN
    * cap); the per-pair sum folds the (deg, z)-SORTED shared-neighbor
    * list so the float additions run in one total order on any engine
    * (the repo's ordered-fold rule — a plain SUM over doubles would be
    * partition-order-sensitive). Output: top `topN` non-edges by
    * (ra desc, a, c). */
  def linkPredictRA(edges: DataFrame, srcCol: String, dstCol: String,
                    topN: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("__d"))
    val wedges = e.select(col("src").as("a"), col("dst").as("__z"))
      .join(e.select(col("src").as("c"), col("dst").as("__z")), "__z")
      .where(col("a") < col("c"))
      .join(deg.select(col("src").as("__z"), col("__d")), "__z")
    val existing = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("c")).distinct()
    wedges.groupBy("a", "c")
      .agg(count(lit(1)).as("n_common"),
        aggregate(
          sort_array(collect_list(struct(col("__d"), col("__z")))),
          lit(0.0),
          (acc, x) => acc + lit(1.0) / x.getField("__d").cast("double"))
          .as("ra"))
      .join(existing, Seq("a", "c"), "left_anti")
      .orderBy(col("ra").desc, col("a"), col("c")).limit(topN)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    * at λ = 1/2: greedily pick `k` of each query's candidates, each
    * round's pick maximizing `0.5·rel − 0.5·max sim-to-already-picked`
    * (ties by id) — the diversity re-rank that stops a retrieval list
    * from being five paraphrases of the same passage. `cand` holds
    * (qidCol, idCol, relCol); `sims` holds (qidCol, `ia`, `ib`, `sim`)
    * for ordered candidate pairs of the same query. The selection is
    * inherently sequential in k, so this runs k candidate-list-sized
    * rounds (argmax by window rank, then an anti-join shrink) — never
    * corpus-sized work; λ = 1/2 is dyadic, so the score arithmetic is
    * two exact halvings mirrorable bit-for-bit. Output: (qidCol,
    * idCol, relCol, rank 1..k in pick order). */
  def mmrRerank(cand: DataFrame, sims: DataFrame, qidCol: String,
                idCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // Eager checkpoints keep every round's plan FLAT: candidates and
    // sims are computed once, and only each round's one-row-per-query
    // PICK is checkpointed — selected/remaining are then cheap unions /
    // anti-joins of already-flat frames, so no plan nests k rounds deep
    // (uncheckpointed, the recursive lineage measured 15.6 s at k = 5
    // over 100-candidate lists; one checkpoint per round ≈ 2 s).
    val candCk = cand.localCheckpoint(true)
    val simsCk = sims.localCheckpoint(true)
    val wRel = Window.partitionBy(qidCol)
      .orderBy(col(relCol).desc, col(idCol))
    val picks = scala.collection.mutable.ArrayBuffer(
      candCk.withColumn("__rn", row_number().over(wRel))
        .where(col("__rn") === 1).drop("__rn")
        .withColumn("rank", lit(1L))
        .localCheckpoint(true))
    for (r <- 2 to k) {
      val selected = picks.reduce(_ unionByName _)
      val remaining = candCk.join(selected.select(qidCol, idCol),
        Seq(qidCol, idCol), "left_anti")
      val scored = remaining
        .join(simsCk.select(col(qidCol), col("ia").as(idCol), col("ib"),
          col("sim")), Seq(qidCol, idCol))
        .join(selected.select(col(qidCol), col(idCol).as("ib")),
          Seq(qidCol, "ib"))
        .groupBy(qidCol, idCol)
        .agg(first(col(relCol)).as(relCol), max(col("sim")).as("__ms"))
        .withColumn("__score",
          lit(0.5) * col(relCol) - lit(0.5) * col("__ms"))
      val wScore = Window.partitionBy(qidCol)
        .orderBy(col("__score").desc, col(idCol))
      picks += scored.withColumn("__rn", row_number().over(wScore))
        .where(col("__rn") === 1)
        .select(col(qidCol), col(idCol), col(relCol), lit(r.toLong).as("rank"))
        .localCheckpoint(true)
    }
    picks.reduce(_ unionByName _)
  }

  /** Persist a maintained corpus kNN graph: the [[knnGraph]] edge list
    * as a segment-tagged bucketed table (`table`, bucketed by `src` —
    * per-src reads and rewrites stay exchange-free) plus a sign-LSH
    * vector store (`table + "_vecs"`, bucketed by the LSH key `__bkt` —
    * the structure a NEW delivery probes to find its cross-corpus
    * candidate pairs without rescanning vectors), with the
    * [[graft.io.SegmentedIndex]] ledger/tombstone pair making
    * maintenance exactly-once. Build once over the current corpus (an
    * EMPTY corpus frame is a valid bootstrap for stream-from-scratch),
    * then feed deliveries through [[appendToKnnGraphIndex]] (or the
    * streaming wrapper [[graft.streaming.GraphStream]]).
    *
    * The graph parameters (k, bits, maxBucketSize) are FIXED at build
    * time by construction — maintenance must pass the same values
    * (changing them is a rebuild, like re-clustering an IVF index). */
  def buildKnnGraphIndex(corpus: DataFrame, idCol: String, vecCol: String,
                         table: String, buckets: Int, k: Int, bits: Int,
                         maxBucketSize: Int = 1000): Unit = {
    val SI = graft.io.SegmentedIndex
    val spark = corpus.sparkSession
    SI.resetGen(spark, table) // fresh build owns the plain names again
    val edges = knnGraph(corpus, idCol, vecCol, k, bits, maxBucketSize)
      .withColumn(SI.SegCol, lit(0L))
    // the four build writes are independent (edges, vector store, two
    // tombstone inits — distinct tables); overlap them so the cheap ones
    // back-fill the expensive edge build's task tail. The ledger stays
    // LAST: a fresh build is published by its ledger like every other
    // lifecycle step.
    graft.io.Overlap.awaitAll(Seq(
      () => graft.io.Bucketing.writeBucketed(edges, table, "src", buckets),
      () => graft.io.Bucketing.writeBucketed(
        corpus.select(col(idCol), col(vecCol),
            signBucket(col(vecCol), bits).as("__bkt"))
          .withColumn(SI.SegCol, lit(0L)),
        table + "_vecs", "__bkt", buckets),
      () => SI.initTombstones(spark, table,
        corpus.select(col(idCol).as("src"), lit(0L).as("below_seg"))),
      // the vector store gets its OWN tombstones: [[updateKnnGraphIndex]]
      // retires changed vectors without rewriting bucket files
      () => SI.initTombstones(spark, table + "_vecs",
        corpus.select(col(idCol), lit(0L).as("below_seg")))))
    SI.initLedger(spark, table, "src", corpus.count(), 0L)
  }

  /** Fold one NEW delivery into a persisted [[buildKnnGraphIndex]]
    * graph — the incremental twin of [[knnGraph]], at per-delivery cost
    * independent of corpus size:
    *
    *  - intra-delivery edges come from [[knnGraph]] over the batch alone
    *    (micro-batch-sized);
    *  - cross-corpus candidates come from probing the vector store: the
    *    batch's identity + Hamming-1 LSH keys broadcast-join the
    *    `__bkt`-bucketed store (index side: NO exchange — its bucket
    *    layout already matches), probed buckets over `maxBucketSize`
    *    are dropped (the same quadratic guard as the batch operator);
    *  - then ONLY affected nodes (batch ids + corpus ids that gained a
    *    candidate edge) have their top-k re-ranked: existing live edges
    *    of those nodes (≤ k each) union the new edges, and the rewrite
    *    is an append at this segment + a per-node tombstone — nodes the
    *    delivery never touched are not read, not written.
    *
    *  Top-k folding is exact (`top_k(A ∪ B) = top_k(top_k(A) ∪ B)`), so
    *  the maintained graph equals batch [[knnGraph]] over the union
    *  corpus whenever no bucket crosses `maxBucketSize`
    *  (spec-asserted); when the cap binds, the two sides cap at
    *  different times (index-side count at probe time vs global count)
    *  — the documented LSH-recall divergence. Ids must be NEW (unique
    *  across deliveries, the [[graft.streaming.EmbedDedupStream]]
    *  contract). Exactly-once under at-least-once delivery: ledger-gated
    *  on `batchId`, crash-resumable via segment probes, and the probe
    *  excludes the batch's own ids so a replay over a half-committed
    *  vector store recomputes identical edges. */
  def appendToKnnGraphIndex(spark: org.apache.spark.sql.SparkSession,
                            batch: DataFrame, idCol: String, vecCol: String,
                            table: String, buckets: Int, k: Int, bits: Int,
                            maxBucketSize: Int = 1000, batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    val vecsT = t + "_vecs"
    val tombT = SI.tombstoneTable(t)
    // The index tables may have been appended by ANOTHER session since
    // this one last listed them (a prior stream micro-batch ran in its
    // own foreachBatch clone); a stale relation cache here would make
    // the probe silently miss corpus rows. Refresh is metadata-only.
    Seq(t, vecsT, tombT, SI.tombstoneTable(vecsT), SI.ledgerTable(t))
      .foreach(spark.catalog.refreshTable)
    if (SI.hasBatch(spark, t, batchId)) return
    val seg = SI.nextSeg(spark, t)
    val b = batch.select(col(idCol), col(vecCol),
      signBucket(col(vecCol), bits).as("__bkt")).localCheckpoint(true)

    // 1. vector store gains the delivery's rows (probe excludes them
    // below, so writing first keeps retries deterministic).
    SI.appendSegment(spark, vecsT, b, "__bkt", buckets, seg)

    // 2. new edges = intra-delivery top-k ∪ cross-corpus candidates.
    val intra = knnGraph(b.drop("__bkt"), idCol, vecCol, k, bits, maxBucketSize)
      .select(col("src"), col("dst"), col("cos"))
    val probes = (0 until bits).map(j => col("__bkt").bitwiseXOR(1L << j))
    val batchProbes = b.select(col(idCol).as("__id_n"), col(vecCol).as("__vn"),
      explode(array(col("__bkt") +: probes: _*)).as("__bkt"))
    val batchIds = b.select(col(idCol).as("__id_c"))
    // Probed buckets FIRST (broadcast semi-join — the per-bucket counts
    // below are unchanged by dropping never-probed buckets, and the
    // cap's sort then runs over probed-bucket rows only, not the whole
    // store), then the quadratic guard at probe time — the same cap as
    // the batch operator. Neither step exchanges the store: both the
    // window and the join ride its `__bkt` bucket layout.
    val store = SI.dropDead(
        spark.table(vecsT)
          .join(broadcast(batchProbes.select("__bkt").distinct()), Seq("__bkt"), "left_semi"),
        SI.tombstoneMax(spark, vecsT, idCol), idCol)
      .select(col("__bkt"), col(idCol).as("__id_c"), col(vecCol).as("__vc"))
      .join(broadcast(batchIds), Seq("__id_c"), "left_anti")
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy("__bkt")))
      .where(col("__bn") <= maxBucketSize)
    val cross = store.join(broadcast(batchProbes), Seq("__bkt"))
      .select(col("__id_n"), col("__id_c"), cosine(col("__vn"), col("__vc")).as("cos"))
    val newEdges = intra
      .unionByName(cross.select(col("__id_n").as("src"), col("__id_c").as("dst"), col("cos")))
      .unionByName(cross.select(col("__id_c").as("src"), col("__id_n").as("dst"), col("cos")))
      .localCheckpoint(true) // candidate-sized; feeds rank, tombstones, ledger

    // 3. re-rank ONLY affected nodes: existing live top-k (≤ k rows per
    // node, read exchange-free off the src bucketing) ∪ new edges.
    val affected = newEdges.select("src").distinct().localCheckpoint(true)
    val existing = SI.dropDead(spark.table(t).where(col(SI.SegCol) < seg),
        SI.tombstoneMax(spark, t, "src"), "src")
      .join(broadcast(affected), Seq("src"), "left_semi")
      .select(col("src"), col("dst"), col("cos"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val merged = existing.unionByName(newEdges)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .localCheckpoint(true) // detach from the store before writing into it
    // New top-k append + the affected nodes' PRIOR-version tombstones
    // (this segment's own rows survive: dead iff __seg < below_seg):
    // disjoint tables, checkpointed inputs, both seg-gated on replay —
    // overlapped (§2.6); the ledger row still publishes LAST.
    graft.io.Overlap.awaitAll(Seq(
      () => SI.appendSegment(spark, t, merged, "src", buckets, seg),
      () => SI.tombstoneSegment(spark, t,
        affected.select(col("src"), lit(seg).as("below_seg")), seg)))
    SI.appendLedger(spark, t, seg, batchId, b.count(), newEdges.count(), "src")
  }

  /** CDC maintenance of a persisted kNN-graph index — the engine's
    * latest-wins upsert/delete semantics propagated to the GRAPH, the
    * fourth index family after BM25 / LSH / IVF: a changed vector's old
    * row retires from the vector store by tombstone, the upserted
    * vector re-enters like a delivery, and — the graph-specific part —
    * every node whose top-k REFERENCED a changed vector has a hole (or
    * a stale cosine) that cannot be patched from stored edges alone, so
    * those nodes REPAIR BY RE-PROBING: their (live) vectors probe the
    * bucketed store exactly like a delivery and their top-k recomputes
    * from the complete candidate set (probe recall ⊇ original edge
    * recall — buckets are a pure function of the unchanged vectors — so
    * the repair is exact, not a degradation). Nodes merely GAINING an
    * upserted neighbor re-rank old-∪-new like an append. After
    * maintenance the graph equals batch [[knnGraph]] over the merged
    * corpus (oracle-checked, `sim_graph_after_update`), caps aside.
    *
    * Cost is O(change batch + in-edges of changed nodes + probed
    * buckets) — deleting a hub that sits in many nodes' top-k repairs
    * all of them (their top-k genuinely changed; no design avoids that
    * work), but nodes the change never touched are not read, not
    * written. Exactly-once: ledger-gated on `batchId`, crash-resumable
    * (all reads are seg-gated so a retry recomputes identical rows).
    * `changes` is a merged change set (≤ 1 row per id), `opCol` = "D"
    * deletes; deleting an absent id is a no-op row. */
  def updateKnnGraphIndex(spark: org.apache.spark.sql.SparkSession,
                          changes: DataFrame, idCol: String, vecCol: String,
                          opCol: String, table: String, buckets: Int, k: Int,
                          bits: Int, maxBucketSize: Int = 1000,
                          batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    val vecsT = t + "_vecs"
    val tombT = SI.tombstoneTable(t)
    val vecTombT = SI.tombstoneTable(vecsT)
    Seq(t, vecsT, tombT, vecTombT, SI.ledgerTable(t))
      .foreach(spark.catalog.refreshTable)
    if (SI.hasBatch(spark, t, batchId)) return
    val seg = SI.nextSeg(spark, t)
    // ONE evaluation of the caller's change plan: `changes` is typically
    // a join/union tree (the CDC splice), and changedIds / upserts /
    // deletedIds would otherwise re-run it once EACH — deletedIds twice
    // (repair-set derivation and the final tombstone write). §2.4.
    val ch = changes.localCheckpoint(true)
    try {
      val changedIds = ch.select(col(idCol)).distinct().localCheckpoint(true)
      val upserts = ch.where(col(opCol) =!= "D")
        .select(col(idCol), col(vecCol), signBucket(col(vecCol), bits).as("__bkt"))
        .localCheckpoint(true)
      val upsertIds = upserts.select(col(idCol))
      val deletedIds = ch.where(col(opCol) === "D").select(col(idCol))

      // 1. Vector-store maintenance: retire every changed id's prior rows,
      // land the upserted vectors at this segment. (Their own tombstone
      // does not kill them: __seg is not below itself.) The two writes
      // touch disjoint tables from checkpointed inputs and every state
      // view below runs only after BOTH complete — overlapped (§2.6); a
      // crash between them leaves the same retry-converging torn state in
      // either order (both writes are seg-gated on replay).
      graft.io.Overlap.awaitAll(Seq(
        () => SI.tombstoneSegment(spark, vecsT,
          changedIds.select(col(idCol), lit(seg).as("below_seg")), seg),
        () => SI.appendSegment(spark, vecsT, upserts, "__bkt", buckets, seg)))

      // Replay-deterministic state views: vec tombstones THROUGH this
      // segment (just written), edge tombstones strictly BEFORE it (this
      // segment's edge tombstones may exist on a retry and must not hide
      // the pre-update edges the computation reads).
      val liveStore = SI.dropDead(spark.table(vecsT),
        SI.tombstoneMax(spark, vecsT, idCol), idCol)
      val priorEdgeTomb = broadcast(
        SI.tombstones(spark, t).where(col("below_seg") < seg)
          .groupBy("src").agg(max("below_seg").as("__below")))
      val oldLive = SI.dropDead(spark.table(t).where(col(SI.SegCol) < seg),
        priorEdgeTomb, "src")

      // 2. Repair set: upserted nodes (their own neighborhood changed) +
      // every node holding an edge to a changed id (hole / stale cosine).
      val repairSrcs = upsertIds
        .unionByName(oldLive
          .join(broadcast(changedIds.select(col(idCol).as("dst"))), Seq("dst"), "left_semi")
          .select(col("src").as(idCol)))
        .join(broadcast(deletedIds), Seq(idCol), "left_anti")
        .distinct().localCheckpoint(true)

      // 3. Probe the live store from the repair nodes' (live) vectors —
      // the delivery shape: identity + Hamming-1 keys, bucket cap at probe
      // time, self-pairs excluded (a node is its own best match).
      val probeVecs = liveStore
        .join(broadcast(repairSrcs), Seq(idCol), "left_semi")
        .select(col(idCol).as("__id_n"), col(vecCol).as("__vn"), col("__bkt"))
      val probes = (0 until bits).map(j => col("__bkt").bitwiseXOR(1L << j))
      val probeKeys = probeVecs
        .select(col("__id_n"), col("__vn"),
          explode(array(col("__bkt") +: probes: _*)).as("__bkt"))
        .localCheckpoint(true)
      val cand = SI.dropDead(
          spark.table(vecsT)
            .join(broadcast(probeKeys.select("__bkt").distinct()), Seq("__bkt"), "left_semi"),
          SI.tombstoneMax(spark, vecsT, idCol), idCol)
        .select(col("__bkt"), col(idCol).as("__id_c"), col(vecCol).as("__vc"))
        .withColumn("__bn", count(lit(1)).over(Window.partitionBy("__bkt")))
        .where(col("__bn") <= maxBucketSize)
        .join(broadcast(probeKeys), Seq("__bkt"))
        .where(col("__id_n") =!= col("__id_c"))
        .select(col("__id_n"), col("__id_c"), cosine(col("__vn"), col("__vc")).as("cos"))
        .localCheckpoint(true)

      // 4. New top-k: repair nodes rank their COMPLETE probed candidates;
      // nodes that merely gained an upserted neighbor rank old ∪ new.
      val repairEdges = cand
        .select(col("__id_n").as("src"), col("__id_c").as("dst"), col("cos"))
      val gainEdges = cand
        .join(broadcast(upsertIds.select(col(idCol).as("__id_n"))), Seq("__id_n"), "left_semi")
        .join(broadcast(repairSrcs.select(col(idCol).as("__id_c"))), Seq("__id_c"), "left_anti")
        .select(col("__id_c").as("src"), col("__id_n").as("dst"), col("cos"))
      val gainSrcs = gainEdges.select(col("src").as(idCol)).distinct().localCheckpoint(true)
      val gainOld = oldLive
        .join(broadcast(gainSrcs.select(col(idCol).as("src"))), Seq("src"), "left_semi")
        .select(col("src"), col("dst"), col("cos"))
      val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
      val merged = repairEdges.unionByName(gainEdges).unionByName(gainOld)
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .localCheckpoint(true)
      // 5. New top-k append + tombstones of every rewritten/deleted node's
      // prior versions: disjoint tables, checkpointed inputs, both
      // seg-gated on replay — overlapped like the step-1 pair (§2.6). The
      // ledger row still lands LAST (it is what publishes the batch).
      graft.io.Overlap.awaitAll(Seq(
        () => SI.appendSegment(spark, t, merged, "src", buckets, seg),
        () => SI.tombstoneSegment(spark, t,
          repairSrcs.unionByName(gainSrcs)
            .unionByName(deletedIds).distinct()
            .select(col(idCol).as("src"), lit(seg).as("below_seg")), seg)))
      SI.appendLedger(spark, t, seg, batchId,
        upserts.count(), merged.count(), "src")
    } finally ch.unpersist(blocking = false): Unit // deletedIds' last read was the tombstone write
  }

  /** The live maintained graph — [[knnGraph]]-shaped (src, dst, cos,
    * rank): latest top-k version per node (tombstones drop superseded
    * versions via a broadcast join that preserves the src bucketing). */
  def readKnnGraph(spark: org.apache.spark.sql.SparkSession,
                   table: String): DataFrame = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    // stream maintenance appends from per-batch cloned sessions; a
    // long-lived reader session must not serve its stale file listing
    Seq(t, SI.tombstoneTable(t)).foreach(spark.catalog.refreshTable)
    SI.dropDead(spark.table(t), SI.tombstoneMax(spark, t, "src"), "src")
      .select(col("src"), col("dst"), col("cos"), col("rank"))
  }

  /** Fold accumulated graph segments and tombstones into a fresh
    * segment-0 index (same churn-control contract and crash caveat as
    * [[Retrieval.compactBm25Index]]): live edge versions and the vector
    * store rewrite as the next GENERATION, tombstones and ledger reset,
    * committed by the single generation-pointer append
    * ([[graft.io.SegmentedIndex.compact]] — crash-atomic). Probe results
    * are unchanged (spec-asserted); what resets is the read path's
    * tombstone broadcast and the per-bucket appended-file count. */
  def compactKnnGraphIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, buckets: Int,
                           beforeCommit: () => Unit = () => (),
                           afterCommit: () => Unit = () => ()): Unit = {
    val SI = graft.io.SegmentedIndex
    val cur = SI.resolve(spark, table)
    // the vec store's id column: the tombstone schema is exactly
    // (idCol, below_seg), so the id is the one non-structural column
    val vIdCol = spark.table(SI.tombstoneTable(cur + "_vecs"))
      .columns.filterNot(_ == "below_seg").head
    SI.compact(spark, table, buckets,
      Seq(SI.CompactTable("", "src", "src", ownTombstones = true),
        SI.CompactTable("_vecs", "__bkt", vIdCol, ownTombstones = true)),
      live => (live("_vecs").count(), 0L),
      "src", beforeCommit, afterCommit)
  }

  /** Recall@k of an approximate kNN result against exact ground truth —
    * the evaluation operator that closes the ANN tuning loop (bits /
    * nprobe / codebook size trade recall for scan cost; this measures
    * what a setting actually buys). Both inputs carry (qidCol, idCol)
    * top-k rows ([[bruteForceKnn]] output as `truth`, any of
    * [[annKnn]]/[[ivfKnn]]/[[pqKnn]]/[[ivfPqKnn]] as `approx`); per query
    * the recall is |truth ∩ approx| / |truth|. Candidate-sized work
    * (≤ k rows per query per side) — corpus-independent, like
    * [[rrfFuse]]. The division is one IEEE op on exact integers, so the
    * value is engine-exact. Output: (qidCol, k, n_hits, recall). */
  def recallAtK(truth: DataFrame, approx: DataFrame, qidCol: String,
                idCol: String): DataFrame = {
    val hits = approx.select(col(qidCol), col(idCol)).withColumn("__hit", lit(1L))
    truth.select(col(qidCol), col(idCol))
      .join(hits, Seq(qidCol, idCol), "left")
      .groupBy(qidCol)
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col(qidCol), col("k"), col("n_hits"),
        (col("n_hits").cast("double") / col("k").cast("double")).as("recall"))
  }

  /** Mutual-kNN filter over a [[knnGraph]] edge list: keep an edge only
    * if its REVERSE also survived the per-node top-k — the standard
    * hub-suppression step before graph clustering (a hub that ranks in
    * everyone's top-k rarely ranks them back, so asymmetric edges are
    * mostly hub noise; mutual edges are the high-precision backbone).
    *
    * One self-semi-join on the (already top-k-pruned, ≤ N·k row) edge
    * list — candidate-sized work, corpus-independent. Output: the
    * surviving subset of `graph`, columns unchanged. */
  def mutualKnn(graph: DataFrame): DataFrame = {
    val rev = graph.select(col("dst").as("src"), col("src").as("dst"))
    graph.join(rev, Seq("src", "dst"), "left_semi")
  }

  /** TRIANGLE enumeration over an undirected edge list — the local
    * clustering signal (tight cliques = near-duplicate neighborhoods;
    * triangle-free nodes = bridge/outlier points). Canonical-order
    * listing: edges collapse to src < dst once, wedges extend a < b < c
    * through the shared middle node, and a semi-join against the edge
    * list closes them — each triangle appears EXACTLY once.
    *
    * Scale: both joins are keyed on node ids; wedge count is Σ deg²,
    * and on a top-k graph (mutual backbone) deg ≤ k, so the work is
    * O(N·k²) — never corpus-quadratic. The standard vertex-centric
    * triangle join (Suri & Vassilvitskii, WWW'11) without the degree
    * orientation, which the k-bounded input makes unnecessary.
    * Output: (id_a, id_b, id_c), id_a < id_b < id_c. */
  def triangles(graph: DataFrame): DataFrame = {
    val e = graph.where(col("src") < col("dst")).select("src", "dst").distinct()
    e.select(col("src").as("id_a"), col("dst").as("id_b"))
      .join(e.select(col("src").as("id_b"), col("dst").as("id_c")), "id_b")
      .join(e.select(col("src").as("id_a"), col("dst").as("id_c")),
        Seq("id_a", "id_c"), "left_semi")
      .select("id_a", "id_b", "id_c")
  }

  /** Per-node LOCAL clustering coefficient over an undirected graph:
    * 2·tri(v) / (deg(v)·(deg(v)−1)) — how close each node's
    * neighborhood is to a clique. High-coef nodes sit inside redundant
    * near-dup communities; coef ≈ 0 at high degree flags hub/bridge
    * points (the rows graph dedup must NOT collapse). Work is
    * edge-list-sized: degree is one agg over the ≤ N·k canonical edges,
    * per-node triangle counts re-shape [[triangles]]'s wedge semi-join
    * output (Σ deg² bounded by the kNN cap k per node), and the
    * coefficient is ONE exact-integer-fed division per node. Output:
    * (node, degree, n_tri, coef). */
  def clusteringCoef(graph: DataFrame): DataFrame = {
    val e = graph.where(col("src") < col("dst")).select("src", "dst").distinct()
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tris = triangles(graph)
    val triPerNode = tris.select(col("id_a").as("node"))
      .unionAll(tris.select(col("id_b").as("node")))
      .unionAll(tris.select(col("id_c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coef", when(col("degree") < 2, 0.0).otherwise(
        lit(2.0) * col("n_tri").cast("double") /
          (col("degree") * (col("degree") - 1)).cast("double")))
  }

  /** Per-node kNN density over a [[knnGraph]] edge list: the mean cosine
    * of each node's surviving top-k edges — the local-redundancy signal
    * behind density-based pruning (D4, Tirumala et al. 2023,
    * arXiv:2308.12284: points whose neighborhoods are tightest sit in the
    * most over-represented regions, so dropping the densest fraction
    * diversifies the corpus). `prune` flags nodes with density ≥
    * `threshold`; isolated nodes (no candidate edges) never appear — by
    * construction they are the UNIQUE points density pruning must keep,
    * so callers drop exactly the flagged ids.
    *
    * One agg over the already top-k-pruned (≤ N·k row) edge list —
    * candidate-sized work; the per-node fold is over ≤ k edges in rank
    * order (bounded, deterministic), and the division is one IEEE op.
    * Output: (src, n_edges, density, prune). */
  def knnDensity(graph: DataFrame, threshold: Double): DataFrame =
    graph.groupBy("src")
      .agg(
        count(lit(1)).as("n_edges"),
        aggregate(
          array_sort(collect_list(struct(col("rank"), col("cos").as("v")))),
          lit(0.0), (acc, s) => acc + s.getField("v")).as("__sum"))
      .select(col("src"), col("n_edges"),
        (col("__sum") / col("n_edges").cast("double")).as("density"))
      .withColumn("prune", col("density") >= threshold)

  /** Bounded-round label propagation over an UNDIRECTED edge list (e.g.
    * the [[mutualKnn]] backbone): spread a small seed labeling (quality
    * tier, topic, license class) to unlabeled neighbors by neighbor-label
    * majority — the standard semi-supervised annotation amplifier for
    * training corpora, where a few curated labels annotate the rest of an
    * embedding neighborhood.
    *
    * Deterministic contract: labeled nodes are CLAMPED (a seed, or a node
    * labeled in an earlier round, never relabels — monotone frontier
    * growth), each round labels every currently-unlabeled node that has
    * ≥ 1 labeled neighbor with the majority label over its labeled
    * neighbors, ties → smallest label. Plain counts (not cosine-weighted)
    * keep the vote exact integer arithmetic — no float fold to order.
    *
    * Scale: per round one hash join of the edge list against the label
    * frontier, one (node, label) partial-agg, and a WindowGroupLimit-
    * shaped argmax; `rounds` is small (diameter-bounded), and the label
    * table is `localCheckpoint`ed per round to truncate the iterative
    * lineage (the same guard [[graft.ops.Dedup.resolveClusters]] uses).
    * Edges should be the (already candidate-sized) graph output, not raw
    * data. Output: (idCol, labelCol, round) — round 0 = seed, r ≥ 1 =
    * labeled in round r; unreached nodes are absent. */
  def labelPropagate(edges: DataFrame, seeds: DataFrame, idCol: String,
                     labelCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var labels = seeds.select(col(idCol), col(labelCol), lit(0L).as("round"))
      .localCheckpoint(true)
    var r = 1
    while (r <= rounds) {
      val nbr = e
        .join(labels.select(col(idCol).as("dst"), col(labelCol)), "dst")
        .join(labels.select(col(idCol).as("src")), Seq("src"), "left_anti")
        .groupBy(col("src"), col(labelCol)).agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy("src").orderBy(col("__c").desc, col(labelCol))
      val newly = nbr.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("src").as(idCol), col(labelCol), lit(r.toLong).as("round"))
      labels = labels.unionByName(newly).localCheckpoint(true)
      r += 1
    }
    labels
  }

  /** Bounded-round PageRank over an UNDIRECTED candidate edge list
    * (e.g. the [[mutualKnn]] backbone, where every surviving edge
    * appears in both orientations): the centrality signal behind
    * importance-weighted corpus curation — a document central to a
    * dense semantic neighborhood is the representative worth keeping /
    * upsampling; leaves are the periphery to prune first (the inverse
    * of [[knnDensity]]'s redundancy signal, and a cheap seed-picker for
    * [[labelPropagate]]).
    *
    * Semantics: nodes are the edge list's src set; r₀ = 1/N; each round
    * r' (u) = (1−d)/N + d·Σ_{v→u} r(v)/deg(v). Fixed `rounds` (no
    * convergence test — deterministic plan depth), dangling mass is not
    * redistributed (every node of a mutual edge list has deg ≥ 1 by
    * construction). Engine-exact by the repo convention: 1/N and
    * r/deg are single IEEE divisions on exact integers, the neighbor
    * sum folds in contributor (src) order, and (1−d) is mirrored as the
    * same double SUBTRACTION, not a pre-rounded literal.
    *
    * Scale: per round one hash join of the (already candidate-sized,
    * ≤ N·k row) edge list against the rank table, one partial-agg fold
    * bounded by ≤ k contributions per node, and a broadcast-free
    * node-table join; rank tables are `localCheckpoint`ed per round to
    * truncate the iterative lineage (the [[labelPropagate]] guard).
    * Output: (node, pr). */
  /** WEIGHTED PageRank twin of [[pageRank]]: each edge carries a weight
    * (cosine similarity on the kNN backbone) and a node's rank flows to
    * its neighbors ∝ weight / Σ outgoing weights, so centrality follows
    * SIMILARITY mass, not edge count — tight semantic neighborhoods
    * concentrate rank, weak stragglers leak little. Same deterministic
    * contract as the unweighted fold: per-src weight totals and per-node
    * contribution sums are rank-ORDERED list folds (never a float
    * `sum()`), per-round `localCheckpoint` truncates lineage, and every
    * IEEE expression is mirrored token-for-token in the SQL oracle.
    * Output: (node, pr). */
  def pageRankWeighted(edges: DataFrame, rounds: Int, damping: Double = 0.85,
                       weightCol: String = "cos"): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val e = edges.select(col("src"), col("dst"),
      col(weightCol).cast("double").as("__w")).localCheckpoint(true)
    val wsum = e.groupBy("src")
      .agg(aggregate(
        array_sort(collect_list(struct(col("dst"), col("__w").as("v")))),
        lit(0.0), (acc, s) => acc + s.getField("v")).as("__sumw"))
      .localCheckpoint(true)
    val n = wsum.count()
    require(n > 0, "pageRankWeighted over an empty edge list")
    val invN = lit(1.0) / lit(n.toDouble)
    var r = wsum.select(col("src").as("node"), invN.as("pr")).localCheckpoint(true)
    var t = 0
    while (t < rounds) {
      val contrib = e
        .join(r.select(col("node").as("src"), col("pr")), "src")
        .join(wsum, "src")
        .select(col("dst").as("node"), col("src"),
          (col("pr") * col("__w") / col("__sumw")).as("c"))
      val sums = contrib.groupBy("node")
        .agg(aggregate(
          array_sort(collect_list(struct(col("src"), col("c").as("v")))),
          lit(0.0), (acc, s) => acc + s.getField("v")).as("__s"))
      r = wsum.select(col("src").as("node"))
        .join(sums, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) * invN +
            lit(damping) * coalesce(col("__s"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
      t += 1
    }
    r
  }

  def pageRank(edges: DataFrame, rounds: Int,
               damping: Double = 0.85): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg")).localCheckpoint(true)
    val n = deg.count()
    require(n > 0, "pageRank over an empty edge list")
    val invN = lit(1.0) / lit(n.toDouble)
    var r = deg.select(col("src").as("node"), invN.as("pr")).localCheckpoint(true)
    var t = 0
    while (t < rounds) {
      val contrib = e
        .join(r.select(col("node").as("src"), col("pr")), "src")
        .join(deg, "src")
        .select(col("dst").as("node"), col("src"),
          (col("pr") / col("__deg").cast("double")).as("c"))
      val sums = contrib.groupBy("node")
        .agg(aggregate(
          array_sort(collect_list(struct(col("src"), col("c").as("v")))),
          lit(0.0), (acc, s) => acc + s.getField("v")).as("__s"))
      r = deg.select(col("src").as("node"))
        .join(sums, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) * invN +
            lit(damping) * coalesce(col("__s"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
      t += 1
    }
    r
  }

  /** Personalized PageRank (bounded rounds): restart mass goes to the
    * SEED set instead of the uniform vector — "what is relevant AROUND
    * these nodes", the seed-anchored neighborhood ranking behind
    * related-document exports and trusted/poisoned influence audits
    * (the scored generalization of [[bfsHops]]' hop distances).
    *
    * r_{t+1}(v) = (1−d)·r0(v) + d·Σ_{u→v} r_t(u)/outdeg(u), with r0
    * uniform over seeds∩nodes and zero elsewhere. Same engine-exact
    * arithmetic discipline as [[pageRank]]: single divisions, the
    * neighbor sum folded in contributor order (the OrderedFoldRule
    * idiom), the teleport term left as computed doubles; d = 0.5 is
    * dyadic so every product is exact-halving. Per round: one edge-
    * sized join + one partial-agg fold — never a matrix, never a
    * collect. Nodes are the out-edge sources (the [[pageRank]]
    * convention); seeds outside the graph carry no mass. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, rounds: Int,
                           damping: Double = 0.5): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg")).localCheckpoint(true)
    val sd = seeds.select(col("node")).distinct()
      .join(deg.select(col("src").as("node")), "node").localCheckpoint(true)
    val ns = sd.count()
    require(ns > 0, "personalizedPageRank: no seed is a graph node")
    val restart = deg.select(col("src").as("node"))
      .join(sd.withColumn("__isSeed", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("__isSeed"), lit(1.0) / lit(ns.toDouble))
          .otherwise(lit(0.0)).as("__r0"))
      .localCheckpoint(true)
    var r = restart.select(col("node"), col("__r0").as("pr")).localCheckpoint(true)
    var t = 0
    while (t < rounds) {
      val contrib = e
        .join(r.select(col("node").as("src"), col("pr")), "src")
        .join(deg, "src")
        .select(col("dst").as("node"), col("src"),
          (col("pr") / col("__deg").cast("double")).as("c"))
      val sums = contrib.groupBy("node")
        .agg(aggregate(
          array_sort(collect_list(struct(col("src"), col("c").as("v")))),
          lit(0.0), (acc, s) => acc + s.getField("v")).as("__s"))
      r = restart
        .join(sums, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) * col("__r0") +
            lit(damping) * coalesce(col("__s"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
      t += 1
    }
    r
  }

  /** Bounded-round MULTI-SOURCE BFS over an undirected candidate edge
    * list: every reached node's hop distance from the NEAREST seed,
    * plus the winning seed (minimum seed id among seeds at exactly that
    * distance — the deterministic tie-break). The curation walk behind
    * "how far is this document from a trusted / poisoned seed set" and
    * seed-anchored neighborhood exports.
    *
    * Classic frontier expansion: round r joins the CURRENT frontier
    * (nodes first reached at hop r−1) against the edge list, anti-joins
    * the already-reached set, and min-folds the contributing roots.
    * Root invariant: a node's root is min{seed s : dist(s, node) =
    * hops(node)} — any seed at distance r reaches through a neighbor
    * first reached at exactly r−1 (else the node would have been
    * reached sooner) carrying a root ≤ s, and conversely a frontier
    * neighbor's root is itself at r−1 from the neighbor, hence at
    * exactly r from the node by first-reach minimality.
    *
    * Work per round: one hash join of the (already candidate-sized,
    * ≤ N·k row) edge list against the frontier + one anti-join against
    * the reached set — never node²; `localCheckpoint` truncates the
    * iterative lineage per round (the [[pageRank]] guard), and an empty
    * frontier exits early (a fixed point: running the remaining rounds
    * would add nothing, so early exit equals the oracle's full unroll).
    * `rounds` is a fixed diameter bound, never a data function.
    *
    * Output: (node, root, hops) for nodes within `rounds` hops; seeds
    * at hop 0; unreached nodes absent. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, idCol: String,
              rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val e = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    var reached = seeds
      .select(col(idCol).as("node"), col(idCol).as("root"), lit(0L).as("hops"))
      .distinct() // duplicate seed ids must not inflate the reached set
      .localCheckpoint(true)
    var frontier = reached
    var r = 1
    while (r <= rounds && frontier.count() > 0) {
      frontier = e
        .join(frontier.select(col("node").as("src"), col("root")), "src")
        .select(col("dst").as("node"), col("root"))
        .join(reached.select("node"), Seq("node"), "left_anti")
        .groupBy("node").agg(min("root").as("root"))
        .withColumn("hops", lit(r.toLong))
        .localCheckpoint(true)
      reached = reached.unionByName(frontier).localCheckpoint(true)
      r += 1
    }
    reached
  }

  /** Bounded-round K-CORE decomposition over an undirected edge list
    * (both orientations present, as [[mutualKnn]] emits): each round
    * drops nodes of degree < k, removes their incident edges, and
    * re-derives degrees — the classic peel. The loop exits early at a
    * fixed point (dropping nothing is idempotent, so early exit equals
    * running the remaining rounds — the oracle mirrors the full unroll).
    * The k-core marks the structurally cohesive cluster interior that
    * survives hub removal; triangle-free bridge nodes peel away first.
    *
    * Scale: each round is one aggregation + two semi-joins, all keyed
    * on node ids over an edge list already bounded by N·k (top-k
    * graph); `localCheckpoint` truncates lineage per round (the
    * [[pageRank]] pattern). Rounds is a fixed parameter, never a data
    * function. Output: (node, degree) of the surviving subgraph. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    var e = edges.select("src", "dst").distinct().localCheckpoint(true)
    var before = e.count()
    var t = 0
    var converged = false
    while (t < rounds && !converged) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("__deg"))
        .where(col("__deg") >= k).select("src")
      val e2 = e.join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst").localCheckpoint(true)
      val after = e2.count()
      converged = after == before
      e = e2; before = after; t += 1
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** One synchronized WEIGHTED Louvain local-move round (Blondel et al.
    * 2008) — the generalization of the `sim_louvain_move` inner step to
    * weighted multigraphs with self-loops, which is exactly what
    * [[louvainCoarsen]] produces, so the same round runs at every
    * level. `edges`: canonical `(a ≤ b, w)` with LONG weights (self-
    * loop `a = b` allowed — it contributes 2w to its node's degree but
    * never to candidate links, since it stays internal wherever the
    * node goes); `seed`: `(n, comm)` starting labels (absent nodes
    * start singleton). Every node simultaneously picks the neighbor
    * community maximizing the modularity gain; for fixed i the ΔQ
    * comparison across candidates reduces to the EXACT LONG statistic
    * `gain_num = 2m·w(i,C) − k_i·Σdeg(C∖{i})` — no floats anywhere, so
    * the (gain desc, community asc) argmax is engine-portable.
    *
    * Scale: all joins are edge-sized (candidates per node ≤ degree);
    * community stats are one (comm) partial agg — the synchronized-
    * round shape that scales where sequential Louvain cannot. The
    * parallel-move caveat is the standard one: simultaneous moves of
    * adjacent nodes can in principle oscillate; LouvainSpec pins
    * modularity monotone across levels on the fixture. */
  def louvainMoveRound(edges: DataFrame, seed: DataFrame): DataFrame =
    louvainMoveRoundWith(edges, seed, None)

  /** [[louvainMoveRound]] with PER-COMPONENT normalization: the gain
    * statistic's total weight is each node's connected COMPONENT's
    * edge weight (`compOf`: `(n, comp)` labels covering every node)
    * instead of the global m. Within a component the two formulations
    * can rank candidates differently (the links term scales with m),
    * and the local one has the property incremental maintenance needs:
    * a component whose edge set did not change keeps its labels no
    * matter what happened elsewhere in the graph — global-m Louvain
    * lacks this (a far-away insert shifts every comparison), which is
    * why [[graft.ops.Dedup]]'s community index refresh composes with
    * THIS variant. Communities never span components (seeds live
    * inside them, moves go to neighbor communities only). */
  def louvainMoveRoundLocal(edges: DataFrame, seed: DataFrame,
                            compOf: DataFrame): DataFrame =
    louvainMoveRoundWith(edges, seed, Some(compOf))

  /** Per-LEVEL constants of the move round — doubled edges, degrees and
    * the m side — computed once per level ([[louvainMoveRoundsWith]])
    * and reused across its rounds instead of re-derived per round. `ed`
    * and `deg` come back eagerly checkpointed (edge-/node-sized). */
  private case class LevelParts(ed: DataFrame, deg: DataFrame,
                                attachM: DataFrame => DataFrame)

  private def levelParts(edges: DataFrame,
                         compOf: Option[DataFrame]): LevelParts = {
    val nl = edges.where(col("a") =!= col("b"))
    val ed = nl.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(nl.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .localCheckpoint(true)
    val selfw = edges.where(col("a") === col("b"))
      .groupBy(col("a").as("n")).agg((sum(col("w")) * 2L).as("sw"))
    val dirDeg = ed.groupBy(col("src").as("n")).agg(sum(col("w")).as("dd"))
    val deg = dirDeg.join(selfw, Seq("n"), "full_outer")
      .select(col("n"),
        (coalesce(col("dd"), lit(0L)) + coalesce(col("sw"), lit(0L))).as("deg"))
      .localCheckpoint(true)
    val attach: DataFrame => DataFrame = compOf match {
      case None =>
        val m = edges.agg(sum(col("w")).as("__m"))
        scored => scored.crossJoin(broadcast(m))
      case Some(c) =>
        // per-component edge weight, keyed back through the node's comp
        val mPer = edges
          .join(c.select(col("n").as("a"), col("comp")), "a")
          .groupBy("comp").agg(sum(col("w")).as("__m"))
        scored => scored
          .join(c.select(col("n").as("src"), col("comp")), "src")
          .join(mPer, "comp")
    }
    LevelParts(ed, deg, attach)
  }

  private def louvainMoveRoundWith(edges: DataFrame, seed: DataFrame,
                                   compOf: Option[DataFrame]): DataFrame =
    louvainMoveRoundOn(levelParts(edges, compOf), seed)

  private def louvainMoveRoundOn(parts: LevelParts, seed: DataFrame): DataFrame = {
    val LevelParts(ed, deg, attachM) = parts
    val lab = deg.select("n").join(seed, Seq("n"), "left")
      .select(col("n"), coalesce(col("comm"), col("n")).as("comm"))
    val sumdeg = lab.join(deg, "n").groupBy("comm").agg(sum("deg").as("c_deg"))
    val nbr = ed
      .join(lab.select(col("n").as("dst"), col("comm").as("cand")), "dst")
      .groupBy("src", "cand").agg(sum("w").as("links"))
    // the stay-put candidate must exist even with no same-community
    // neighbor (links = 0): union a zero row per node, re-aggregate
    val cands = nbr.select(col("src"), col("cand"), col("links"))
      .unionByName(lab.select(col("n").as("src"), col("comm").as("cand"),
        lit(0L).as("links")))
      .groupBy("src", "cand").agg(sum("links").as("links"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("gain_num").desc, col("cand"))
    val scoredBase = cands
      .join(lab.select(col("n").as("src"), col("comm").as("own")), "src")
      .join(deg.select(col("n").as("src"), col("deg").as("k_i")), "src")
      .join(sumdeg.select(col("comm").as("cand"), col("c_deg")), "cand")
    attachM(scoredBase)
      .withColumn("c_excl", col("c_deg") -
        when(col("cand") === col("own"), col("k_i")).otherwise(lit(0L)))
      .withColumn("gain_num",
        lit(2L) * col("__m") * col("links") - col("k_i") * col("c_excl"))
      .withColumn("rn", row_number().over(win)).where(col("rn") === 1)
      .select(col("src").as("n"), col("cand").as("comm"))
  }

  /** Louvain COARSENING: collapse each community to a supernode,
    * summing parallel edge weights; intra-community edges become
    * self-loops (so supernode degree = Σ member degrees, exactly —
    * total weight m is conserved, which is why [[louvainMoveRound]]'s
    * gain statistic stays comparable across levels). Edge-sized joins +
    * one (a,b) partial agg. */
  def louvainCoarsen(edges: DataFrame, lab: DataFrame): DataFrame =
    edges
      .join(lab.select(col("n").as("a"), col("comm").as("ca")), "a")
      .join(lab.select(col("n").as("b"), col("comm").as("cb")), "b")
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum("w").as("w"))

  /** MULTI-LEVEL Louvain engine (the full Blondel pipeline): local
    * moves iterated to a bounded fixed point ([[louvainMoveRounds]],
    * `roundsPerLevel` — classic Louvain's move-until-no-gain inner
    * loop), coarsen communities into supernodes, move again on the
    * weighted supernode graph (each supernode restarting singleton —
    * the standard per-level reset), repeat `levels` times. Returns
    * one `(vec_id, comm)` frame PER LEVEL, every level already
    * composed back to the ORIGINAL node grain (so callers can read any
    * prefix of the hierarchy — topic trees want the coarse levels,
    * near-dup curation the fine ones). Levels is a fixed parameter,
    * never a data function; each level adds one edge-sized round on a
    * graph that shrinks with the community count. */
  def louvainLabels(edges0: DataFrame, seed: DataFrame, levels: Int,
                    roundsPerLevel: Int = 2): Seq[DataFrame] = {
    require(levels >= 1, s"levels must be >= 1: $levels")
    require(roundsPerLevel >= 1, s"roundsPerLevel must be >= 1: $roundsPerLevel")
    var e = edges0.select(col("a"), col("b"), lit(1L).as("w"))
    var seeds = seed
    var mapping: DataFrame = null
    val out = Seq.newBuilder[DataFrame]
    for (l <- 1 to levels) {
      val lab = louvainMoveRounds(e, seeds, roundsPerLevel)
      mapping =
        if (l == 1) lab.select(col("n").as("vec_id"), col("comm"))
        else mapping.select(col("vec_id"), col("comm").as("n"))
          .join(lab, "n").select(col("vec_id"), col("comm"))
          .localCheckpoint(true)
      out += mapping
      if (l < levels) {
        e = louvainCoarsen(e, lab).localCheckpoint(true)
        seeds = lab.select(col("n"), col("comm")).limit(0) // singleton restart
      }
    }
    out.result()
  }

  /** [[louvainMoveRound]] iterated to a FIXED POINT within one level,
    * bounded by `rounds` — classic Louvain repeats local moves until no
    * positive-gain move remains before coarsening; one synchronized
    * round alone leaves chains of profitable moves on the table. Early
    * exit when a round changes no label is EQUIVALENT to running the
    * remaining rounds (a fixed point reproduces itself — the same
    * contract as [[kCore]]/[[kTruss]], so an oracle can unroll the full
    * bound). The bound also caps the standard synchronized-move
    * oscillation (adjacent nodes swapping forever). Each round is
    * edge-sized; the fixed-point check is one (n)-keyed anti-filter. */
  def louvainMoveRounds(edges: DataFrame, seed: DataFrame, rounds: Int): DataFrame =
    louvainMoveRoundsWith(edges, seed, rounds, None)

  private def louvainMoveRoundsWith(edges: DataFrame, seed: DataFrame, rounds: Int,
                                    compOf: Option[DataFrame]): DataFrame = {
    // per-level constants once; each round recomputes only the
    // label-dependent pieces
    val parts = levelParts(edges, compOf)
    var lab = louvainMoveRoundOn(parts, seed).localCheckpoint(true)
    var r = 1
    var fixed = false
    while (r < rounds && !fixed) {
      val next = louvainMoveRoundOn(parts, lab).localCheckpoint(true)
      r += 1
      // the check exists only to SKIP later rounds — when this was the
      // last budgeted round it would be a pure extra action, so don't pay
      // it (at the default 2 rounds/level no check ever runs)
      if (r < rounds)
        fixed = next
          .join(lab.select(col("n"), col("comm").as("__prev")), "n")
          .where(col("comm") =!= col("__prev")).isEmpty
      lab = next
    }
    lab
  }

  /** [[louvainLabels]] under PER-COMPONENT normalization
    * ([[louvainMoveRoundLocal]]): the hierarchy whose untouched
    * components are refresh-invariant — the batch ground truth
    * [[graft.ops.Dedup.refreshCommunityIndex]] must reproduce.
    * `compOf` labels survive coarsening unchanged: supernode ids are
    * community labels, which are node ids of the same component. */
  def louvainLabelsLocal(edges0: DataFrame, seed: DataFrame, compOf: DataFrame,
                         levels: Int, roundsPerLevel: Int = 2): Seq[DataFrame] = {
    require(levels >= 1, s"levels must be >= 1: $levels")
    require(roundsPerLevel >= 1, s"roundsPerLevel must be >= 1: $roundsPerLevel")
    var e = edges0.select(col("a"), col("b"), lit(1L).as("w"))
    var seeds = seed
    var mapping: DataFrame = null
    val out = Seq.newBuilder[DataFrame]
    for (l <- 1 to levels) {
      val lab = louvainMoveRoundsWith(e, seeds, roundsPerLevel, Some(compOf))
      mapping =
        if (l == 1) lab.select(col("n").as("vec_id"), col("comm"))
        else mapping.select(col("vec_id"), col("comm").as("n"))
          .join(lab, "n").select(col("vec_id"), col("comm"))
          .localCheckpoint(true)
      out += mapping
      if (l < levels) {
        e = louvainCoarsen(e, lab).localCheckpoint(true)
        seeds = lab.select(col("n"), col("comm")).limit(0) // singleton restart
      }
    }
    out.result()
  }

  /** Driver-side mirror of [[louvainLabelsLocal]] for SMALL graphs —
    * the [[graft.ops.Dedup]] localUnionFind idea applied to the whole
    * hierarchy engine: identical move rule (gain_num = 2·m·links −
    * k_i·c_excl on exact longs), identical tie-break (max gain, then
    * min community id), per-component m, bounded fixed-point rounds
    * (early exit ≡ remaining rounds — a fixed point reproduces itself,
    * the same pinned contract as the distributed engine), coarsening
    * with weight conservation and singleton restart. Labels are
    * BYTE-IDENTICAL to the distributed engine (LouvainDriverSpec pins
    * set equality), so [[graft.ops.Dedup.communitiesLocal]] can route a
    * delivery-sized refresh graph here — collapsing the ~100 tiny
    * Spark jobs of the distributed level engine into zero. Callers
    * gate on edge count; this holds the graph in driver memory. */
  private[graft] def louvainHierarchyDriver(
      eg: Array[(Long, Long)], seed0: Map[Long, Long],
      compOf: Map[Long, Long], levels: Int = 2,
      roundsPerLevel: Int = 2): Seq[Map[Long, Long]] = {
    var e: Map[(Long, Long), Long] = eg.iterator.map { case (a, b) =>
      (math.min(a, b), math.max(a, b)) -> 1L }.toMap
    var seeds = seed0
    var mapping: Map[Long, Long] = null
    val out = Seq.newBuilder[Map[Long, Long]]
    for (l <- 1 to levels) {
      val lab = louvainMoveRoundsDriver(e, seeds, compOf, roundsPerLevel)
      mapping =
        if (l == 1) lab
        else mapping.map { case (v, c) => v -> lab(c) }
      out += mapping
      if (l < levels) {
        e = e.toSeq.map { case ((a, b), w) =>
          val (ca, cb) = (lab(a), lab(b))
          (math.min(ca, cb), math.max(ca, cb)) -> w
        }.groupMapReduce(_._1)(_._2)(_ + _)
        seeds = Map.empty // singleton restart
      }
    }
    out.result()
  }

  private def louvainMoveRoundsDriver(e: Map[(Long, Long), Long],
                                      seeds: Map[Long, Long],
                                      compOf: Map[Long, Long],
                                      rounds: Int): Map[Long, Long] = {
    val dir = e.toSeq.collect { case ((a, b), w) if a != b =>
      Seq((a, b, w), (b, a, w)) }.flatten
    val selfw: Map[Long, Long] =
      e.collect { case ((a, b), w) if a == b => a -> 2L * w }
    val dirDeg = dir.groupMapReduce(_._1)(_._3)(_ + _)
    val nodes = dirDeg.keySet ++ selfw.keySet
    val deg: Map[Long, Long] = nodes.iterator.map(n =>
      n -> (dirDeg.getOrElse(n, 0L) + selfw.getOrElse(n, 0L))).toMap
    val mPer = e.toSeq.groupMapReduce(x => compOf(x._1._1))(_._2)(_ + _)
    val bySrc = dir.groupBy(_._1).view
      .mapValues(_.map(x => (x._2, x._3))).toMap
    var lab: Map[Long, Long] = nodes.iterator.map(n =>
      n -> seeds.getOrElse(n, n)).toMap
    var prev: Map[Long, Long] = null
    var r = 0
    while (r < rounds && lab != prev) {
      prev = lab
      val sumdeg = lab.toSeq.groupMapReduce(_._2)(x => deg(x._1))(_ + _)
      val cur = lab
      lab = nodes.iterator.map { src =>
        val own = cur(src)
        val links = scala.collection.mutable.HashMap[Long, Long](own -> 0L)
        bySrc.getOrElse(src, Nil).foreach { case (dst, w) =>
          val c = cur(dst); links.update(c, links.getOrElse(c, 0L) + w) }
        val m = mPer(compOf(src))
        val ki = deg(src)
        var bestC = Long.MaxValue
        var bestG = Long.MinValue
        links.foreach { case (cand, l) =>
          val cExcl = sumdeg(cand) - (if (cand == own) ki else 0L)
          val g = 2L * m * l - ki * cExcl
          if (g > bestG || (g == bestG && cand < bestC)) { bestG = g; bestC = cand }
        }
        src -> bestC
      }.toMap
      r += 1
    }
    lab
  }

  /** Two-level Louvain as one frame — the `sim_louvain_levels` query
    * surface: `(vec_id, comm1, comm2)`, comm2 composed back through
    * comm1. Two levels is where the method earns its name over one
    * round: merged seed communities can themselves merge. `edges0`:
    * canonical unweighted `(a ≤ b)` pairs; `seed`: level-1 starting
    * labels. LouvainSpec asserts modularity non-decreasing across
    * seed → comm1 → comm2 (and through a third level via
    * [[louvainLabels]]); the 10× probe rides the edge-sized bound of
    * the inner round. */
  def louvainLevels(edges0: DataFrame, seed: DataFrame,
                    localThreshold: Long = 200000L): DataFrame = {
    // Driver gate — the [[graft.ops.Dedup.communitiesLocal]] pattern
    // applied to the GLOBAL-m entry: with a CONSTANT compOf the driver
    // mirror's per-component m IS the global m, so
    // [[louvainHierarchyDriver]] reproduces [[louvainLabels]] labels
    // byte-identically (LouvainDriverSpec pins both normalizations).
    // Small graphs solve in ~2 jobs instead of the ~40 tiny ones the
    // two-level distributed engine schedules; over-threshold or
    // non-integral-id graphs keep the distributed path (the limit-probe
    // collect aborts early, so a corpus-scale graph pays one bounded
    // scan, never a full materialization). Ids go back out as the exact
    // input type (labels are min member ids — lossless).
    val idType = edges0.schema("a").dataType
    val integralIds = {
      import org.apache.spark.sql.types._
      Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(idType) && idType == edges0.schema("b").dataType
    }
    if (integralIds) {
      val spark = edges0.sparkSession
      import spark.implicits._
      val probe = edges0.select(col("a").cast("long"), col("b").cast("long"))
        .limit(localThreshold.toInt + 1).as[(Long, Long)].collect()
      // the gate takes the probe ONLY for in-contract edge sets
      // (canonical a ≤ b, no duplicate pairs — verified on the already-
      // collected array, no extra job): an out-of-contract input falls
      // through to the distributed engine, whose duplicate-weighting
      // semantics then apply uniformly instead of silently diverging
      // between the two paths.
      lazy val canonical = probe.forall(r => r._1 <= r._2) &&
        probe.distinct.length == probe.length
      if (probe.length <= localThreshold && canonical) {
        // seed collect BOUNDED: one limit-probed collect (the same shape
        // as the edge probe — no extra broadcast job) serves any seed up
        // to 2·threshold rows; only a genuinely huge seed (legal for the
        // public API, would OOM the driver) pays a semi-join against the
        // probed edge nodes, which is sufficient because seed-only nodes
        // never reach the output on either path.
        val seedCap = 2 * localThreshold.toInt
        val seedProbe = seed
          .select(col("n").cast("long").as("n"), col("comm").cast("long"))
          .limit(seedCap + 1).as[(Long, Long)].collect()
        val seedMap =
          if (seedProbe.length <= seedCap) seedProbe.toMap
          else {
            val nodesDf = probe.iterator
              .flatMap(r => Iterator(r._1, r._2)).toArray.distinct.toSeq.toDF("n")
            seed.select(col("n").cast("long").as("n"), col("comm").cast("long"))
              .join(broadcast(nodesDf), Seq("n"), "left_semi")
              .as[(Long, Long)].collect().toMap
          }
        val ls = louvainHierarchyDriver(probe, seedMap,
          compOf = Map.empty[Long, Long].withDefaultValue(0L), levels = 2)
        return ls(0).keys.toSeq.sorted
          .map(n => (n, ls(0)(n), ls(1)(n)))
          .toDF("vec_id", "comm1", "comm2")
          .select(Seq("vec_id", "comm1", "comm2")
            .map(c => col(c).cast(idType).as(c)): _*)
      }
    }
    val ls = louvainLabels(edges0, seed, levels = 2)
    ls(0).select(col("vec_id"), col("comm").as("comm1"))
      .join(ls(1).select(col("vec_id"), col("comm").as("comm2")), "vec_id")
      .select("vec_id", "comm1", "comm2")
  }

  /** One synchronized Louvain local-move round (Blondel et al. 2008)
    * over a mutual-kNN backbone — the `sim_louvain_move` query surface:
    * seed communities are the components of the cos ≥ `hiCos`
    * sub-backbone (other nodes start singleton), then every node
    * simultaneously picks the neighbor community maximizing the EXACT
    * LONG modularity-gain statistic
    * `gain_num = 2m·links(i,C) − k_i·Σdeg(C∖{i})` (gain desc, community
    * asc tie-break — engine-portable, no floats). Output:
    * `(vec_id, old_comm, new_comm, moved)`.
    *
    * Driver gate (the [[louvainLevels]] pattern): an integral-id
    * backbone probed at ≤ `localThreshold` rows solves on the driver in
    * one bounded collect — union-find over the hi sub-backbone (rooted
    * at the min id, matching [[graft.ops.Dedup.resolveClusters]]'s
    * labeling), then per-node link counts and the same exact-LONG
    * argmax — instead of the ~10 edge-sized jobs the distributed chain
    * schedules (LouvainDriverSpec pins driver ≡ distributed). The probe
    * aborts early (`limit`), so a corpus-scale backbone pays one bounded
    * scan and keeps the distributed path; ids go back out as the exact
    * input type. */
  def louvainMoveRound(mut: DataFrame, hiCos: Double = 0.5,
                       localThreshold: Long = 200000L): DataFrame = {
    val spark = mut.sparkSession
    val idType = mut.schema("src").dataType
    val integralIds = {
      import org.apache.spark.sql.types._
      Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(idType) && idType == mut.schema("dst").dataType
    }
    if (integralIds) {
      import spark.implicits._
      val probe = mut.select(least(col("src"), col("dst")).cast("long"),
          greatest(col("src"), col("dst")).cast("long"), col("cos").cast("double"))
        .limit(localThreshold.toInt + 1).as[(Long, Long, Double)].collect()
      if (probe.length <= localThreshold) {
        // exact driver mirrors of the frame expressions below
        val eg = probe.iterator.map(r => (r._1, r._2)).toArray.distinct
        val m = eg.length.toLong
        val deg = scala.collection.mutable.HashMap[Long, Long]()
        eg.foreach { case (a, b) =>
          deg.update(a, deg.getOrElse(a, 0L) + 1L)
          deg.update(b, deg.getOrElse(b, 0L) + 1L)
        }
        // hi-subgraph components labeled by MIN member id: union always
        // roots the larger root under the smaller, so find(n) IS the min
        // member id (resolveClusters' labeling); nodes outside the hi
        // subgraph are their own root — exactly the coalesce(comm, n)
        // singleton rule.
        val parent = scala.collection.mutable.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val nx = parent(c); parent.update(c, r); c = nx
          }
          r
        }
        probe.iterator.filter(_._3 >= hiCos).foreach { r =>
          val ra = find(r._1); val rb = find(r._2)
          if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
        }
        val comm = deg.keysIterator.map(n => n -> find(n)).toMap
        val sumdeg = scala.collection.mutable.HashMap[Long, Long]()
        deg.foreach { case (n, d) =>
          val c = comm(n); sumdeg.update(c, sumdeg.getOrElse(c, 0L) + d)
        }
        // per-node links into each neighbor community (+ the stay-put
        // zero candidate), then the exact-LONG argmax
        val links = scala.collection.mutable.HashMap[Long,
          scala.collection.mutable.HashMap[Long, Long]]()
        def bump(n: Long, cand: Long): Unit = {
          val mm = links.getOrElseUpdate(n,
            scala.collection.mutable.HashMap[Long, Long]())
          mm.update(cand, mm.getOrElse(cand, 0L) + 1L)
        }
        eg.foreach { case (a, b) => bump(a, comm(b)); bump(b, comm(a)) }
        val rows = deg.keysIterator.toSeq.sorted.map { n =>
          val own = comm(n)
          val ki = deg(n)
          val cands = links.getOrElseUpdate(n,
            scala.collection.mutable.HashMap[Long, Long]())
          if (!cands.contains(own)) cands.update(own, 0L)
          var bestC = Long.MaxValue
          var bestG = Long.MinValue
          cands.foreach { case (cand, l) =>
            val cExcl = sumdeg(cand) - (if (cand == own) ki else 0L)
            val g = 2L * m * l - ki * cExcl
            if (g > bestG || (g == bestG && cand < bestC)) { bestG = g; bestC = cand }
          }
          (n, own, bestC, bestC != own)
        }
        return rows.toDF("vec_id", "old_comm", "new_comm", "moved")
          .select(col("vec_id").cast(idType).as("vec_id"),
            col("old_comm").cast(idType).as("old_comm"),
            col("new_comm").cast(idType).as("new_comm"), col("moved"))
      }
    }
    val eg = mut.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
      .localCheckpoint(true)
    val ed = eg.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(eg.select(col("b").as("src"), col("a").as("dst")))
    val deg = ed.groupBy(col("src").as("n")).agg(count(lit(1)).as("deg"))
    val m = eg.agg(count(lit(1)).as("__m"))
    val hi = mut.where(col("cos") >= hiCos)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val comp = graft.ops.Dedup.resolveClusters(hi, "a", "b")
      .select(col("id").as("n"), col("cluster").as("comm"))
    val lab = deg.select(col("n")).join(comp, Seq("n"), "left")
      .select(col("n"), coalesce(col("comm"), col("n")).as("comm"))
      .localCheckpoint(true)
    val sumdeg = lab.join(deg, "n").groupBy("comm")
      .agg(sum("deg").as("c_deg"))
    val nbr = ed
      .join(lab.select(col("n").as("dst"), col("comm").as("cand")), "dst")
      .groupBy("src", "cand").agg(count(lit(1)).as("links"))
    // the stay-put candidate must exist even with no same-community
    // neighbor (links = 0): union a zero row per node, re-aggregate
    val cands = nbr.select(col("src"), col("cand"), col("links"))
      .unionByName(lab.select(col("n").as("src"), col("comm").as("cand"),
        lit(0L).as("links")))
      .groupBy("src", "cand").agg(sum("links").as("links"))
    val w = Window.partitionBy("src").orderBy(col("gain_num").desc, col("cand"))
    cands
      .join(lab.select(col("n").as("src"), col("comm").as("own")), "src")
      .join(deg.select(col("n").as("src"), col("deg").as("k_i")), "src")
      .join(sumdeg.select(col("comm").as("cand"), col("c_deg")), "cand")
      .crossJoin(broadcast(m))
      .withColumn("c_excl", col("c_deg") -
        when(col("cand") === col("own"), col("k_i")).otherwise(lit(0L)))
      .withColumn("gain_num",
        lit(2L) * col("__m") * col("links") - col("k_i") * col("c_excl"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("src").as("vec_id"), col("own").as("old_comm"),
        col("cand").as("new_comm"), (col("cand") =!= col("own")).as("moved"))
  }

  /** Bounded-round K-TRUSS decomposition over an undirected edge list —
    * the EDGE-centric cohesion peel beside [[kCore]]'s node-centric one:
    * each round computes every edge's triangle support via the
    * [[triangles]] wedge join on the CURRENT surviving canonical edge
    * set and drops edges supported by fewer than k−2 triangles. The
    * k-truss keeps only relationships embedded in mutual neighborhoods
    * (every surviving edge closes ≥ k−2 triangles), a stronger
    * community signal than degree alone — hub edges with no shared
    * context peel even when both endpoints are high-degree.
    *
    * Same contract as [[kCore]]: early exit at a fixed point equals
    * running the remaining rounds (the oracle mirrors the full unroll);
    * each round is the keyed wedge join (work bounded by Σ deg² on a
    * degree-capped top-k graph, shrinking monotonically) + one
    * semi-join, `localCheckpoint` truncating lineage per round. Rounds
    * is a fixed parameter, never a data function.
    *
    * Input: symmetric or canonical edges; output: surviving canonical
    * edges (src < dst) with their final-round support. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k=2 keeps every edge): $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    def support(e: DataFrame): DataFrame = {
      val tri = e.select(col("src").as("id_a"), col("dst").as("id_b"))
        .join(e.select(col("src").as("id_b"), col("dst").as("id_c")), "id_b")
        .join(e.select(col("src").as("id_a"), col("dst").as("id_c")),
          Seq("id_a", "id_c"), "left_semi")
      tri.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(tri.select(col("id_a").as("src"), col("id_c").as("dst")))
        .unionAll(tri.select(col("id_b").as("src"), col("id_c").as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).as("support"))
    }
    var e = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") < col("dst")).distinct().localCheckpoint(true)
    var before = e.count()
    var t = 0
    var converged = false
    while (t < rounds && !converged) {
      val keep = support(e).where(col("support") >= k - 2)
      val e2 = e.join(keep, Seq("src", "dst"), "left_semi").localCheckpoint(true)
      val after = e2.count()
      converged = after == before
      e = e2; before = after; t += 1
    }
    e.join(support(e), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** kNN majority-vote labeling — the 1-hop semi-supervised classifier a
    * curation pipeline uses to spread sparse labels (source, language,
    * quality tier) across an embedding space: each node takes the label
    * most common among its top-k neighbors. Deterministic tie-break:
    * highest vote count, then lexicographically smallest label. Votes
    * are exact integer counts; one keyed join (graph edges × labels) +
    * one k-bounded aggregation per node — never a distance recompute.
    * Output: (idCol, predicted, votes). */
  def knnClassify(graph: DataFrame, labels: DataFrame, idCol: String,
                  labelCol: String): DataFrame = {
    val l = labels.select(col(idCol).as("dst"), col(labelCol).as("__lab"))
    val votes = graph.select("src", "dst").join(l, "dst")
      .groupBy(col("src"), col("__lab"))
      .agg(count(lit(1)).as("votes"))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("votes").desc, col("__lab"))
    votes.withColumn("__rn", row_number().over(W)).where(col("__rn") === 1)
      .select(col("src").as(idCol), col("__lab").as("predicted"), col("votes"))
  }

  /** Embedding-space outlier screen: assign each vector to its nearest
    * centroid ([[ivfAssign]] semantics) and flag rows whose cosine to
    * that centroid falls below `minCos` — far-from-every-centroid points
    * are embedding-space outliers (decode junk, off-distribution content,
    * mis-embedded rows), the standard cheap screen before clustering-
    * based curation consumes the assignment.
    *
    * Scale: both steps are per-row math against the broadcast centroid
    * table — zero corpus shuffle, scan speed; the one extra cosine per
    * row (vs reusing the assignment's internal max) keeps the operator
    * composable with any pre-assigned input shape.
    *
    * Output: (idCol, cluster, centroid_cos, is_outlier). */
  def centroidOutliers(corpus: DataFrame, centroids: DataFrame, idCol: String,
                       vecCol: String, cidCol: String,
                       minCos: Double): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol, cidCol)
    val c = broadcast(centroids.select(col(cidCol).as("cluster"), col(vecCol).as("__cv")))
    assigned.join(c, "cluster")
      .select(col(idCol), col("cluster"),
        cosine(col(vecCol), col("__cv")).as("centroid_cos"))
      .withColumn("is_outlier", col("centroid_cos") < minCos)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked candidate
    * lists — the standard hybrid-retrieval combiner: each candidate scores
    * `Σ_lists 1/(kConst + rank)`, absent-from-a-list contributes 0, and
    * the fused top-k re-ranks by that score. Rank-based (not
    * score-based), so the two retrievers need no score calibration — the
    * canonical use is fusing a recall-limited ANN list with a second
    * retriever (a different LSH family, IVF probes, or a lexical ranker).
    *
    * Inputs carry (qidCol, idCol, rank) — the output shape of
    * [[annKnn]]/[[ivfKnn]]/[[pqKnn]]. Both are already per-query top-k
    * tables (≤ k rows per query), so the full-outer join and the final
    * window touch only candidate-sized data — fusion cost is independent
    * of corpus size. Arithmetic is IEEE double division + one two-term
    * add in fixed (a, b) order — bit-reproducible across engines.
    *
    * Output: (qidCol, idCol, rrf_score, rank ≤ k). */
  def rrfFuse(a: DataFrame, b: DataFrame, qidCol: String, idCol: String,
              k: Int, kConst: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(kConst >= 0, s"kConst must be >= 0: $kConst")
    val ra = a.select(col(qidCol), col(idCol), col("rank").as("__ra"))
    val rb = b.select(col(qidCol), col(idCol), col("rank").as("__rb"))
    val fused = ra.join(rb, Seq(qidCol, idCol), "full_outer")
      .select(col(qidCol), col(idCol),
        (coalesce(lit(1.0) / (lit(kConst.toLong) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kConst.toLong) + col("__rb")), lit(0.0)))
          .as("rrf_score"))
    val w = Window.partitionBy(qidCol).orderBy(col("rrf_score").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Persist an IVF(-PQ) index hive-partitioned by `cluster`: at scale
    * the probe set then prunes the SCAN to its partitions — index read
    * cost is corpus·nprobe/k_clusters in bytes actually opened, not just
    * rows filtered. `indexed` is [[ivfAssign]] output (optionally joined
    * with [[pqCodes]]). Rows are segment-tagged and the index gets a
    * `_segments` ledger directory (invisible to readers — see
    * [[graft.io.SegmentedIndex]]) so [[appendToIvfIndex]] is exactly-once
    * and [[updateIvfIndex]] maintains the index under CDC changes. */
  def writeIvfIndex(indexed: DataFrame, dir: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val spark = indexed.sparkSession
    val seg0 = indexed.withColumn(SI.SegCol, lit(0L)).localCheckpoint(true)
    seg0.write.mode("overwrite").partitionBy("cluster").parquet(dir)
    // A fresh build invalidates any id->cluster map of a PREVIOUS build
    // at this path — drop it (lazily rebuilt by the next update) and,
    // when the map was registered, its catalog entry too (a stale map
    // table would otherwise answer probes from vanished directories).
    val mp = new org.apache.hadoop.fs.Path(idMapDir(dir))
    graft.io.ExternalCatalog.unregister(spark, idMapDir(dir))
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mp, true)
    // Rebuild over a REGISTERED directory: the metastore's partition
    // entries and cached listings still describe the PREVIOUS build —
    // catalog-routed probes would read vanished cluster dirs. Re-run
    // the registration (idempotent; MSCK SYNC + refresh) so the entry
    // matches the new build before any probe routes through it.
    graft.io.ExternalCatalog.registeredName(spark, dir).foreach { name =>
      registerIvfIndex(spark, dir, name): Unit
    }
    SI.pathInitLedger(spark, dir, seg0.count())
  }

  // ---- id->cluster map sidecar (O(batch) impacted-cluster lookup) ----
  //
  // updateIvfIndexRows must know which cluster partitions hold the
  // changed ids' OLD rows. Scanning the index's (cluster, id) columns is
  // column-pruned but O(index id-column) PER DELIVERY — at 100 TB of
  // index, every hourly batch re-reads the id column of everything. The
  // sidecar persists (id, cluster) hash-partitioned into a fixed number
  // of id buckets beside the index; a delivery computes its changed ids'
  // buckets (batch-sized work), opens ONLY those `id_bucket=` partitions
  // (static partition predicate — same pruning the probes use on
  // `cluster=`), and rewrites only them (the same partition-level CoW as
  // the index itself, so map maintenance is O(batch buckets) too). The
  // map is maintained LAST (after the index rewrite, before the ledger
  // row) so a crash replay recomputes the same impacted set from the
  // pre-batch map and converges.

  /** Id-map sizing target: ~this many map rows per bucket (the
    * per-delivery bucket-read residual is corpus/nBuckets — see
    * SCALE.md's ProbeIvfMap record). Overridable per map for tests and
    * unusual row widths; recorded in the meta file so maintenance can
    * re-derive the intended geometry as the index grows. */
  val DefaultIdMapRowsPerBucket = 1000000L

  /** Id-bucket count of a map sidecar — chosen at BUILD time from the
    * index size (~`rowsPerBucket` map rows per bucket, floor 16, cap
    * 1024) and STORED in the map's own `_nbuckets` meta file
    * (underscore-hidden from parquet readers): the bucket of an id must
    * be stable across deliveries, so every later lookup/rewrite reads
    * the stored count. Size-adaptive matters at both ends: a fixed
    * large count makes every delivery pay per-partition commit overhead
    * proportional to the count (the r12 bench regression — 256
    * directory commits for a 5k-row fixture), while a fixed small count
    * makes a 100 TB map's per-bucket read too coarse. An index that
    * GROWS past the build-time sizing re-buckets at the next
    * maintenance window ([[maintainIvfIdMapIfNeeded]]). */
  private def chooseIdMapBuckets(indexRows: Long, rowsPerBucket: Long): Int =
    math.min(1024L, math.max(16L, indexRows / rowsPerBucket + 1L)).toInt

  private def idMapDir(dir: String): String =
    dir.stripSuffix("/") + "_idmap"

  private def idMapMetaPath(dir: String) =
    new org.apache.hadoop.fs.Path(idMapDir(dir), "_nbuckets")

  private def writeIdMapMeta(spark: org.apache.spark.sql.SparkSession,
                             dir: String, n: Int, rowsPerBucket: Long): Unit = {
    val p = idMapMetaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$n $rowsPerBucket"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The (bucket count, rows-per-bucket target) this map was built with.
    * Pre-r13 meta files hold the count alone — the target defaults. */
  private def idMapMetaOf(spark: org.apache.spark.sql.SparkSession,
                          dir: String): (Int, Long) = {
    val p = idMapMetaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val toks =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.split("\\s+")
      finally in.close()
    (toks(0).toInt,
      if (toks.length > 1) toks(1).toLong else DefaultIdMapRowsPerBucket)
  }

  /** The bucket count this map was built with (from its meta file). */
  private def idMapBucketsOf(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Int = idMapMetaOf(spark, dir)._1

  private def idMapBucket(idc: Column, nBuckets: Int): Column =
    pmod(xxhash64(idc), lit(nBuckets.toLong))

  private def idMapExists(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(idMapDir(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the meta file commits the build (written LAST): data dirs without
    // it are a crashed backfill — treated as absent, the retry's static
    // overwrite converges
    fs.exists(p) && fs.exists(idMapMetaPath(dir)) && Option(
      fs.globStatus(new org.apache.hadoop.fs.Path(p, "id_bucket=*")))
      .exists(_.nonEmpty)
  }

  /** Build the sidecar whole from the live index — the one full
    * (cluster, id)-column scan left in the lifecycle: it runs once per
    * index (first update against a map-less index), after which every
    * delivery's lookup is bucket-pruned. Also the backfill entry point
    * for indexes written before the sidecar existed. */
  def buildIvfIdMap(spark: org.apache.spark.sql.SparkSession, dir: String,
                    idCol: String,
                    rowsPerBucket: Long = DefaultIdMapRowsPerBucket): Unit = {
    val rows = spark.read.parquet(dir).select(col(idCol),
      col("cluster").cast("long").as("cluster")).localCheckpoint(true)
    val n = chooseIdMapBuckets(rows.count(), rowsPerBucket)
    rows.select(col(idCol), col("cluster"),
        idMapBucket(col(idCol), n).as("id_bucket"))
      // one shuffle keyed by bucket -> ONE file per bucket directory;
      // writing straight from the scan's N partitions sprays up to
      // N x nBuckets tiny files (the r12 bench regression)
      .repartition(col("id_bucket"))
      .write.mode("overwrite").partitionBy("id_bucket")
      .parquet(idMapDir(dir))
    writeIdMapMeta(spark, dir, n, rowsPerBucket)
    // A registered index gets its freshly-(re)built map registered too,
    // so the very first delivery's map read already routes through the
    // catalog (and a REBUILD over a registered map re-syncs the entry
    // to the new bucket layout instead of leaving stale partitions).
    registerIdMapIfIndexRegistered(spark, dir)
  }

  /** Re-bucket the id->cluster map when the index OUTGREW its build-time
    * geometry — the amplification-threshold pattern the other index
    * families already run, applied to the sidecar: `_nbuckets` is frozen
    * at build, so an index that grows 100x after the backfill drifts
    * toward corpus-sized buckets and the per-delivery bucket read (the
    * documented corpus/nBuckets residual) grows with it. Fires when live
    * map rows exceed 2x the built geometry's capacity (n x rowsPerBucket)
    * AND a bigger count is actually choosable (the 1024 cap bounds it);
    * the rebuild is [[buildIvfIdMap]] — one full (cluster, id) scan,
    * amortized by the 2x growth trigger like any doubling scheme, and
    * crash-safe the same way (the overwrite removes the meta file first,
    * so a torn rebuild reads as map-absent and the next delivery
    * re-backfills; a registered map re-syncs its catalog entry in the
    * rebuild). The check itself is one metadata-bounded count over the
    * map (parquet footer counts — no data pages).
    *
    * Returns (oldBuckets, newBuckets) when it re-bucketed, None when the
    * map is within budget (the common case — cadence-schedulable like
    * [[graft.io.MorTable.maintainIfNeeded]]). */
  def maintainIvfIdMapIfNeeded(spark: org.apache.spark.sql.SparkSession,
                               dir: String, idCol: String): Option[(Int, Int)] = {
    if (!idMapExists(spark, dir)) return None
    val (n, per) = idMapMetaOf(spark, dir)
    val live = readIdMap(spark, dir).count()
    if (live <= 2L * n * per) None
    else {
      val newN = chooseIdMapBuckets(live, per)
      if (newN <= n) None
      else {
        buildIvfIdMap(spark, dir, idCol, per)
        Some((n, newN))
      }
    }
  }

  /** The sidecar's id column name, recovered from its own schema (the
    * one column that is not cluster/id_bucket) — append maintenance
    * does not otherwise know it. */
  private def idMapIdCol(spark: org.apache.spark.sql.SparkSession,
                         dir: String): String =
    readIdMap(spark, dir).schema.fieldNames
      .filterNot(Set("cluster", "id_bucket")).head

  /** Read the id->cluster sidecar — through the METASTORE when the map
    * is registered (the same routing [[readIvfIndex]] gives the index:
    * partition pruning from catalog metadata, so a delivery's map read
    * never pays the distributed directory-listing job above
    * `parallelPartitionDiscovery.threshold` buckets), path-based
    * otherwise. `buckets` prunes to the changed ids' `id_bucket=`
    * partitions; None reads the whole map (backfill-sized callers
    * only). */
  private def readIdMap(spark: org.apache.spark.sql.SparkSession, dir: String,
                        buckets: Option[Seq[Long]] = None): org.apache.spark.sql.DataFrame = {
    val base = graft.io.ExternalCatalog.registeredName(spark, idMapDir(dir)) match {
      case Some(name) => spark.table(name)
      case None => spark.read.parquet(idMapDir(dir))
    }
    buckets.fold(base)(bs => base.where(col("id_bucket").isin(bs: _*)))
  }

  /** Register the id->cluster sidecar alongside a REGISTERED index (as
    * `<indexName>_idmap`) so delivery-time map reads route through the
    * catalog too — without this, a registered index's probes skip the
    * listing job but every maintenance batch still pays it on the map.
    * No-op for unregistered indexes or map-less dirs; idempotent. */
  private def registerIdMapIfIndexRegistered(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    graft.io.ExternalCatalog.registeredName(spark, dir).foreach { n =>
      if (idMapExists(spark, dir)) {
        graft.io.ExternalCatalog.registerParquetDir(
          spark, n + "_idmap", idMapDir(dir), Seq("id_bucket")): Unit
        graft.io.ExternalCatalog.writeMarker(spark, idMapDir(dir), n + "_idmap")
      }
    }

  /** Append a batch to a persisted IVF index, exactly-once under
    * at-least-once delivery: ledger-gated on `batchId` (replay no-ops)
    * and crash-resumable (data committed but ledger row lost → the
    * retry detects the segment in the data files and appends only the
    * ledger row). `indexed` must be assigned rows (same columns the
    * index was written with, minus `__seg`). Batch ids must be NEW;
    * route changed documents through [[updateIvfIndex]]. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       indexed: DataFrame, dir: String, batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    if (SI.pathHasBatch(spark, dir, batchId)) return
    val seg = SI.pathNextSeg(spark, dir)
    val tagged = indexed.withColumn(SI.SegCol, lit(seg)).localCheckpoint(true)
    // Bootstrap doubles as append: mode("append") creates the directory,
    // so the first batch needs no separate write path (and a replayed
    // first batch is still ledger-gated). The segment probe only runs
    // against committed partitions.
    if (!ivfIndexExists(spark, dir) ||
        spark.read.parquet(dir).where(col(SI.SegCol) === seg).limit(1).isEmpty)
      tagged.write.mode("append").partitionBy("cluster").parquet(dir)
    // Keep the id->cluster sidecar in lockstep (appended ids are NEW by
    // this method's contract, so a bucket-partitioned append keeps one
    // map row per id). The append is gated ROW-wise on the map itself:
    // only ids the touched buckets don't already hold are written, so a
    // crash retry between this append and the ledger row re-appends
    // NOTHING (the r12 comment claimed duplicates were "folded away by
    // the next update" — true but unbounded under repeated retries;
    // the anti-join bounds them at zero). Probe cost is the same
    // bucket-pruned read the update path pays: O(batch buckets).
    if (idMapExists(spark, dir)) {
      val mid = idMapIdCol(spark, dir)
      val n = idMapBucketsOf(spark, dir)
      val mapRows = tagged.select(col(mid),
        col("cluster").cast("long").as("cluster"),
        idMapBucket(col(mid), n).as("id_bucket"))
      val touched = mapRows.select(col("id_bucket"))
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
      val fresh = mapRows.join(
        readIdMap(spark, dir, Some(touched)).select(col(mid)),
        Seq(mid), "left_anti")
      fresh.repartition(col("id_bucket")) // one file per touched bucket
        .write.mode("append").partitionBy("id_bucket")
        .parquet(idMapDir(dir))
      // first rows of a previously-empty bucket create its directory —
      // a registered map needs the partition entry before the next read
      graft.io.ExternalCatalog.syncPartitions(spark, idMapDir(dir),
        "id_bucket", added = touched, dropped = Nil)
    }
    // Registered index: the appended clusters' partition entries must
    // exist before the next catalog-routed probe (guarded so the
    // cluster-list collect never runs for unregistered indexes).
    if (graft.io.ExternalCatalog.registeredName(spark, dir).isDefined)
      graft.io.ExternalCatalog.syncPartitions(spark, dir, "cluster",
        added = tagged.select(col("cluster").cast("long"))
          .distinct().collect().map(_.getLong(0)).toSeq,
        dropped = Nil)
    SI.pathAppendLedger(spark, dir, seg, batchId, tagged.count())
  }

  /** True only when the index directory holds COMMITTED data: a crash
    * during a bootstrap write leaves only `_temporary` debris (and the
    * ledger dir is underscore-hidden too); committed partitions always
    * surface as `cluster=*` directories. */
  def ivfIndexExists(spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && Option(
      fs.globStatus(new org.apache.hadoop.fs.Path(p, "cluster=*")))
      .exists(_.nonEmpty)
  }

  /** CDC maintenance of a persisted IVF index — partition-level
    * copy-on-write, the [[graft.io.CowWriter]] idea applied to the
    * cluster layout: changed ids are located through the id->cluster
    * map sidecar (its read prunes to the changed ids' `id_bucket=`
    * partitions — O(batch buckets), never the index's id column; a
    * map-less index backfills the sidecar once via [[buildIvfIdMap]]),
    * then ONLY the impacted cluster partitions are rewritten (old rows
    * anti-joined out, upserts re-assigned under the fixed coarse
    * quantizer and appended) via dynamic partition overwrite; a cluster
    * left empty is cleared explicitly (dynamic overwrite cannot express
    * an empty partition). Cost is O(batch + impacted partitions),
    * not O(index). Re-clustering (new centroids) remains a rebuild —
    * the standard IVF lifecycle. `changes` is a merged change set (≤ 1
    * row per id), `opCol` = "D" deletes. Ledger-gated on `batchId`;
    * the rewrite is idempotent under replay (re-removing and re-adding
    * the same change set converges to the same partition contents). */
  def updateIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     changes: DataFrame, centroids: DataFrame, idCol: String,
                     vecCol: String, cidCol: String, opCol: String,
                     dir: String, batchId: String): Unit =
    updateIvfIndexRows(spark, changes, centroids, idCol, vecCol, cidCol,
      opCol, dir, batchId, identity)

  /** [[updateIvfIndex]] generalized over the INDEXED PAYLOAD: `payload`
    * maps the assigned upserts (idCol, vecCol, cluster) to the rows the
    * index actually stores — `identity` for the raw-vector index, a
    * [[binaryMasks]] projection for the 16-byte mask sidecar
    * ([[updateBinaryIvfIndex]]). The partition-level copy-on-write,
    * impacted-cluster selection, empty-partition cleanup and ledger
    * gating are one shared body so the maintenance law cannot drift
    * between payload kinds. */
  def updateIvfIndexRows(spark: org.apache.spark.sql.SparkSession,
                         changes: DataFrame, centroids: DataFrame, idCol: String,
                         vecCol: String, cidCol: String, opCol: String,
                         dir: String, batchId: String,
                         payload: DataFrame => DataFrame): Unit = {
    val SI = graft.io.SegmentedIndex
    if (SI.pathHasBatch(spark, dir, batchId)) return
    val seg = SI.pathNextSeg(spark, dir)
    // ONE evaluation of the caller's change plan: `changes` is typically
    // a join/union tree (the CDC splice), not a parquet scan, and the
    // derivations below (changed ids, assignment) would otherwise each
    // re-run it (§2.4 — the retained-output shape applied to the change
    // batch itself).
    val ch = changes.localCheckpoint(true)
    val (changedIds, assignedNew) =
      try {
        (ch.select(col(idCol)).distinct().localCheckpoint(true),
          payload(
            ivfAssign(ch.where(col(opCol) =!= "D"),
              centroids, idCol, vecCol, cidCol)
            .select(col(idCol), col(vecCol), col("cluster")))
          .withColumn(SI.SegCol, lit(seg)).localCheckpoint(true))
      } finally ch.unpersist(blocking = false): Unit // both derivations are materialized
    // Impacted partitions: where changed ids live now, plus where
    // upserts land. The "live now" lookup goes through the id->cluster
    // map sidecar when present — its read is PRUNED to the changed ids'
    // `id_bucket=` partitions, so the lookup is O(batch buckets), not
    // O(index id-column). A map-less index (pre-sidecar build, or first
    // update ever) pays the full scan ONCE to backfill the map.
    if (!idMapExists(spark, dir)) buildIvfIdMap(spark, dir, idCol)
    val nBuckets = idMapBucketsOf(spark, dir)
    val changedBuckets = changedIds
      .select(idMapBucket(col(idCol), nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted // <= nBuckets values
    val mapLive = readIdMap(spark, dir, Some(changedBuckets))
    // old (where changed ids live now) and new (where upserts land)
    // cluster sets in ONE collect — the union is <= impacted-cluster
    // sized either way, and a delivery is job-latency-bound at the
    // driver, so every fused tiny job counts.
    val impactedTagged = mapLive
      .join(broadcast(changedIds), Seq(idCol), "left_semi")
      .select(col("cluster").cast("long").as("c"), lit(true).as("old"))
      .unionByName(assignedNew
        .select(col("cluster").cast("long").as("c"), lit(false).as("old")))
      .distinct().collect()
    val oldClusters = impactedTagged.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    val newClusters = impactedTagged.filterNot(_.getBoolean(1)).map(_.getLong(0)).toSet
    val impacted = (oldClusters ++ newClusters).toSeq.sorted
    if (impacted.nonEmpty) {
      val rewritten = readIvfIndex(spark, dir, impacted)
        .join(broadcast(changedIds), Seq(idCol), "left_anti")
        .unionByName(assignedNew)
        .localCheckpoint(true) // impacted-partition-sized; detaches the read
      // Map maintenance's WRITE stays strictly LAST (see the crash
      // invariant below), but its rewritten-rows COMPUTATION reads only
      // the map's own buckets + checkpointed batch frames — overlap that
      // read-only materialization with the index rewrite (§2.6).
      var mapRewritten: DataFrame = null
      graft.io.Overlap.awaitAll(Seq(
        () => {
          rewritten.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cluster").parquet(dir)
          val survivors = rewritten.select(col("cluster").cast("long"))
            .distinct().collect().map(_.getLong(0)).toSet
          // Registered index: keep the catalog's partition entries exact —
          // O(impacted) ALTERs, never a full MSCK per delivery. Emptied
          // partitions drop from the CATALOG before their directories are
          // deleted: a crash in between leaves an orphan directory the
          // catalog no longer lists (harmless — the replay recomputes the
          // same emptied set and deletes it then), where the old order left
          // a live catalog partition pointing at a MISSING directory,
          // wedging the replay's catalog-routed read at listing.
          graft.io.ExternalCatalog.syncPartitions(spark, dir, "cluster",
            added = survivors -- oldClusters, dropped = impacted.toSet -- survivors)
          val base = new org.apache.hadoop.fs.Path(dir)
          val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
          (impacted.toSet -- survivors).foreach { c =>
            fs.delete(new org.apache.hadoop.fs.Path(base, s"cluster=$c"), true)
          }
        },
        // Map maintenance WRITE after the index rewrite (below — same
        // bucket-partitioned CoW): rewrite the changed ids' buckets with
        // their old rows dropped and the upserts' fresh (id, cluster)
        // rows in. The crash invariant of map-after-index ordering: a
        // replay reads either the PRE-batch map (crash before this
        // rewrite — recomputes the same impacted set over an index whose
        // re-rewrite converges) or the POST-batch map (crash after it —
        // the impacted set shrinks to the upserts' new clusters, which
        // is sufficient precisely BECAUSE the index rewrite it would
        // re-do already completed). Either way the replay converges to
        // the same index and map contents.
        () => mapRewritten = mapLive
          .join(broadcast(changedIds), Seq(idCol), "left_anti")
          .unionByName(assignedNew.select(col(idCol),
            col("cluster").cast("long").as("cluster"),
            idMapBucket(col(idCol), nBuckets).as("id_bucket")))
          .localCheckpoint(true)))
      mapRewritten.repartition(col("id_bucket")) // one file per bucket
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("id_bucket").parquet(idMapDir(dir))
      val mapSurvivors = mapRewritten.select(col("id_bucket").cast("long"))
        .distinct().collect().map(_.getLong(0)).toSet
      // Registered map: same catalog discipline as the index — new
      // bucket entries added, emptied ones dropped BEFORE their
      // directories go (no missing-directory window for catalog-routed
      // map reads).
      // added = ALL surviving buckets (ADD IF NOT EXISTS is idempotent
      // and the set is <= changed buckets): a bucket that was EMPTY at
      // build time has no catalog entry yet its first rows land here.
      graft.io.ExternalCatalog.syncPartitions(spark, idMapDir(dir), "id_bucket",
        added = mapSurvivors,
        dropped = changedBuckets.toSet -- mapSurvivors)
      val mbase = new org.apache.hadoop.fs.Path(idMapDir(dir))
      val mfs = mbase.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (changedBuckets.toSet -- mapSurvivors).foreach { b =>
        mfs.delete(new org.apache.hadoop.fs.Path(mbase, s"id_bucket=$b"), true)
      }
    }
    SI.pathAppendLedger(spark, dir, seg, batchId,
      assignedNew.select(col(idCol)).distinct().count())
  }

  /** CDC maintenance of a cluster-partitioned BINARY-MASK sidecar
    * ([[binaryIvfKnn]]'s index): the shared partition-level
    * copy-on-write of [[updateIvfIndexRows]] with the 16-byte mask
    * payload — only impacted cluster partitions are rewritten, masks
    * re-derived for the changed ids alone. After maintenance the
    * sidecar is indistinguishable from a from-scratch
    * `binaryMasks(ivfAssign(merged))` build (oracle-pinned by
    * `sim_binary_ivf_after_update`). */
  def updateBinaryIvfIndex(spark: org.apache.spark.sql.SparkSession,
                           changes: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String, cidCol: String,
                           opCol: String, dir: String, batchId: String): Unit =
    updateIvfIndexRows(spark, changes, centroids, idCol, vecCol, cidCol,
      opCol, dir, batchId,
      assigned => binaryMasks(assigned, vecCol)
        .select(col(idCol), col("mask_lo"), col("mask_hi"), col("cluster")))

  /** Register a persisted IVF index in the metastore as an EXTERNAL
    * table over its directory — a fresh session (or a later JVM sharing
    * the catalog) then discovers the index by NAME instead of a
    * passed-around path, with the `cluster` partition layout declared so
    * `WHERE cluster IN (...)` probes stay partition-pruned through the
    * catalog read path too. Re-call after [[appendToIvfIndex]] /
    * [[updateIvfIndex]] maintenance: the call is idempotent and re-syncs
    * partition entries (including dropping entries for cluster
    * directories a partition rewrite deleted). The data directory is
    * never touched (EXTERNAL) — registration is metadata-only. */
  def registerIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, name: String): String = {
    val n = graft.io.ExternalCatalog.registerParquetDir(spark, name, dir,
      Seq("cluster"))
    // marker: probes holding only the directory route through the
    // catalog from now on (readIvfIndex), and maintenance keeps the
    // partition entries in sync (updateIvfIndexRows/appendToIvfIndex)
    graft.io.ExternalCatalog.writeMarker(spark, dir, n)
    // The id->cluster sidecar rides along (as `<name>_idmap`): without
    // this, probes skip the listing job but every DELIVERY still pays
    // it on the map read above the discovery threshold. A map built
    // later (lazy backfill) self-registers in buildIvfIdMap.
    registerIdMapIfIndexRegistered(spark, dir)
    n
  }

  /** Read back only the probed clusters of a persisted IVF index. With
    * a live registration ([[registerIvfIndex]]'s marker) the read goes
    * through the METASTORE: partition pruning happens on catalog
    * metadata, so no directory-listing job runs — above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * directories a path-based read pays a distributed listing job
    * scaling with cluster count (the SCALE.md r11 finding), which at
    * 100 TB runs on EVERY probe. Unregistered indexes keep the
    * path-based read, where the `cluster` filter is a static partition
    * predicate (only matching `cluster=` directories open). Results are
    * identical (spec-pinned). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   clusters: Seq[Long]): DataFrame =
    graft.io.ExternalCatalog.registeredName(spark, dir) match {
      case Some(name) => spark.table(name).where(col("cluster").isin(clusters: _*))
      case None => spark.read.parquet(dir).where(col("cluster").isin(clusters: _*))
    }

  /** The distinct clusters a query batch probes at `nprobe` — a tiny
    * driver-side list (≤ queries·nprobe ids, bounded by k_clusters) that
    * feeds [[readIvfIndex]]'s partition pruning. */
  def probedClusters(queries: DataFrame, centroids: DataFrame,
                     qidCol: String, vecCol: String, cidCol: String,
                     nprobe: Int): Seq[Long] =
    ivfAssignTop(queries, centroids, qidCol, vecCol, cidCol, nprobe)
      .select("cluster").distinct().collect().map(_.getLong(0)).toSeq.sorted

  /** Collapse + validate the codebook: one sorted array-of-structs row,
    * broadcast. Codes are POSITIONS in cid-sorted order (0-based ranks),
    * not cid values — with non-contiguous cids the code is the rank of
    * the winning entry. ≤ 256 entries and m ≤ 8 keep the base-256 packing
    * of [[pqCodes]] collision-free within one BIGINT. */
  private def collectCodebook(codebook: DataFrame, cidCol: String,
                              vecCol: String, m: Int): DataFrame = {
    require(m >= 1 && m <= 8,
      s"m must be in [1, 8]: $m base-256 digits would overflow the 64-bit pq_code")
    val n = codebook.count()
    require(n >= 1 && n <= 256,
      s"codebook must have 1..256 entries, got $n: larger codebooks overflow a base-256 digit")
    broadcast(codebook
      .agg(array_sort(collect_list(struct(col(cidCol).as("cid"), col(vecCol).as("cvec"))))
        .as("__cb")))
  }

  /** Squared L2 between subspace `i` of `vec` and of `cvec` (`m` equal
    * subvectors; fold over positions [i·sub+1, (i+1)·sub], accumulating
    * left-to-right in double — bit-identical in the SQL mirror). */
  private def subL2(vec: Column, cvec: Column, i: Int, m: Int): Column = {
    val sub = floor(size(vec) / m).cast("int") // subvector width per row
    aggregate(
      zip_with(slice(vec, lit(i) * sub + 1, sub), slice(cvec, lit(i) * sub + 1, sub),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, d) => acc + d)
  }

  /** Simplified (centroid-based) silhouette per point (Hruschka et al.
    * 2004 — the O(n·k) variant of Rousseeuw 1987, the only one that
    * survives corpus scale: the classic per-point-pairwise silhouette
    * is O(n²) and dead at 100 TB): a_i = cosine distance to the
    * nearest (= assigned) centroid, b_i = distance to the runner-up,
    * s_i = (b_i − a_i)/max(a_i, b_i) ∈ [0, 1] here (a ≤ b by
    * construction; 0 when both distances are 0). Low s_i = boundary
    * point — the "is this clustering actually separating anything"
    * eval the IVF/SemDeDup family needs beside recall.
    *
    * One broadcast of the centroid set against one corpus pass + a
    * k-row-per-point window — no float cross-row aggregation anywhere
    * (per-point grain), so the output hash-matches cross-engine.
    *
    * Output: (idCol, cluster, a_dist, b_dist, silhouette). Requires ≥ 2
    * centroids (b is undefined otherwise). */
  def silhouette(corpus: DataFrame, centroids: DataFrame, idCol: String,
                 vecCol: String, cidCol: String): DataFrame = {
    val c = broadcast(centroids.select(col(cidCol), col(vecCol).as("__cv")))
    // clamp at 0: float cosine of a vector with itself can exceed 1 by
    // an ulp, and a −ε distance would push s_i past 1 (the documented
    // range) — greatest(0, ·) is the honest cosine-distance floor.
    val scored = corpus.select(col(idCol), col(vecCol).as("__v"))
      .crossJoin(c)
      .select(col(idCol), col(cidCol),
        greatest(lit(0.0), lit(1.0) - cosine(col("__v"), col("__cv"))).as("__d"))
    val w = Window.partitionBy(idCol).orderBy(col("__d"), col(cidCol))
    val ranked = scored.withColumn("__rn", row_number().over(w))
    val a = ranked.where(col("__rn") === 1)
      .select(col(idCol), col(cidCol).as("cluster"), col("__d").as("a_dist"))
    val b = ranked.where(col("__rn") === 2)
      .select(col(idCol), col("__d").as("b_dist"))
    a.join(b, idCol)
      .select(col(idCol), col("cluster"), col("a_dist"), col("b_dist"),
        when(greatest(col("a_dist"), col("b_dist")) === 0.0, lit(0.0))
          .otherwise((col("b_dist") - col("a_dist")) /
            greatest(col("a_dist"), col("b_dist"))).as("silhouette"))
  }

  /** Davies-Bouldin cluster-quality components (Davies & Bouldin 1979)
    * over a nearest-centroid assignment with cosine distance: per
    * cluster i, the scatter S_i = mean member distance to the centroid,
    * and the DB component max_{j≠i} (S_i + S_j)/d(c_i, c_j) — "how
    * confusable is this cluster with its worst neighbor" (lower =
    * better). The mean-of-distances float sum rides the SAME sliced
    * two-phase deterministic fold as [[centroidUpdate]] (bounded state
    * per task, bit-stable under any partitioning); everything after is
    * k²-sized arithmetic on the centroid table.
    *
    * Output: (cluster, n_members, scatter, db_peer, db_component), one
    * row per non-empty cluster (peer/component null when k = 1 or no
    * other non-empty cluster exists). */
  def daviesBouldin(corpus: DataFrame, centroids: DataFrame, idCol: String,
                    vecCol: String, cidCol: String,
                    numSlices: Int = 1024): DataFrame = {
    val c = broadcast(centroids.select(col(cidCol), col(vecCol).as("__cv")))
    // same clamped cosine distance as [[silhouette]] (float cos(x,x)
    // can exceed 1 by an ulp — a −ε member distance would leak into
    // the scatter mean)
    val scored = corpus.select(col(idCol), col(vecCol).as("__v"))
      .crossJoin(c)
      .select(col(idCol), col(cidCol),
        greatest(lit(0.0), lit(1.0) - cosine(col("__v"), col("__cv"))).as("__d"))
    val w = Window.partitionBy(idCol).orderBy(col("__d"), col(cidCol))
    val assigned = scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(cidCol).as("cluster"), col(idCol), col("__d"))
    val rows = assigned.select(col("cluster"), lit(0L).as("dim"),
      sliceHashKey(idCol), col(idCol).as("__vid"), col("__d").as("__v"))
      .withColumn("__slice", sliceOfKey(numSlices))
    val scatter = slicedComponentFold(rows)
      .select(col("cluster"),
        (col("comp_sum") / col("n").cast("double")).as("__s"),
        col("n").as("n_members"))
      .localCheckpoint(true)
    val cd = c.select(col(cidCol).as("__i"), col("__cv").as("__cvi"))
      .crossJoin(c.select(col(cidCol).as("__j"), col("__cv").as("__cvj")))
      .where(col("__i") =!= col("__j"))
      .select(col("__i"), col("__j"),
        (lit(1.0) - cosine(col("__cvi"), col("__cvj"))).as("__dij"))
    val r = cd
      .join(scatter.select(col("cluster").as("__i"), col("__s").as("__si")), "__i")
      .join(scatter.select(col("cluster").as("__j"), col("__s").as("__sj")), "__j")
      .select(col("__i").as("cluster"), col("__j"),
        ((col("__si") + col("__sj")) / col("__dij")).as("__r"))
    val wMax = Window.partitionBy("cluster").orderBy(col("__r").desc, col("__j"))
    val best = r.withColumn("__rn", row_number().over(wMax))
      .where(col("__rn") === 1)
      .select(col("cluster"), col("__j").as("db_peer"),
        col("__r").as("db_component"))
    scatter.select(col("cluster"), col("n_members"), col("__s").as("scatter"))
      .join(best, Seq("cluster"), "left")
  }

  /** Greedy beam search over a precomputed kNN graph (the NSW/HNSW-family
    * navigation primitive, Malkov & Yashunin 2018 restricted to one
    * layer): each query starts a beam at `entries` fixed entry nodes
    * (the smallest ids — deterministic), then for `hops` rounds expands
    * the beam through the graph's out-edges, scores every candidate by
    * cosine to the query, and keeps the best `beam` per query
    * ((cos desc, id) — deterministic). The final beam's top-`k` is the
    * answer. Recall comes from graph connectivity instead of bucket
    * probes — the access path that wins when queries arrive one at a
    * time against a frozen corpus.
    *
    * Scale shape: the beam set is (#queries · beam) rows — broadcast on
    * every expansion join, so each hop costs one map-side lookup into
    * the edge list plus a beam-sized top-k window; the corpus is never
    * rescanned beyond the candidate-id embedding lookups (an id-equi
    * join). Rounds are fixed (`hops`), each round's beam eagerly
    * checkpointed so lineage stays flat. Nothing here is corpus×corpus:
    * with bounded out-degree (top-k graph construction) candidates per
    * hop are ≤ #queries · beam · (k_graph + 1).
    *
    * Output: (qidCol, idCol, cos, rank ≤ k). */
  def graphSearch(corpus: DataFrame, queries: DataFrame, edges: DataFrame,
                  idCol: String, vecCol: String, qidCol: String,
                  entries: Int, beam: Int, hops: Int, k: Int): DataFrame = {
    require(entries >= 1 && beam >= k && hops >= 0,
      s"need entries >= 1, beam >= k, hops >= 0: $entries, $beam/$k, $hops")
    val q = gatedBroadcast(queries.select(col(qidCol), col(vecCol).as("__qvec")))
    val corp = corpus.select(col(idCol), col(vecCol).as("__cvec"))
    val e = edges.select(col("src").as(idCol), col("dst")).localCheckpoint(true)
    // Score a (qid, id) candidate set: embedding lookup by id-equi join,
    // cosine against the broadcast query vector; self-matches excluded
    // (same contract as bruteForceKnn).
    def score(cand: DataFrame): DataFrame =
      cand.where(col(qidCol) =!= col(idCol))
        .join(corp, idCol).join(q, Seq(qidCol))
        .select(col(qidCol), col(idCol),
          cosine(col("__qvec"), col("__cvec")).as("cos"))
    def top(scored: DataFrame, n: Int): DataFrame = {
      val w = Window.partitionBy(qidCol).orderBy(col("cos").desc, col(idCol))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= n)
    }
    val entry = corpus.select(col(idCol)).orderBy(col(idCol)).limit(entries)
    var b = top(score(queries.select(col(qidCol)).crossJoin(entry)), beam)
      .select(col(qidCol), col(idCol)).localCheckpoint(true)
    for (_ <- 0 until hops) {
      val expanded = broadcast(b).join(e, idCol)
        .select(col(qidCol), col("dst").as(idCol))
      val cand = b.unionByName(expanded).distinct()
      b = top(score(cand), beam)
        .select(col(qidCol), col(idCol)).localCheckpoint(true)
    }
    top(score(b), k)
  }
}
