package graft.ops

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over a document corpus — the BM25 ranking path that
  * pairs with the ANN operators ([[Similarity]]) under reciprocal-rank
  * fusion ([[Similarity.rrfFuse]]) for hybrid retrieval: the embedding
  * side recalls semantic neighbors, this side recalls exact-term matches,
  * and the fused list is the standard training-data / RAG retrieval
  * frontend.
  */
object Retrieval {

  /** BM25 top-k (Robertson-Spärck Jones): per (query, doc) the score is
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` over the
    * query's distinct terms, ranked per query.
    *
    * idf here is the RATIONAL variant `(N − df + 0.5)/(df + 0.5)` — the
    * argument of the canonical `log(...)` idf, without the log. The log
    * is monotone, so single-term rankings are identical; multi-term sums
    * weight rare terms more steeply than log-BM25 (documented trade). The
    * payoff is exact cross-engine reproducibility: every operation is
    * IEEE double arithmetic on exactly-representable inputs (counts, 0.5,
    * and the parsed k1/b literals), with the per-(query, doc) sum folded
    * in term order — no transcendental-library variance, so the oracle
    * hash-matches bitwise. Callers needing classic log-idf rankings pass
    * `logIdf = true` (spec-pinned semantics, ulp-variant scores).
    *
    * Plan shape at scale: ONE tokenize+explode pass builds the (doc,
    * term, tf) posting table (map-side combine eats duplicate terms);
    * df and dl both derive from it (no corpus rescan — the posting table
    * is materialized once, eager, cleaner-reclaimed); the query terms are
    * a tiny broadcast, so candidate generation is a broadcast join that
    * touches only postings of query terms; dl/df attach to CANDIDATE rows
    * only. The per-(query, doc) fold group is bounded by the query's
    * distinct term count, and the final top-k window ranks candidate-sized
    * data. The corpus-sized work is exactly the posting-table build — the
    * inverted-index construction any lexical engine pays once and, at
    * 100 TB, persists bucketed by term for reuse across query batches.
    *
    * `queries` carries (qidCol, qtextCol) and must be small (broadcast).
    * Output: (qidCol, idCol, score, rank ≤ k), score descending. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, qidCol: String, qtextCol: String, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               logIdf: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // Posting table (doc, term, tf) — three consumers (df, dl, scoring
    // join) read it, so materialize once instead of re-tokenizing the
    // corpus per consumer.
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
    // Both scalars in ONE agg → one broadcast crossJoin, not two jobs.
    // Exact integer sums/counts, so avgdl is one IEEE division on exact
    // inputs — identical in the mirror.
    val stats = dl.agg(count(lit(1)).as("__nd"), sum("dl").as("__tt"))
    val cand = tf
      .join(queryTerms(queries, qidCol, qtextCol), "term") // broadcast: only query-term postings survive
      .join(dfq, "term")            // candidate-sized probe of the vocab table
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(qidCol), col(idCol), col("term"),
        bm25Contrib(k1, b, logIdf).as("__v"))
    rankCandidates(cand, qidCol, idCol, k)
  }

  /** Adjacent-bigram PHRASE ranking — the proximity half of lexical
    * retrieval that bag-of-words BM25 cannot see: "merge join" as a
    * phrase is different evidence than `merge` and `join` scattered
    * across a document. Candidates are docs sharing ≥ 1 of the query's
    * adjacent token bigrams; the rank key is the count of DISTINCT
    * query bigrams the doc contains (exact integers — no weighting to
    * calibrate), ties by id. Compose with [[bm25TopK]] rank-wise via
    * [[Similarity.rrfFuse]] (no score mixing — the repo's fusion
    * convention, `text_phrase_retrieval`).
    *
    * Plan shape: ONE tokenize pass builds the distinct (doc, bigram)
    * table (map-side combine; the bigram table is the corpus-sized cost
    * — at scale, persist it bucketed by bigram like the BM25 postings);
    * query bigrams broadcast, so candidate generation touches only
    * matching bigrams' rows and scoring is candidate-sized. A
    * single-token query has no bigrams and contributes no rows (the
    * fusion degrades to pure BM25). Output: (qidCol, idCol,
    * phrase_hits, rank ≤ k). */
  def phraseTopK(docs: DataFrame, queries: DataFrame, idCol: String,
                 textCol: String, qidCol: String, qtextCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def bigrams(toks: Column) =
      when(size(toks) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
    val db = bigramRows(docs, idCol, textCol)
    val qb = broadcast(
      queries.select(col(qidCol), tokens(col(qtextCol)).as("__t"))
        .select(col(qidCol), explode(array_distinct(bigrams(col("__t")))).as("bigram")))
    val hits = db.join(qb, "bigram")
      .groupBy(qidCol, idCol).agg(count(lit(1)).as("phrase_hits"))
    val w = Window.partitionBy(qidCol).orderBy(col("phrase_hits").desc, col(idCol))
    hits.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** The distinct (id, bigram) rows [[phraseTopK]] and the phrase index
    * share — one tokenize pass, map-side-combined distinct. */
  private def bigramRows(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    def bigrams(toks: Column) =
      when(size(toks) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
    docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), explode(bigrams(col("__t"))).as("bigram"))
      .distinct()
  }

  /** Persist the phrase (distinct adjacent-bigram) index, bucketed by
    * `bigram` — the scale path [[phraseTopK]]'s scaladoc promises: the
    * corpus-sized bigram build happens ONCE and every query batch probes
    * only its bigrams' buckets. Same segment-ledger contract as every
    * other index family ([[graft.io.SegmentedIndex]]): exactly-once
    * appends ([[appendToPhraseIndex]]), latest-wins CDC maintenance
    * ([[updatePhraseIndex]]), probes that drop tombstoned versions.
    *
    * Ledger `n_docs` semantics: docs holding ≥ 1 indexed bigram (a
    * single-token doc is not an index member) — the SAME count at
    * build, append, update and compaction, like the LSH family's
    * sketched-doc count. It is INFORMATIONAL: unlike BM25's corpus
    * stats, no phrase probe derives a score from it, and CDC tombstones
    * for never-indexed ids (inserts, ghost deletes) are inert rows the
    * ledger arithmetic deliberately does not subtract. */
  def writePhraseIndex(docs: DataFrame, idCol: String, textCol: String,
                       table: String, buckets: Int): Unit = {
    val spark = docs.sparkSession
    val SI = graft.io.SegmentedIndex
    SI.resetGen(spark, table) // fresh build owns the plain names again
    val rows = bigramRows(docs, idCol, textCol)
      .withColumn(SI.SegCol, lit(0L)).localCheckpoint(true)
    // independent writes off the checkpointed rows — overlap (ledger last)
    graft.io.Overlap.awaitAll(Seq(
      () => graft.io.Bucketing.writeBucketed(rows, table, "bigram", buckets),
      () => SI.initTombstones(spark, table,
        rows.select(col(idCol), lit(0L).as("below_seg")))))
    SI.initLedger(spark, table, idCol,
      rows.select(col(idCol)).distinct().count(), 0L)
  }

  /** Append a NEW batch's bigram rows (ids must be new; changed docs go
    * through [[updatePhraseIndex]]). Ledger-gated, crash-resumable. */
  def appendToPhraseIndex(spark: org.apache.spark.sql.SparkSession,
                          docs: DataFrame, idCol: String, textCol: String,
                          table: String, buckets: Int, batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    if (SI.hasBatch(spark, t, batchId)) return
    val seg = SI.nextSeg(spark, t)
    val rows = bigramRows(docs, idCol, textCol).localCheckpoint(true)
    SI.appendSegment(spark, t, rows, "bigram", buckets, seg)
    SI.appendLedger(spark, t, seg, batchId,
      rows.select(col(idCol)).distinct().count(), 0L, idCol)
  }

  /** CDC maintenance: changed ids tombstone below this segment, upserts
    * re-derive bigram rows at it — O(change batch), not O(index). After
    * maintenance [[phraseAgainstIndex]] sees exactly a from-scratch
    * index over the merged corpus (oracle-checked,
    * `text_phrase_after_update`). */
  def updatePhraseIndex(spark: org.apache.spark.sql.SparkSession,
                        changes: DataFrame, idCol: String, textCol: String,
                        opCol: String, table: String, buckets: Int,
                        batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    if (SI.hasBatch(spark, t, batchId)) return
    val seg = SI.nextSeg(spark, t)
    // ONE evaluation of the caller's change plan (§2.4 — typically a
    // join/union tree, not a scan): rows and the tombstone ids would
    // otherwise each re-run it.
    val ch = changes.localCheckpoint(true)
    try {
      val rows = bigramRows(ch.where(col(opCol) =!= "D"), idCol, textCol)
        .localCheckpoint(true)
      // sorted bucketed append + the tiny unsorted tombstone append:
      // disjoint tables, checkpointed inputs, both seg-gated on replay —
      // the §2.6 one-heavy-plus-cheap overlap shape (the KEPT pairing;
      // two concurrent SORTED appends measured worse and stay sequential)
      graft.io.Overlap.awaitAll(Seq(
        () => SI.appendSegment(spark, t, rows, "bigram", buckets, seg),
        () => SI.tombstoneSegment(spark, t,
          ch.select(col(idCol)).distinct()
            .select(col(idCol), lit(seg).as("below_seg")), seg)))
      SI.appendLedger(spark, t, seg, batchId,
        rows.select(col(idCol)).distinct().count(), 0L, idCol)
    } finally ch.unpersist(blocking = false): Unit
  }

  /** Fold the phrase index's segments and tombstones into a fresh
    * segment-0 GENERATION, committed by the single generation-pointer
    * append ([[graft.io.SegmentedIndex.compact]] — crash on either side
    * of the commit leaves probes on a complete index). The fresh
    * ledger's n_docs recounts live indexed docs — the [[writePhraseIndex]]
    * semantics (docs holding ≥ 1 bigram), identical at every lifecycle
    * step, so the stat no longer drifts across compactions. */
  def compactPhraseIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, buckets: Int,
                         beforeCommit: () => Unit = () => (),
                         afterCommit: () => Unit = () => ()): Unit = {
    val SI = graft.io.SegmentedIndex
    val cur = SI.resolve(spark, table)
    val idCol = SI.idColOf(spark, cur)
    SI.compact(spark, table, buckets,
      Seq(SI.CompactTable("", "bigram", idCol, ownTombstones = true)),
      live => (live("").select(col(idCol)).distinct().count(), 0L),
      idCol, beforeCommit, afterCommit)
  }

  /** [[phraseTopK]] against the persisted index: the query's distinct
    * bigrams become a literal InSet on the bucket column (bucket-file
    * pruning + no index-side exchange — same plan claims as
    * [[bm25AgainstIndex]]), dead versions drop, and the distinct-hit
    * count + rank run candidate-sized. */
  def phraseAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, queries: DataFrame, qidCol: String,
                         qtextCol: String, k: Int,
                         maxProbedKeys: Int = DefaultMaxProbedKeys): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    val idCol = SI.idColOf(spark, t)
    def bigrams(toks: Column) =
      when(size(toks) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
    val qb = broadcast(
      queries.select(col(qidCol), tokens(col(qtextCol)).as("__t"))
        .select(col(qidCol), explode(array_distinct(bigrams(col("__t")))).as("bigram")))
    // Literal InSet on the bucket column → bucket-file pruning; the
    // collect is CAPPED (same guard as [[bm25AgainstIndex]]).
    val idx = SI.dropDead(
      probePruned(spark, t, "bigram", qb, maxProbedKeys),
      SI.tombstoneMax(spark, t, idCol), idCol)
    val hits = idx.join(qb, "bigram")
      .groupBy(qidCol, idCol).agg(count(lit(1)).as("phrase_hits"))
    val w = Window.partitionBy(qidCol).orderBy(col("phrase_hits").desc, col(idCol))
    hits.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Persist a BM25 index: the (doc, term, tf, dl, __seg) posting table
    * bucketed by `term` (dl denormalized onto each posting so the read
    * path never re-joins the corpus), a `<table>_docs` doc-length
    * sidecar bucketed by id (one row per doc version — the O(n_docs)
    * lookup table CDC maintenance reads instead of the postings), an
    * append-only `<table>_segments` ledger (one row per committed write:
    * exact integer doc/token contributions — see
    * [[graft.io.SegmentedIndex]]), and a `<table>_tombstones` table
    * (empty at build). The 100 TB shape: the inverted index builds ONCE
    * (the corpus-sized tokenize + partial-agg this pays), and every
    * query batch afterwards touches only its terms' buckets
    * ([[bm25AgainstIndex]]) — the same index-then-probe contract as
    * [[Dedup.writeLshIndex]] / [[Similarity.writeIvfIndex]]. df is NOT
    * stored: it is exactly the live posting count of a term, which the
    * probe recounts over the surviving postings of each probed term — so
    * appends and tombstones never leave a stale df behind. */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     table: String, buckets: Int): Unit = {
    val spark = docs.sparkSession
    val SI = graft.io.SegmentedIndex
    SI.resetGen(spark, table) // fresh build owns the plain names again
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
      .localCheckpoint(true) // postings join + docs sidecar + stats row
    // the three writes read the CHECKPOINTED tf/dl frames and target
    // distinct tables — overlap them; the ledger still publishes last
    graft.io.Overlap.awaitAll(Seq(
      () => graft.io.Bucketing.writeBucketed(
        tf.join(dl, idCol).withColumn(SI.SegCol, lit(0L)), table, "term", buckets),
      () => graft.io.Bucketing.writeBucketed(
        dl.withColumn(SI.SegCol, lit(0L)), table + "_docs", idCol, buckets),
      () => SI.initTombstones(spark, table,
        dl.select(col(idCol), lit(0L).as("below_seg"), col("dl")))))
    val s = dl.agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0L)).as("tt")).head()
    SI.initLedger(spark, table, idCol, s.getLong(0), s.getLong(1))
  }

  /** Append a new batch's postings to a persisted BM25 index, preserving
    * the term-bucket layout. Exactly-once under at-least-once delivery:
    * the write is ledger-gated on `batchId` (a replayed batch no-ops)
    * and crash-resumable (committed parts of a half-finished append are
    * detected by segment probes and skipped — see
    * [[graft.io.SegmentedIndex]]). Batch ids must be NEW document ids
    * (an id already live in the index would double its postings; route
    * re-deliveries of CHANGED documents through [[updateBm25Index]]).
    * An indexed-then-appended corpus scores bit-identically to a
    * from-scratch index over the union: ledger adds are exact integer
    * arithmetic and df is recounted per probe. Appends add one file per
    * non-empty bucket; compact a high-churn index with
    * [[compactBm25Index]]. */
  def appendToBm25Index(spark: org.apache.spark.sql.SparkSession,
                        docs: DataFrame, idCol: String, textCol: String,
                        table: String, buckets: Int, batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    if (SI.hasBatch(spark, t, batchId)) return
    val seg = SI.nextSeg(spark, t)
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl")).localCheckpoint(true)
    SI.appendSegment(spark, t, tf.join(dl, idCol), "term", buckets, seg)
    SI.appendSegment(spark, t + "_docs", dl, idCol, buckets, seg)
    val s = dl.agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0L)).as("tt")).head()
    SI.appendLedger(spark, t, seg, batchId, s.getLong(0), s.getLong(1), idCol)
  }

  /** CDC maintenance of a persisted BM25 index — the engine's own
    * latest-wins upsert/delete semantics propagated to the inverted
    * index at O(change batch) cost, NOT an O(index) rewrite: changed ids
    * are TOMBSTONED (`(id, below_seg = this segment)` — readers drop all
    * older versions), upserted documents re-append fresh postings at
    * this segment (their own tombstone does not kill them: `__seg` is
    * not below itself), and the ledger/tombstone pair keeps the corpus
    * stats exact (each killed version subtracts its own recorded dl —
    * looked up in the O(n_docs) `_docs` sidecar, never the postings).
    * After maintenance, [[bm25AgainstIndex]] is hash-identical to a
    * from-scratch index over the merged corpus (oracle-checked).
    *
    * `changes` is a MERGED change set — at most one row per id, the
    * shape [[graft.cdc.Merge.applySequenced]] emits — with `opCol` = "D"
    * for deletes (any other value upserts `textCol`). Ledger-gated on
    * `batchId` (replay no-ops) and crash-resumable like
    * [[appendToBm25Index]]; deleting an id that is not live is a no-op
    * (no tombstone, no stats drift). Tombstones accumulate until
    * [[compactBm25Index]] folds them away. */
  def updateBm25Index(spark: org.apache.spark.sql.SparkSession,
                      changes: DataFrame, idCol: String, textCol: String,
                      opCol: String, table: String, buckets: Int,
                      batchId: String): Unit = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    if (SI.hasBatch(spark, t, batchId)) return
    val seg = SI.nextSeg(spark, t)
    val docsT = t + "_docs"
    val tombT = SI.tombstoneTable(t)
    // ONE evaluation of the caller's change plan (§2.4): changedIds and
    // the postings derivation would otherwise each re-run it. Both are
    // materialized from it, so it is released right after (or on their
    // failure).
    val ch = changes.localCheckpoint(true)
    val (changedIds, tf) =
      try {
        val changedIds = ch.select(col(idCol)).distinct().localCheckpoint(true)
        // Fresh postings for the upserted documents, tagged with this segment.
        val tf = ch.where(col(opCol) =!= "D")
          .select(col(idCol), explode(tokens(col(textCol))).as("term"))
          .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
          .localCheckpoint(true)
        (changedIds, tf)
      } finally ch.unpersist(blocking = false): Unit
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl")).localCheckpoint(true)
    SI.appendSegment(spark, t, tf.join(dl, idCol), "term", buckets, seg)
    SI.appendSegment(spark, docsT, dl, idCol, buckets, seg)

    // Tombstone the LIVE prior version of every changed id (reads only
    // the doc-length sidecar — O(n_docs) rows of three columns, with the
    // change set broadcast; everything is restricted to pre-`seg` state
    // so a crash-resume re-derives identical rows). The recorded dl is
    // the exact token count the stats lose with that version.
    SI.tombstoneSegment(spark, t, {
      val prior = spark.table(docsT)
        .join(broadcast(changedIds), Seq(idCol), "left_semi")
        .where(col(SI.SegCol) < seg)
      val latest = prior.withColumn("__rn",
          row_number().over(Window.partitionBy(idCol).orderBy(col(SI.SegCol).desc)))
        .where(col("__rn") === 1).drop("__rn")
      val priorTombs = spark.table(tombT).where(col("below_seg") < seg)
        .join(broadcast(changedIds), Seq(idCol), "left_semi")
        .groupBy(idCol).agg(max("below_seg").as("__mb"))
      latest.join(priorTombs, Seq(idCol), "left")
        .where(col(SI.SegCol) >= coalesce(col("__mb"), lit(Long.MinValue)))
        .select(col(idCol), lit(seg).as("below_seg"), col("dl"))
    }, seg)

    val s = dl.agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0L)).as("tt")).head()
    SI.appendLedger(spark, t, seg, batchId, s.getLong(0), s.getLong(1), idCol)
  }

  /** Fold accumulated segments and tombstones into a fresh segment-0
    * index — the scheduled churn control (the probe's tombstone
    * broadcast and the appended-file count both reset). The fresh
    * generation is fully written first and committed by the SINGLE
    * generation-pointer append ([[graft.io.SegmentedIndex.compact]]):
    * a crash on either side of the commit leaves probes on a complete
    * generation (old or new), never the mixed index the previous
    * multi-table swap could expose. Ledger stats re-baseline by the
    * same ledger-minus-tombstones arithmetic the probe uses. */
  def maintainBm25IndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                table: String, buckets: Int,
                                maxSegments: Long = 16L,
                                maxTombstoneFraction: Double = 0.3)
      : Option[graft.io.SegmentedIndex.Health] = {
    // the BM25 twin of Dedup.maintainLshIndexIfNeeded — one readout
    // (SegmentedIndex.health), the family's own crash-atomic compact.
    // Compaction rebases the ledger but KEEPS batch-id memory (seg -1
    // memo rows, SegmentedIndex.compact), so a delivery replayed from
    // before it no-ops for BOTH batch shapes — append-shaped replays
    // are exactly-once too, and the maintenance hook is safe inside
    // any checkpointed loop.
    val h = graft.io.SegmentedIndex.health(spark, table)
    if (h.segments <= maxSegments && h.tombstoneFraction <= maxTombstoneFraction)
      None
    else { compactBm25Index(spark, table, buckets); Some(h) }
  }

  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       table: String, buckets: Int,
                       beforeCommit: () => Unit = () => (),
                       afterCommit: () => Unit = () => ()): Unit = {
    val SI = graft.io.SegmentedIndex
    val cur = SI.resolve(spark, table)
    val idCol = SI.idColOf(spark, cur)
    val stats = SI.liveLedgerStats(spark, cur)
    SI.compact(spark, table, buckets,
      Seq(SI.CompactTable("", "term", idCol, ownTombstones = true,
          tombExtraCols = Seq("dl")),
        SI.CompactTable("_docs", idCol, idCol, ownTombstones = false)),
      _ => stats, idCol, beforeCommit, afterCommit)
  }

  /** BM25 top-k against a persisted [[writeBm25Index]] index — the read
    * path that never re-scans the corpus: the query's distinct terms
    * become a LITERAL InSet filter on the term-bucketed posting table,
    * so the scan BUCKET-PRUNES to the probed terms' files
    * (SelectedBucketsCount ≤ probed terms — at 100 TB the probe opens
    * |probed buckets| of the inverted index, not all of it) and the
    * index side needs NO exchange — its bucket layout already satisfies
    * both the df window's and the join's partitioning, and the tombstone
    * exclusion is a broadcast join that preserves it. Dead versions are
    * dropped, df is recounted per probed term over its complete LIVE
    * postings, corpus stats come from the ledger minus the tombstoned
    * versions (exact integers), and scoring + top-k run over
    * candidate-sized data. Scores are bit-identical to [[bm25TopK]] on
    * the live corpus (spec- and oracle-asserted, including after
    * [[updateBm25Index]]). */
  def bm25AgainstIndex(spark: org.apache.spark.sql.SparkSession,
                       table: String, queries: DataFrame, qidCol: String,
                       qtextCol: String, k: Int, k1: Double = 1.2,
                       b: Double = 0.75, logIdf: Boolean = false,
                       maxProbedKeys: Int = DefaultMaxProbedKeys): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    val qt = queryTerms(queries, qidCol, qtextCol)
    // The probed terms as a LITERAL predicate, not (only) a join: the
    // query batch is a broadcast by contract, so its distinct terms are
    // driver-bounded (same sanction as the IVF probed-cluster list), and
    // a literal InSet on the bucket column lets the scan BUCKET-PRUNE —
    // only the probed terms' bucket FILES are opened
    // (SelectedBucketsCount, spec-asserted). A broadcast semi-join alone
    // filters rows but still reads every bucket file, which at 100 TB is
    // the difference between touching |probed buckets| and the whole
    // inverted index. The collect is CAPPED at `maxProbedKeys` — above
    // it, [[probePruned]] degrades to the broadcast semi-join instead of
    // an unbounded driver collect (the contract enforced, not assumed).
    val postings = probePruned(spark, t, "term", qt, maxProbedKeys)
    val idCol = SI.idColOf(spark, t) // ledger-recorded, never positional
    require(postings.columns.contains(idCol),
      s"index $table lacks its ledger-recorded id column '$idCol': " +
        postings.columns.mkString(", "))
    val led = SI.ledger(spark, t)
      .agg(coalesce(sum("n_docs"), lit(0L)).as("__ln"),
        coalesce(sum("total_tokens"), lit(0L)).as("__lt"))
    val tombAgg = SI.tombstones(spark, t)
      .agg(count(lit(1)).as("__tn"), coalesce(sum("dl"), lit(0L)).as("__td"))
    val stats = led.crossJoin(tombAgg)
      .select((col("__ln") - col("__tn")).as("__nd"),
        (col("__lt") - col("__td")).as("__tt"))
    val probed = SI.dropDead(postings,
      SI.tombstoneMax(spark, t, idCol), idCol)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    val cand = probed
      .join(qt, "term")
      .crossJoin(broadcast(stats))
      .select(col(qidCol), col(idCol), col("term"),
        bm25Contrib(k1, b, logIdf).as("__v"))
    rankCandidates(cand, qidCol, idCol, k)
  }

  /** Conjunctive (boolean AND) retrieval against a persisted BM25 index:
    * a document matches iff its LIVE postings cover every distinct query
    * term — the unranked filter step a retrieval stack runs before (or
    * instead of) scoring. Same probe path as [[bm25AgainstIndex]]: the
    * probed terms travel as a literal InSet so the scan opens only their
    * bucket files, tombstoned versions drop before matching, and the
    * match test is pure set arithmetic (matched distinct terms ==
    * query's distinct-term count) — integer-exact, no floats anywhere.
    * Output: (qidCol, id, n_terms). */
  def booleanAndAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, queries: DataFrame,
                             qidCol: String, qtextCol: String,
                             maxProbedKeys: Int = DefaultMaxProbedKeys): DataFrame = {
    val SI = graft.io.SegmentedIndex
    val t = SI.resolve(spark, table)
    val qt = queryTerms(queries, qidCol, qtextCol)
    val postings = probePruned(spark, t, "term", qt, maxProbedKeys)
    val idCol = SI.idColOf(spark, t)
    require(postings.columns.contains(idCol),
      s"index $table lacks its ledger-recorded id column '$idCol': " +
        postings.columns.mkString(", "))
    val live = SI.dropDead(postings, SI.tombstoneMax(spark, t, idCol), idCol)
    val need = broadcast(qt.groupBy(qidCol)
      .agg(count_distinct(col("term")).as("__need")))
    live.join(qt, "term")
      .groupBy(col(qidCol), col(idCol))
      .agg(count_distinct(col("term")).as("n_terms"))
      .join(need, qidCol)
      .where(col("n_terms") === col("__need"))
      .select(col(qidCol), col(idCol), col("n_terms"))
  }

  /** Cap on the probed-key collect (enforcing the 'query batch is
    * broadcast-sized' contract instead of assuming it): up to this many
    * distinct keys become a literal InSet on the bucket column
    * (bucket-FILE pruning — the scan opens only probed buckets); a
    * larger batch falls back to the broadcast semi-join, which filters
    * the same rows but opens every bucket file — graceful degradation
    * instead of an unbounded driver collect / giant InSet expression. */
  val DefaultMaxProbedKeys = 10000

  /** Bucket-pruned index scan for a probe-key set, with the InSet→
    * semi-join fallback above `maxProbedKeys` distinct keys. */
  private def probePruned(spark: org.apache.spark.sql.SparkSession,
                          physTable: String, keyCol: String,
                          probeKeys: DataFrame, maxProbedKeys: Int): DataFrame = {
    require(maxProbedKeys >= 1, s"maxProbedKeys must be >= 1: $maxProbedKeys")
    val keys = probeKeys.select(keyCol).distinct()
      .limit(maxProbedKeys + 1).collect().map(_.getString(0))
    val scan = graft.io.Bucketing.readBucketed(spark, physTable)
    if (keys.length <= maxProbedKeys)
      scan.where(col(keyCol).isin(keys.toSeq: _*))
    else
      scan.join(broadcast(probeKeys.select(keyCol).distinct()),
        Seq(keyCol), "left_semi")
  }

  /** The broadcast (qid, distinct term) expansion both paths probe with. */
  private def queryTerms(queries: DataFrame, qidCol: String,
                         qtextCol: String): DataFrame =
    broadcast(queries.select(col(qidCol),
      explode(array_distinct(tokens(col(qtextCol)))).as("term")))

  /** The per-(query, doc, term) BM25 contribution over bound columns
    * (tf, df, dl, __nd, __tt) — ONE expression shared by the recompute
    * and against-index paths (and mirrored verbatim in the oracle SQL).
    * `logIdf = true` switches to textbook log idf
    * `ln((N − df + 0.5)/(df + 0.5))` — the classic Robertson weighting a
    * consumer of standard BM25 rankings expects. The log is monotone in
    * the rational argument, so single-term rankings are IDENTICAL
    * (spec-asserted); multi-term sums differ (the rational variant
    * weights rare terms more steeply) and `ln` carries engine-level ulp
    * variance, so log-idf results are spec-pinned rather than
    * hash-oracled (the repo's exactness convention). */
  private def bm25Contrib(k1: Double, b: Double,
                          logIdf: Boolean = false): Column = {
    val avgdl = col("__tt").cast("double") / col("__nd").cast("double")
    val ratio = (col("__nd").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val idf = if (logIdf) log(ratio) else ratio
    idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
  }

  /** Fold the ≤|query terms| contributions per (query, doc) in term order
    * (deterministic, bounded — same contract as Similarity's sliced
    * folds), then rank per query. */
  private def rankCandidates(cand: DataFrame, qidCol: String, idCol: String,
                             k: Int): DataFrame = {
    val scored = cand.groupBy(qidCol, idCol)
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("__v").as("v")))),
        lit(0.0), (acc, s) => acc + s.getField("v")).as("score"))
    val w = Window.partitionBy(qidCol).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }
}
