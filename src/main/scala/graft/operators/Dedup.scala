package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for training-data curation: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard. Designed for the 100 TB shape:
  * everything before the (small) candidate-pair join is map-side or a
  * single hash aggregate; no operator ever forms the full cross product.
  *
  * All hashing is md5-derived (SURVEY §4) so every stage is replicable in
  * the DuckDB oracle — MinHash permutes one 60-bit md5 prefix per shingle
  * through k Carter–Wegman hashes, SimHash uses 60-bit md5-prefix
  * integers.
  */
object Dedup {

  /** Materialization barrier for signature tables (the anti-inlining
    * barrier every self-join here needs — see ngramJaccardPairs).
    * Default is `localCheckpoint`: fast, block-manager-local — right for
    * local iteration, but non-replicated, so on a 1000-executor cluster
    * one lost executor fails the query with no recompute path. Pass a
    * path to persist the signature table to reliable storage instead —
    * it is the table you would keep anyway.
    *
    * Checkpoint blocks are registered with [[graft.runtime.Checkpoints]]:
    * they must outlive this call (the returned lazy frame reads them), so
    * the HARNESS frees them — `Checkpoints.release()` after the query's
    * terminal action. Without that release every execution leaks one
    * table of storage blocks into the block manager for the life of the
    * JVM (localCheckpoint truncates lineage, so Spark itself can never
    * drop them).
    */
  def materialize(df: DataFrame, path: Option[String]): DataFrame =
    path match {
      case Some(p) =>
        df.write.mode("overwrite").parquet(p)
        df.sparkSession.read.parquet(p)
      case None => graft.runtime.Checkpoints.track(df.localCheckpoint())
    }

  /** Test hook: thread names that issued async round-state writes — the
    * evidence that the durable write left the loop thread (see
    * [[AsyncStateWriter]]).
    */
  private[graft] val stateWriteThreads =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Double-buffered reliable-state writer for the iterative CC loops.
    *
    * The serial shape — write round i's frontier to parquet, read it
    * back, only then start round i+1 — costs one full write+read barrier
    * per round (14 rounds = 14 serial barriers, the scale lever the
    * round-5 audit named). Here `materialize` returns a block-manager
    * checkpoint the next round consumes IMMEDIATELY while the durable
    * parquet copy writes on a background thread: round i+1's compute
    * overlaps round i's state write. At most one write is in flight
    * (the previous is awaited before the next kicks — double buffer), so
    * a slow filesystem back-pressures the loop instead of queueing
    * unbounded work. `finish()` barriers on the tail write, so by return
    * every round's table is durable — same contract as the serial form.
    * A failure mid-loop recovers from the last COMPLETED round's parquet
    * and recomputes at most one round: the standard
    * write-behind-checkpoint trade.
    */
  private final class AsyncStateWriter {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    private var pending: Option[Future[Unit]] = None
    private var lastPath: Option[String] = None

    def materialize(df: DataFrame, path: Option[String]): DataFrame = path match {
      case None => graft.runtime.Checkpoints.track(df.localCheckpoint())
      case Some(p) =>
        // materialize the NEW frontier first (it consumes the previous
        // one), then barrier on the previous round's durable write — by
        // the time this returns, round i-1's checkpoint has no remaining
        // consumer and the loop may free it (rolling release)
        val ck = graft.runtime.Checkpoints.track(df.localCheckpoint())
        awaitPending()
        lastPath = Some(p)
        pending = Some(Future {
          stateWriteThreads.add(Thread.currentThread().getName)
          ck.write.mode("overwrite").parquet(p)
        })
        ck
    }

    private def awaitPending(): Unit = {
      pending.foreach(Await.result(_, Duration.Inf))
      pending = None
    }

    /** Barrier on the tail write; returns the last durable table (so the
      * caller can hand consumers a frame rooted on reliable storage, as
      * the serial form did), or `fallback` when no path was ever given.
      */
    def finish(fallback: DataFrame): DataFrame = {
      awaitPending()
      lastPath match {
        case Some(p) =>
          // the result re-roots on reliable storage, so the tail round's
          // checkpoint has no remaining consumer — free it here instead
          // of leaving it for the harness release
          val durable = fallback.sparkSession.read.parquet(p)
          graft.runtime.Checkpoints.free(fallback)
          durable
        case None => fallback
      }
    }

    /** Barrier without switching lineage (error paths). */
    def finishQuietly(): Unit =
      try awaitPending() catch { case _: Throwable => () }
  }

  /** Exact dedup on normalized-content fingerprint: one row per distinct
    * content, keeping the smallest id (deterministic representative).
    * Single hash aggregate — the canonical 100 TB exact-dedup plan.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles from an already-materialized token array
    * (distinct). Callers must bind the token array to a named column
    * first: inlining `tokens(text)` here would copy the regex+split tree
    * into every lambda reference — measured 30× codegen-compile cost.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
        .otherwise(array(concat_ws(" ", toks))))

  /** (doc_id, shingle) pairs, one row per distinct shingle per doc. */
  def explodedShingles(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(shinglesFromTokens(col("__toks"), n)).as("sh"))

  /** MinHash signatures: k min-permutation slots per doc (one md5 per
    * shingle + k Carter–Wegman permutations — see
    * [[graft.plans.MinHashSlots]]), computed MAP-SIDE in one pass over
    * the shingle array — zero shuffle (the aggregate formulation explodes
    * every shingle and shuffles (doc, shingle) rows).
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleN: Int): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    // shingling fused into the kernel ([[graft.plans.MinHashSlotsTokens]]):
    // the declarative transform+concat_ws shingle build is an interpreted
    // HOF and materializes a shingle array per row; duplicates need no
    // array_distinct because min over a multiset = min over its set
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        call_function("minhash_slots_tokens", col("__toks"),
          lit(shingleN), lit(numHashes)).as("__slots"))
      .select(col(idCol) +: (0 until numHashes).map(j =>
        element_at(col("__slots"), j + 1).as(s"mh$j")): _*)
  }

  /** MinHash LSH candidate pairs: docs agreeing on at least one band.
    * Bands are md5(concat of rowsPerBand signature slots); the self-join
    * runs per (band index, band value) — the only shuffle keyed on band,
    * never on the full signature space.
    *
    * @param maxBucketSize skip degenerate buckets with more members than
    *   this: a bucket of m docs yields m² candidate pairs, so one
    *   boilerplate-text bucket can dominate the whole join at scale. The
    *   standard LSH-dedup guard; skipped buckets are (deterministically)
    *   not candidates.
    * @param broadcastOversized hint the oversized-bucket set broadcast
    *   (default — boilerplate buckets are normally few); pass false for
    *   corpora where degenerate buckets are themselves huge so AQE's
    *   size-based planning picks the anti-join side.
    */
  /** The LSH band table (id, band, sig) of a corpus: materialized
    * signatures ([[minHashSignatures]]) exploded into numHashes /
    * rowsPerBand md5 band signatures per doc. This is the table a
    * cluster deployment PERSISTS as its near-dup index — [[minHashPairs]]
    * self-joins it, [[incrementalDedup]] joins a new batch against it.
    */
  private[graft] def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                                      numHashes: Int, shingleN: Int, rowsPerBand: Int,
                                      sigPath: Option[String] = None): DataFrame = {
    requireBanding(numHashes, rowsPerBand)
    // materialized once (ndocs × k longs): the signature table feeds the
    // band explode and is the anti-inlining barrier for the md5 tree —
    // see ngramJaccardPairs
    bandsOf(materialize(
      minHashSignatures(docs, idCol, textCol, numHashes, shingleN), sigPath),
      idCol, numHashes, rowsPerBand)
  }

  private[graft] def requireBanding(numHashes: Int, rowsPerBand: Int): Unit =
    require(numHashes > 0 && rowsPerBand > 0 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand) — " +
        "a remainder would silently drop signature slots from banding")

  /** The band explode of [[bandedSignatures]] over a signature table
    * ([[minHashSignatures]]' columns): exactly numHashes / rowsPerBand
    * (id, band, sig) rows per doc, whatever its text.
    */
  private[graft] def bandsOf(sigs: DataFrame, idCol: String,
                             numHashes: Int, rowsPerBand: Int): DataFrame = {
    requireBanding(numHashes, rowsPerBand)
    val numBands = numHashes / rowsPerBand
    sigs.select(col(idCol),
      explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|", (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)).as("sig"))
      }: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Drop band buckets larger than maxBucketSize — the standard LSH
    * degenerate-bucket guard (see [[minHashPairs]]), via aggregate +
    * broadcast ANTI join: the oversized-bucket set is tiny, so this
    * avoids the full sort a `count(*) over (partition by band, sig)`
    * window would insert.
    */
  private[graft] def capBuckets(banded: DataFrame, maxBucketSize: Int,
                                broadcastOversized: Boolean): DataFrame = {
    val oversized = banded.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("__bsize"))
      .filter(col("__bsize") > maxBucketSize)
      .select(col("band"), col("sig"))
    banded.join(
      if (broadcastOversized) broadcast(oversized) else oversized,
      Seq("band", "sig"), "left_anti")
  }

  def minHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 8, shingleN: Int = 3, rowsPerBand: Int = 2,
                   maxBucketSize: Int = 64,
                   sigPath: Option[String] = None,
                   broadcastOversized: Boolean = true): DataFrame = {
    val banded = capBuckets(
      bandedSignatures(docs, idCol, textCol, numHashes, shingleN, rowsPerBand, sigPath),
      maxBucketSize, broadcastOversized)
    // repartition BEFORE aliasing: both self-join branches then hang off
    // an identical Exchange subtree → ReusedExchange computes the banded
    // signatures once, and the join needs no further shuffle
    val common = banded.repartition(col("band"), col("sig"))
    val a = common.select(col(idCol).as("doc_a"), col("band"), col("sig"))
    val b = common.select(col(idCol).as("doc_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** INCREMENTAL dedup: screen a new batch of docs against an existing
    * corpus's near-dup index without re-pairing the corpus with itself —
    * the steady-state shape of a production ingestion pipeline, where the
    * corpus band table ([[bandedSignatures]], persisted via
    * `corpusBandsPath`) is built once and every arriving batch joins
    * against it.
    *
    * One row per batch doc: the number of distinct corpus docs sharing at
    * least one LSH band, the smallest such corpus doc id (null if none),
    * and the keep verdict. The batch side is never self-paired — batch-
    * internal duplicates are [[minHashPairs]]' job on the accepted docs.
    *
    * The bucket cap applies to the CORPUS side (that is where boilerplate
    * accumulates; a capped bucket means "this band is too common to be
    * dedup signal", so batch rows landing in it simply find no match) —
    * batch bands are joined as-is.
    *
    * At 100 TB: the corpus band table is a bucketed/persisted index; the
    * join shuffles only the (small) batch bands against it, and the
    * aggregate is keyed on batch doc ids — corpus data never moves.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       numHashes: Int = 8, shingleN: Int = 3, rowsPerBand: Int = 2,
                       maxBucketSize: Int = 64,
                       corpusBandsPath: Option[String] = None,
                       broadcastOversized: Boolean = true): DataFrame = {
    val corpusBands = capBuckets(
      bandedSignatures(corpus, idCol, textCol, numHashes, shingleN, rowsPerBand,
        corpusBandsPath),
      maxBucketSize, broadcastOversized)
    val batchBands = bandedSignatures(batch, idCol, textCol, numHashes, shingleN, rowsPerBand)
    screen(batchBands, corpusBands, idCol)
  }

  /** The screening stage of [[incrementalDedup]]: batch band rows LEFT
    * join the (already capped) corpus band table, aggregated to one
    * verdict row per batch doc. Shared with the streaming ingestion sink.
    */
  private[graft] def screen(batchBands: DataFrame, corpusBands: DataFrame,
                            idCol: String): DataFrame =
    batchBands
      .join(corpusBands.select(col(idCol).as("__cid"), col("band"), col("sig")),
        Seq("band", "sig"), "left")
      .groupBy(col(idCol))
      .agg(countDistinct(col("__cid")).as("n_corpus_dups"),
        min(col("__cid")).as("nearest_dup"))
      .withColumn("keep", col("n_corpus_dups") === 0)

  /** Benchmark decontamination: flag training docs sharing any word
    * n-gram with a benchmark/eval corpus (the standard guard against
    * test-set leakage into training data). Returns one row per
    * contaminated training doc with its shingle count, the number of
    * shingles also present in the benchmark, and the contamination ratio.
    *
    * Shape: both sides explode to (doc, shingle-hash) rows; the benchmark
    * side collapses to DISTINCT hashes (small — the eval set is orders of
    * magnitude smaller than training data) and the join is a hash join on
    * the 60-bit shingle hash. At 100 TB the benchmark hash set broadcasts
    * and contamination checking is a map-side lookup over the training
    * scan — no shuffle of training data at all.
    */
  /** @param broadcastBenchmark hint the benchmark hash set broadcast-side
    *   (the default — eval sets are orders of magnitude smaller than
    *   training data); pass false for a large benchmark so AQE's
    *   size-based planning picks the join, instead of forcing a
    *   driver-OOM-sized broadcast.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 5,
                    broadcastBenchmark: Boolean = true): DataFrame = {
    val trainSh = explodedShingles(train, idCol, textCol, shingleN)
      .select(col(idCol), hash60(col("sh")).as("h"))
    val benchSh = explodedShingles(benchmark, idCol, textCol, shingleN)
      .select(hash60(col("sh")).as("h")).distinct()
      .withColumn("__hit", lit(1L))
    trainSh
      .join(if (broadcastBenchmark) broadcast(benchSh) else benchSh, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .withColumn("contamination", round(col("n_contaminated") / col("n_sh"), 6))
  }

  /** Cross-document SPAN duplication report — the span-granular form of
    * exact substring dedup (Lee et al. '22 deduplicate at 50-token
    * granularity because document-level dedup misses shared boilerplate
    * inside otherwise-distinct pages). A span = an n-token shingle; a
    * span is DUPLICATED when it occurs in ≥ 2 documents. Returns one row
    * per doc: (id, n_spans, n_dup_spans, dup_ratio) — the corpus-health
    * signal that drives span-level cut lists.
    *
    * Shape at 100 TB: spans ship as 60-bit hashes (8 bytes, not token
    * text); the doc-frequency side filters to df ≥ 2 BEFORE the join
    * back, so the joined posting table carries only duplicated spans —
    * a small fraction of all postings when duplication is rare (and the
    * join is left-preserving, so clean docs still report). The posting
    * table feeds BOTH the df aggregate and the join probe, so it
    * materializes once ([[materialize]]: `postingsPath` for reliable
    * storage, localCheckpoint otherwise) — without it the corpus scan +
    * explode + md5 would run twice. Two hash-keyed shuffles + one
    * doc-keyed aggregate, all map-side combined.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3,
               postingsPath: Option[String] = None): DataFrame = {
    val sp = materialize(
      explodedShingles(docs, idCol, textCol, shingleN)
        .select(col(idCol), hash60(col("sh")).as("h")), postingsPath)
    val dup = sp.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    sp.join(dup, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df").isNotNull, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio", round(col("n_dup_spans") / col("n_spans"), 6))
  }

  /** Span CUT LIST — the APPLY half of span-granular dedup
    * ([[dupSpans]] reports; this says exactly WHAT to remove): per doc,
    * the merged token-index intervals `[cut_start, cut_end)` covered by
    * cross-doc duplicated n-token spans, plus how many duplicated spans
    * each interval merged. Positional (within-doc repeats of a
    * cross-doc-duplicated span are all cut); duplication itself is
    * cross-doc only (distinct (doc, span) pairs feed the frequency
    * count, so a span repeated only inside one doc is NOT duplicated).
    *
    * Shape at 100 TB: positional span hashes are built by ONE
    * transform+posexplode (no per-span string table leaves the map
    * side — the hash is computed inside the lambda); the df side
    * filters to df ≥ 2 before the semi join back, and interval merging
    * is the classic gap-and-islands pair of windows over (doc, start) —
    * partitioned by doc, so parallel across the corpus.
    */
  def spanCuts(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3): DataFrame = {
    val pos = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= shingleN)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__t")) - shingleN),
        i => hash60(concat_ws(" ", slice(col("__t"), i + 1, lit(shingleN)))))))
      .withColumnRenamed("pos", "s").withColumnRenamed("col", "h")
    val dup = pos.select(col(idCol), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select(col("h"))
    val hits = pos.join(dup, Seq("h"), "left_semi")
      .select(col(idCol), col("s").cast("long").as("s"),
        (col("s") + shingleN).cast("long").as("e"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"))
    val prevMaxEnd = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__brk", when(col("s") > coalesce(prevMaxEnd, lit(-1L)), 1).otherwise(0))
      .withColumn("__g", sum(col("__brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("s")).as("cut_start"), max(col("e")).as("cut_end"),
        count(lit(1)).as("n_spans"))
      .drop("__g")
  }

  /** BROADCAST decontamination — the zero-shuffle twin of
    * [[decontaminate]] for benchmark sets that fit a plan literal: the
    * benchmark's distinct shingle hashes collect ONCE into a sorted
    * array literal, and each training row intersects its own sorted
    * shingle-hash array with it through the codegen'd merge kernel
    * ([[graft.plans.SortedIntersectCount]]) — no explode, no join, no
    * shuffle of training data, and the same map-side screen runs
    * UNCHANGED inside a streaming micro-batch (stateless). Results ≡
    * [[decontaminate]] (shingles are distinct per doc on both paths).
    *
    * Size guard: the literal is 8 bytes per distinct benchmark shingle —
    * fine for eval sets (what decontamination screens against); a
    * benchmark beyond plan-literal size should use [[decontaminate]]'s
    * join form.
    */
  def decontaminateBroadcast(train: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String,
                             shingleN: Int = 5): DataFrame = {
    graft.plans.GraftExtensions.register(train.sparkSession)
    val bench: Array[Long] = explodedShingles(benchmark, idCol, textCol, shingleN)
      .select(hash60(col("sh")).as("h")).distinct()
      .collect().map(_.getLong(0)).sorted
    // minJaccard only shapes prefix_len, unused here — hs + n_sh are the
    // same sorted distinct-hash signature decontaminate's counts define
    hashSignatures(train, idCol, textCol, shingleN, minJaccard = 0.5)
      .select(col(idCol), col("n_sh").cast("long").as("n_sh"),
        call_function("sorted_intersect_count", col("hs"), typedlit(bench))
          .as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .withColumn("contamination", round(col("n_contaminated") / col("n_sh"), 6))
  }

  /** Near-duplicate CLUSTERS from a candidate-pair table: connected
    * components labeled by the minimum reachable doc id — the step that
    * turns pairwise near-dup hits into "keep one per group". Iterative
    * min-label propagation (the hash-to-min idea of Rastogi et al.,
    * ICDE'13): each round every node takes the min label among itself and
    * its neighbors; converges in O(component diameter) rounds.
    *
    * Each round is one join + one aggregation keyed on the node id, with
    * the label frontier localCheckpoint'ed so lineage stays flat — the
    * standard Spark iterative-graph shape (what GraphX does under the
    * hood), fully deterministic, safe at 100 TB where near-dup components
    * are many and shallow. Driver sees only the per-round converged count.
    */
  /** @param failOnNonConvergence a component with diameter > maxIters
    *   would otherwise be silently split into several cluster_ids; fail
    *   loudly by default (long near-dup chains do happen in web corpora).
    * @param statePath reliable storage for the per-round label frontier
    *   (round i at `statePath/labels_i`). Default localCheckpoint is
    *   block-manager-local and NON-REPLICATED: on a 1000-executor cluster
    *   one lost executor kills a 20-round job with no recompute path — a
    *   cluster deployment should always pass a checkpoint dir.
    * @param checkEvery probe convergence every K rounds instead of every
    *   round: each probe is a driver-blocking action, and min-label rounds
    *   are cheap relative to an action barrier at scale. Worst case runs
    *   K−1 extra (no-op) rounds after the fixpoint.
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
                  maxIters: Int = 25,
                  failOnNonConvergence: Boolean = true,
                  statePath: Option[String] = None,
                  checkEvery: Int = 1): DataFrame = {
    require(checkEvery >= 1, s"checkEvery must be >= 1, got $checkEvery")
    // the edge table is a prerequisite of EVERY round — keep its durable
    // write synchronous (materialize); only the per-round frontiers go
    // through the double-buffered writer
    val edges = materialize(
      pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
        .union(pairs.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
        .distinct(),
      statePath.map(p => s"$p/edges"))
    val writer = new AsyncStateWriter
    // fold the first propagation round into initialization: the round-1
    // frontier is exactly min(self, neighbors), one aggregate over the
    // bidirectional edge set — vs a distinct node scan PLUS a full
    // join+agg round (one fewer materialized frontier and one fewer join)
    var labels = writer.materialize(
      edges.groupBy(col("u"))
        .agg(min(col("v")).as("__nmin"))
        .select(col("u").as("doc"), least(col("u"), col("__nmin")).as("lab")),
      statePath.map(p => s"$p/labels_init"))
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("doc").as("v"), col("lab").as("vlab")), "v")
        .groupBy(col("u")).agg(min(col("vlab")).as("nmin"))
      // carry a per-row changed flag so convergence is read off the
      // materialized frontier — no extra join-with-previous per round
      val next = writer.materialize(
        labels
          .join(neighborMin.select(col("u").as("doc"), col("nmin")), Seq("doc"), "left")
          .select(col("doc"),
            least(col("lab"), coalesce(col("nmin"), col("lab"))).as("lab"),
            (coalesce(col("nmin"), col("lab")) < col("lab")).as("__changed")),
        statePath.map(p => s"$p/labels_$it"))
      if (it % checkEvery == checkEvery - 1 || it == maxIters - 1)
        converged = next.filter(col("__changed")).isEmpty
      // rolling release: round i's frontier has no consumer left once
      // round i+1 materialized (and, with a statePath, its durable write
      // completed inside writer.materialize above) — free it now so the
      // loop holds at most TWO frontiers of blocks, not one per round
      graft.runtime.Checkpoints.free(labels)
      labels = next.drop("__changed")
      it += 1
    }
    if (!converged && failOnNonConvergence) {
      writer.finishQuietly()
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIters iterations — a " +
          "component has diameter > maxIters; raise maxIters")
    }
    // barrier on the tail write; with a statePath the returned frame
    // roots on the last durable round table (reliable-storage lineage,
    // same as the serial form)
    val out = writer.finish(labels)
      .select(col("doc").as("doc_id"), col("lab").as("cluster_id"))
    // every round consumed the edge table; the result's lineage is a
    // checkpoint (or parquet), so edges' blocks are dead weight now
    graft.runtime.Checkpoints.free(edges)
    out
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log n) rounds regardless of component
    * DIAMETER, where min-label propagation ([[dupClusters]]) needs one
    * round per hop — a 10k-link near-dup chain (common in scraped
    * boilerplate) finishes in ~14 rounds instead of 10k.
    *
    * Each round is two groupBy-min + join passes over the edge set,
    * which only shrinks toward the star form (node → component min).
    * Returns the same (doc_id, cluster_id) contract as [[dupClusters]].
    */
  def dupClustersStar(pairs: DataFrame, aCol: String, bCol: String,
                      maxIters: Int = 20,
                      statePath: Option[String] = None): DataFrame = {
    val writer = new AsyncStateWriter
    var edges = writer.materialize(
      pairs
        .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct(),
      statePath.map(p => s"$p/edges_init"))
    // one-aggregate edge-set summary for the convergence probe: (count,
    // xor of 64-bit row hashes) is order-independent and changes whenever
    // the set does (up to a 2^-64 collision, which the exact exceptAll
    // confirm below closes) — vs the previous count()+exceptAll pair that
    // cost two full-set actions per round
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edgeStats = stats(edges)
    var it = 0
    var converged = edgeStats._1 == 0L
    while (!converged && it < maxIters) {
      // LARGE-STAR: every node links its larger neighbors to its min
      val bidir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // the distinct LOOKS redundant (the small-star min aggregate is
      // duplicate-insensitive and the round output ends in a distinct)
      // but measurably pays for itself: high-degree nodes emit one
      // (v, m) row per incident edge, and collapsing them here shrinks
      // every downstream pass of the round (A/B-measured at sf0.1)
      val large = bidir.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // SMALL-STAR: every node links its smaller neighbors (and itself)
      // to the min of those neighbors
      val dir = large.select(greatest(col("a"), col("b")).as("p"),
        least(col("a"), col("b")).as("q"))
      val minq = dir.groupBy(col("p")).agg(min(col("q")).as("m"))
      val small = writer.materialize(
        dir.join(minq, "p")
          .select(col("q").as("x"), col("m").as("y"))
          .union(minq.select(col("p").as("x"), col("m").as("y")))
          .filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
          .distinct(),
        statePath.map(p => s"$p/edges_$it"))
      // one aggregate action per round; the exact set-difference confirm
      // runs only when the summary already matches (i.e. at the fixpoint)
      val smallStats = stats(small)
      converged = smallStats == edgeStats && small.exceptAll(edges).isEmpty
      edgeStats = smallStats
      // rolling release — AFTER the exceptAll confirm above, which is the
      // last consumer of the previous round's edge set
      graft.runtime.Checkpoints.free(edges)
      edges = small
      it += 1
    }
    if (!converged) {
      writer.finishQuietly()
      throw new IllegalStateException(
        s"dupClustersStar did not converge in $maxIters rounds")
    }
    // barrier on the tail write; root the result on the last durable
    // edge table when a statePath is given (both consumers below share
    // its scan)
    val finalEdges = writer.finish(edges)
    // converged star form: every edge is (root=component min, node)
    finalEdges.select(col("v").as("doc_id"), col("u").as("cluster_id"))
      .union(finalEdges.select(col("u")).distinct()
        .select(col("u").as("doc_id"), col("u").as("cluster_id")))
  }

  /** 60-bit SimHash per doc: sign-sum of token-hash bits.
    *
    * Computed entirely MAP-SIDE: token md5s are materialized once per row
    * as an array, then each bit's tally is a codegen'd filter/size over
    * that array. No explode, no shuffle — a pure projection that scales
    * with input splits, vs. the textbook explode + 60-column groupBy
    * which shuffles every token.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), transform(col("__toks"), t => hash60(t)).as("__hs"))
      .select(col(idCol), call_function("simhash_bits", col("__hs")).as("simhash"))
  }

  /** SimHash near-dup candidates: equal high-bit bucket, Hamming
    * distance ≤ maxHamming (native bit_count(xor)). The bucket prefix is
    * the LSH band — at scale the join shuffles only (bucket) groups.
    */
  /** The pair stage over an already-built `(idCol, simhash)` relation —
    * shared by the fixed-width and corpus-scaled forms so the scaled
    * derivation can count the MATERIALIZED signatures instead of
    * re-evaluating the corpus lineage.
    */
  private def simHashPairsFrom(sh0: DataFrame, idCol: String,
                               bucketBits: Int, maxHamming: Int,
                               sigPath: Option[String]): DataFrame = {
    val sh = materialize(
      sh0.withColumn("bucket", shiftright(col("simhash"), 60 - bucketBits)),
      sigPath)
      .repartition(col("bucket"))
    val a = sh.select(col(idCol).as("doc_a"), col("simhash").as("sh_a"), col("bucket"))
    val b = sh.select(col(idCol).as("doc_b"), col("simhash").as("sh_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bucketBits: Int = 16, maxHamming: Int = 8,
                   sigPath: Option[String] = None): DataFrame =
    // materialize the (id, simhash, bucket) table once: both join branches
    // read it, and the barrier keeps the md5 tree out of the join stage
    // (see ngramJaccardPairs)
    simHashPairsFrom(simHash(docs, idCol, textCol), idCol, bucketBits,
      maxHamming, sigPath)

  /** [[simHashPairs]] with the bucket width DERIVED from the corpus
    * (the bounded default — [[Similarity.scaledBucketBits]]): bits =
    * ceil(log2(n/targetBucketRows)), so expected bucket occupancy stays
    * ~target at any corpus size and the within-bucket candidate volume
    * is ~n·target/2, LINEAR — a fixed width grows it n²/2B (the same
    * quadratic the r16 EmbedPairsProbe measured on the embedding twin:
    * 100.6× candidates for 10× rows). Buckets are simhash PREFIXES, so
    * widening only splits buckets: exact dups (identical simhash) share
    * every width, and a pair lost at width b is lost at every wider b —
    * the recall trade is monotone and spec-pinned. Capped at 48 bits
    * (the 60-bit simhash must keep low bits out of the bucket).
    */
  def simHashPairsScaled(docs: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 8, targetBucketRows: Long = 256,
                         sigPath: Option[String] = None): DataFrame = {
    // materialize the (id, simhash) signatures FIRST (two longs per row)
    // and count THOSE — the width derivation never re-evaluates the
    // corpus lineage (a second full md5 pass at scale)
    val sh0 = materialize(simHash(docs, idCol, textCol), None)
    val n = sh0.count()
    val bits = math.min(48,
      Similarity.scaledBucketBits(n, targetBucketRows))
    simHashPairsFrom(sh0, idCol, bits, maxHamming, sigPath)
  }

  /** Per-doc ascending-sorted array of distinct 60-bit shingle hashes —
    * the set-similarity signature, computed entirely MAP-SIDE (tokenize →
    * shingle → md5-60bit → sort, one projection; no explode, no shuffle).
    * Hash order is the global token order for prefix filtering: ANY fixed
    * total order keeps the prefix theorem exact, and hash order needs no
    * corpus-frequency pass. (md5-60bit is collision-checked against the
    * oracle's string semantics; at 2M distinct shingles the birthday bound
    * is ~1e-6.)
    */
  private[graft] def hashSignatures(docs: DataFrame, idCol: String, textCol: String,
                                    shingleN: Int, minJaccard: Double): DataFrame =
    // fused kernel ([[graft.plans.SortedShingleHashes]]): shingle → md5 →
    // sort → dedupe in one pass — the HOF formulation
    // (sort_array(transform(shingles, hash60))) evaluates INTERPRETED and
    // re-runs wherever projection collapse duplicates the subtree
    // (measured 12.4 s vs 1.3 s on decontaminateBroadcast's screen)
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        call_function("sorted_shingle_hashes", col("__toks"), lit(shingleN)).as("hs"))
      .withColumn("n_sh", size(col("hs")))
      // ceil over binary-fp t·n can land 1 above the exact integer and
      // shorten the prefix below the theorem's bound — back off epsilon
      .withColumn("prefix_len",
        (col("n_sh") - ceil(lit(minJaccard) * col("n_sh") - lit(1e-9)) + 1).cast("int"))

  /** Exact n-gram Jaccard similarity via PREFIX FILTERING (Bayardo et al.
    * WWW'07) with PPJoin length + positional pruning (Xiao et al. WWW'08):
    * join only the first n − ⌈t·n⌉ + 1 shingles of each doc under a global
    * order — any pair with J ≥ t must collide inside those prefixes — then
    * verify surviving pairs exactly.
    *
    * Spark-first shape, tuned stage by stage:
    *  - signatures ([[hashSignatures]]) are one map-side projection: sorted
    *    60-bit hash arrays. No corpus df pass, no explode+groupBy.
    *  - the self-join shuffles (hash, pos, n) ints, keyed on the prefix
    *    hash; both branches hang off one shared Exchange (ReusedExchange).
    *  - candidates are pruned by the length filter (t·max(n_a,n_b) ≤
    *    min(n_a,n_b)) and the PPJoin positional bound BEFORE the distinct:
    *    overlap ≤ min(pos_a,pos_b) + 1 + min(n_a−pos_a, n_b−pos_b) − 1
    *    must reach ⌈t/(1+t)·(n_a+n_b)⌉, and at the pair's FIRST collision
    *    (min hash) the before-term is exactly 0, giving the tight bound
    *    via min_by after the groupBy.
    *  - verification is [[graft.plans.SortedIntersectCount]] — a codegen'd
    *    merge pass over the sorted signatures (array_intersect hashes and
    *    boxes every element; measured 6× slower at sf0.1).
    *
    * At 100 TB: signatures scale with input splits; the only shuffles are
    * the prefix-hash join and the candidate groupBy. Under power-law
    * shingle skew, pass `shingleOrder = "df"` (document-frequency
    * ascending — one extra agg+join pass) so boilerplate shingles fall
    * outside every prefix; hash order spreads hot shingles uniformly,
    * which is the right zero-extra-cost default for near-uniform
    * vocabularies. Ordering changes candidate VOLUME only — results are
    * identical (DedupSpec proves both).
    *
    * The signature table is materialized (localCheckpoint) before the
    * self-join: it feeds three plan branches (prefix explode + both
    * verification sides), and without the barrier Catalyst inlines the
    * tokenize→md5→sort tree into every downstream reference — including a
    * pushed-down isnotnull over the whole tree and per-row re-evaluation
    * inside the join condition (measured 8× the entire operator's cost).
    * At 100 TB this materialization is the signature TABLE you would
    * persist anyway; here it is a block-manager-local table the size of
    * ndocs × (k longs).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, minJaccard: Double = 0.3,
                        sigPath: Option[String] = None,
                        shingleOrder: String = "hash",
                        lengthBinned: Boolean = false): DataFrame = {
    val (sigs, cand) = ngramJaccardCandidates(
      docs, idCol, textCol, shingleN, minJaccard, sigPath, shingleOrder, lengthBinned)
    val sets = sigs.select(col(idCol), col("hs"), col("n_sh"))
    val hint = verifySideHint(sigs)
    cand
      .join(hint(sets.select(col(idCol).as("doc_a"), col("hs").as("hs_a"), col("n_sh").as("n_a"))), "doc_a")
      .join(hint(sets.select(col(idCol).as("doc_b"), col("hs").as("hs_b"), col("n_sh").as("n_b"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_intersect_count", col("hs_a"), col("hs_b")).as("n_inter"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"))
      .withColumn("jaccard",
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"), col("jaccard"))
  }

  /** Signature + candidate stages of [[ngramJaccardPairs]], exposed so the
    * candidate volume — THE cost driver of prefix-filtered set-similarity —
    * is measurable per ordering.
    *
    * @param shingleOrder global shingle order for prefix filtering:
    *   "hash" (default — no extra pass, spreads hot shingles uniformly,
    *   right for near-uniform vocabularies) or "df" (document-frequency
    *   ascending, Bayardo's canonical rare-first order: one extra
    *   agg+join pass puts boilerplate shingles LAST so they fall outside
    *   every prefix — the lever for power-law-skewed corpora, where one
    *   hot boilerplate shingle in the prefixes pairs everything with
    *   everything). The prefix theorem is exact under ANY fixed total
    *   order, so the ordering changes candidate volume, never the result.
    */
  private[graft] def ngramJaccardCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, minJaccard: Double,
      sigPath: Option[String], shingleOrder: String,
      lengthBinned: Boolean = false): (DataFrame, DataFrame) = {
    require(shingleOrder == "hash" || shingleOrder == "df",
      s"shingleOrder must be 'hash' or 'df', got '$shingleOrder'")
    graft.plans.GraftExtensions.register(docs.sparkSession)
    val sigs = materialize(
      hashSignatures(docs, idCol, textCol, shingleN, minJaccard), sigPath)
    // the prefix is taken under the chosen GLOBAL order; verification
    // always uses the ascending `hs` array (the merge intersect needs it)
    val prefixSource = shingleOrder match {
      case "hash" =>
        sigs.select(col(idCol), col("n_sh"), col("prefix_len"),
          col("hs").as("hs_ord"))
      case "df" =>
        val ex = sigs.select(col(idCol), explode(col("hs")).as("h"))
        val dft = ex.groupBy(col("h")).agg(count(lit(1)).as("sdf"))
        // BOTH joins pin sort-merge: every relation here is corpus-sized
        // (the exploded shingle table, the distinct-shingle df table, and
        // the collect_list output whose ~100-struct arrays make its
        // row-count estimate wildly under-read its bytes) — at 500k docs
        // AQE's broadcast pick on the array-aggregated side OOM'd the
        // driver (JaccardScaleProbe r16); a broadcast would also never
        // survive 100 TB, so the hint states the true shape
        ex.join(dft.hint("merge"), "h")
          .groupBy(col(idCol))
          .agg(sort_array(collect_list(struct(col("sdf"), col("h")))).as("o"))
          .select(col(idCol), transform(col("o"), x => x.getField("h")).as("hs_ord"))
          .join(sigs.select(col(idCol), col("n_sh"), col("prefix_len"))
            .hint("merge"), idCol)
    }
    val prefix0 = prefixSource
      .select(col(idCol), col("n_sh"),
        posexplode(slice(col("hs_ord"), lit(1), col("prefix_len"))).as(Seq("pos", "h")))
    // LENGTH BINNING (the candidate-volume lever for length-SKEWED
    // corpora): a pair with J ≥ t satisfies t·max(n_a,n_b) ≤ min(n_a,n_b),
    // so with log-scale bins b(n) = floor(log_{1/t} n) any qualifying
    // pair has |b(n_a) − b(n_b)| ≤ 1. Extending the join key from (h) to
    // (h, bin) — one side as-is, the other replicated into its 3
    // compatible bins — prunes length-incompatible collisions BEFORE the
    // shuffle and splits hot-shingle groups across bins. The exact length
    // filter below still runs; binning changes candidate VOLUME only.
    // 3× replication of one prefix branch is the price — worth it only
    // when lengths actually spread (hence opt-in, like shingleOrder).
    val binOf = floor(log(1.0 / minJaccard, col("n_sh").cast("double"))).cast("int")
    val (a, b) =
      if (!lengthBinned) {
        val prefix = prefix0.repartition(col("h")) // shared Exchange for both self-join branches
        (prefix.select(col(idCol).as("doc_a"), col("n_sh").as("n_a"),
          col("pos").as("pos_a"), col("h")),
          prefix.select(col(idCol).as("doc_b"), col("n_sh").as("n_b"),
            col("pos").as("pos_b"), col("h")))
      } else {
        val binned = prefix0.withColumn("bin", binOf)
        val aSide = binned.repartition(col("h"), col("bin"))
          .select(col(idCol).as("doc_a"), col("n_sh").as("n_a"),
            col("pos").as("pos_a"), col("h"), col("bin"))
        val bSide = binned
          .select(col(idCol).as("doc_b"), col("n_sh").as("n_b"),
            col("pos").as("pos_b"), col("h"),
            explode(array(col("bin") - 1, col("bin"), col("bin") + 1)).as("bin"))
          .repartition(col("h"), col("bin"))
        (aSide, bSide)
      }
    val joinKeys = if (lengthBinned) Seq("h", "bin") else Seq("h")
    // α = minimum overlap for J ≥ t given sizes (n_a, n_b); epsilon
    // backoff keeps ceil from over-tightening by 1 when t/(1+t)·(n_a+n_b)
    // lands epsilon above an exact integer (pairs AT the threshold prune)
    val alpha = ceil(lit(minJaccard / (1 + minJaccard)) * (col("n_a") + col("n_b")) - lit(1e-9))
    // overlap bound at this collision: common-before ≤ min(pos), current
    // match = 1, common-after ≤ min(remaining); pos is 0-based
    val safeBound = least(col("pos_a"), col("pos_b")) + 1 +
      least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) - 1
    val tightBound = lit(1) +
      least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) - 1
    // the raw prefix-collision stream — THE volume the join shuffles and
    // the quantity binning/df-order exist to shrink (the candidate set
    // below is invariant under both levers; specs measure this stage)
    val collisions = a.join(b, joinKeys)
      .filter(col("doc_a") < col("doc_b"))
    lastCollisionStage.set(collisions)
    val cand = collisions
      .filter(least(col("n_a"), col("n_b")) >=
        lit(minJaccard) * greatest(col("n_a"), col("n_b"))) // length filter
      .filter(safeBound >= alpha)                           // per-collision bound
      .groupBy(col("doc_a"), col("doc_b"))
      // the FIRST collision under the prefix order is the one at the
      // smallest position (pos is monotone in the global order for both
      // docs), where common-before is exactly 0 — min_by(h) would be
      // wrong under df order
      .agg(min_by(tightBound, col("pos_a")).as("first_bound"),
        max(alpha).as("alpha"))
      .filter(col("first_bound") >= col("alpha"))           // tight bound at first collision
      .select(col("doc_a"), col("doc_b"))
    (sigs, cand)
  }

  /** Diagnostic hook: the raw prefix-collision DataFrame of the most
    * recent [[ngramJaccardCandidates]] call on this thread — the join
    * volume the shingleOrder / lengthBinned levers shrink. Specs read it
    * to prove a lever cut shuffle volume while the verified pair set
    * stayed identical (the candidate set itself is invariant, so no
    * production path ever consumes this).
    */
  private[graft] val lastCollisionStage = new ThreadLocal[DataFrame]

  /** CONTAINMENT pairs via RARE-SHINGLE BLOCKING: for each candidate pair
    * the asymmetric containments C(a⊂b) = |S_a ∩ S_b| / |S_a| and
    * C(b⊂a) = |S_a ∩ S_b| / |S_b|, keeping pairs where either reaches
    * `minContainment`. This is the quote/subset detector Jaccard-threshold
    * dedup structurally misses: a short document wholly quoted inside a
    * long one has containment 1.0 but Jaccard |S_a|/|S_b| ≈ 0, so it
    * collides in no MinHash band and fails every prefix-filter length
    * bound ([[ngramJaccardPairs]]'s t·max ≤ min prune discards it first).
    *
    * Candidate generation inverts the corpus on its RARE shingles only
    * (document frequency in [2, dfCap]) — the benchmark-decontamination
    * blocking shape: a genuine containment shares many shingles, so it
    * overwhelmingly shares a rare one, while capping df bounds each
    * inverted-list self-join group at dfCap² pairs and drops boilerplate
    * shingles entirely. Recall is heuristic, not exact (a pair sharing
    * ONLY df>cap shingles is missed — raise dfCap to trade volume for
    * recall); the reported containments for surviving pairs are exact
    * ([[graft.plans.SortedIntersectCount]] over the sorted signatures).
    *
    * At 100 TB: signatures are the same persistable map-side projection
    * as [[ngramJaccardPairs]] (`sigPath`); the df pass and the
    * inverted-list self-join shuffle on the shingle hash (the self-join
    * reuses one Exchange); candidate volume is Σ_rare df² — tuned by
    * dfCap, independent of corpus size for fixed shingle skew.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, minContainment: Double = 0.8,
                       dfCap: Int = 10,
                       sigPath: Option[String] = None): DataFrame = {
    val (sigs, _, candidates) = containmentCandidates(
      docs, idCol, textCol, shingleN, minContainment, dfCap, sigPath)
    val sets = sigs.select(col(idCol), col("hs"), col("n_sh"))
    val hint = verifySideHint(sigs)
    candidates
      .join(hint(sets.select(col(idCol).as("doc_a"), col("hs").as("hs_a"), col("n_sh").as("n_a"))), "doc_a")
      .join(hint(sets.select(col(idCol).as("doc_b"), col("hs").as("hs_b"), col("n_sh").as("n_b"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_intersect_count", col("hs_a"), col("hs_b")).as("n_inter"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"))
      .withColumn("c_ab", round(col("n_inter") / col("n_a"), 6))
      .withColumn("c_ba", round(col("n_inter") / col("n_b"), 6))
      .filter(greatest(col("c_ab"), col("c_ba")) >= minContainment)
  }

  /** Join hint for the VERIFY side (the (id, hs, n_sh) signature table
    * joined back to candidate pairs), decided from MEASURED bytes of the
    * materialized signature checkpoint — 8 B per stored hash plus row
    * overhead — against the session's autoBroadcastJoinThreshold.
    *
    * Why not leave it to the planner: a checkpointed lineage's STATIC
    * size estimate under-reads array bytes (row-count heuristics), so
    * the same verify join broadcast-built a 500 k-row × ~1 KB-array
    * HashedRelation through the driver at one corpus source and
    * sort-merged at another — measured r17: 11 s vs 91 s on the
    * IDENTICAL corpus (byte-identical candidates and pairs), a 25×
    * strategy cliff between the bench's scale points, and the broadcast
    * leg is the same driver-OOM class the r16 df-order fix pinned
    * (Dedup `hint("merge")` at the collect_list join). Measuring the
    * checkpoint makes the choice deterministic and scale-honest, in
    * three measured tiers:
    *
    *  - bytes ≤ autoBroadcastJoinThreshold → BROADCAST (zero-shuffle
    *    verify for genuinely small signature tables);
    *  - bytes / shuffle partitions ≤ 256 MiB → SHUFFLE_HASH with the
    *    signature table as the build side: the candidate-pair stream
    *    (which after the first join carries an hs array PER PAIR —
    *    candidates × ~KB, the dominant bytes) is never SORTED, only
    *    shuffled. Sort-merge sorts that intermediate and spills it to
    *    disk past memory (measured r17: 122 s vs the same verify at
    *    well under half that hashed); the build side per partition is
    *    measured-bytes/partitions — bounded, skew-free (uniform doc
    *    ids), so the SHJ build can't blow a task.
    *  - else → SORT_MERGE (the no-assumptions shape: at 100 TB the
    *    per-partition hash build itself would be GBs).
    */
  private[graft] def verifySideHint(sigs: DataFrame): DataFrame => DataFrame = {
    val conf = sigs.sparkSession.sessionState.conf
    val thr = conf.autoBroadcastJoinThreshold
    val st = sigs.agg(count(lit(1)).as("n"), sum(size(col("hs"))).as("sh")).head
    val bytes =
      if (st.isNullAt(1)) 0L
      else st.getLong(1) * 8L + st.getLong(0) * 16L
    if (thr > 0 && bytes <= thr) broadcast(_)
    else if (bytes / math.max(1, conf.numShufflePartitions) <= (256L << 20))
      _.hint("shuffle_hash")
    else _.hint("merge")
  }

  /** The staged internals of [[containmentPairs]] — (signatures,
    * rare-postings, candidate pairs) — exposed so the scale probe can
    * time and count each phase separately (the ngramJaccardCandidates
    * pattern). The candidate set is invariant to how it is phased, so
    * no production path needs this.
    */
  private[graft] def containmentCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, minContainment: Double, dfCap: Int,
      sigPath: Option[String]): (DataFrame, DataFrame, DataFrame) = {
    require(dfCap >= 2, s"dfCap must be >= 2 to pair anything, got $dfCap")
    graft.plans.GraftExtensions.register(docs.sparkSession)
    // prefix_len is jaccard-specific; signatures here are (id, hs, n_sh)
    val sigs = materialize(
      hashSignatures(docs, idCol, textCol, shingleN, minContainment), sigPath)
    val ex = sigs.select(col(idCol), explode(col("hs")).as("h"))
    val rareShingles = ex.groupBy(col("h")).agg(count(lit(1)).as("__sdf"))
      .filter(col("__sdf") >= 2 && col("__sdf") <= dfCap)
      .select(col("h"))
    // materialize the rare-postings table ONCE: it feeds BOTH sides of
    // the candidate self-join, and each side would otherwise recompute
    // the explode AND the whole df aggregate (sigs' checkpoint only
    // shares the scan). This is the inverted index you would persist
    // anyway — rare shingles only, so it is a small fraction of the
    // full posting list by construction.
    val exRare = materialize(ex.join(rareShingles, "h"), None)
    val candidates = exRare.select(col("h"), col(idCol).as("doc_a"))
      .join(exRare.select(col("h"), col(idCol).as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    (sigs, exRare, candidates)
  }
}
