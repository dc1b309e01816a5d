package graft

import org.apache.spark.sql.{Column, DataFrame}

import graft.operators._
import graft.sources.SemiStructured

/** Fluent user API: `import graft.syntax._` and chain the engine's
  * operators off any DataFrame — the adoption surface for a user of the
  * reference pipeline switching to this library.
  *
  * {{{
  *   import graft.syntax._
  *   signals.asOf(purchases, Seq("user_id"), "ts", "t", Seq("pval"))
  *   docs.dedupMinHashPairs("doc_id", "text")
  *   frames.objectsInLane("detections_raw", "lane_points_raw")
  * }}}
  *
  * Every method delegates to the operator objects (single source of
  * truth); nothing here adds semantics.
  */
object syntax {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    // ---- signal lake -------------------------------------------------
    def asOf(right: DataFrame, keys: Seq[String], leftTime: String,
             rightTime: String, valueCols: Seq[String],
             toleranceUs: Option[Long] = None, forward: Boolean = false): DataFrame =
      AsOfJoin.asOf(df, right, keys, leftTime, rightTime, valueCols,
        toleranceUs, forward)

    def rangeJoin(right: DataFrame, keys: Seq[String], leftTime: String,
                  rightTime: String, valueCols: Seq[String],
                  lowerUs: Long, upperUs: Long): DataFrame =
      AsOfJoin.rangeJoin(df, right, keys, leftTime, rightTime, valueCols,
        lowerUs, upperUs)

    def timeGrid(groupCols: Seq[String], timeCol: String, stepUs: Long): DataFrame =
      Signals.timeGrid(df, groupCols, timeCol, stepUs)

    def forwardFill(groupCols: Seq[String], orderCols: Seq[String],
                    fillCols: Seq[String]): DataFrame =
      Signals.forwardFill(df, groupCols, orderCols, fillCols)

    def synchronizeTopics(groupCols: Seq[String], timeCol: String,
                          topicCol: String, valueCol: String,
                          topics: Seq[String], stepUs: Long): DataFrame =
      Signals.synchronize(df, groupCols, timeCol, topicCol, valueCol, topics, stepUs)

    def sceneBoundaries(groupCols: Seq[String], timeCol: String,
                        orderTiebreak: Seq[String], activity: Column): DataFrame =
      Scenes.boundaries(df, groupCols, timeCol, orderTiebreak, activity)

    def objectsInLane(detectionsCol: String, lanePointsCol: String): DataFrame =
      LaneGeometry.objectsInLaneFused(df, detectionsCol, lanePointsCol)

    def parseObjectList(rawCol: String, objStartKey: String,
                        fields: Seq[(String, String)]): DataFrame =
      df.withColumn("objects", SemiStructured.parseObjectListTyped(
        org.apache.spark.sql.functions.col(rawCol), objStartKey, fields))

    // ---- training-data curation -------------------------------------
    def dedupExact(idCol: String, textCol: String): DataFrame =
      Dedup.exact(df, idCol, textCol)

    def dedupMinHashPairs(idCol: String, textCol: String,
                          numHashes: Int = 8, shingleN: Int = 3,
                          rowsPerBand: Int = 2): DataFrame =
      Dedup.minHashPairs(df, idCol, textCol, numHashes, shingleN, rowsPerBand)

    def dedupJaccardPairs(idCol: String, textCol: String,
                          shingleN: Int = 3, minJaccard: Double = 0.3): DataFrame =
      Dedup.ngramJaccardPairs(df, idCol, textCol, shingleN, minJaccard)

    def dupClusters(aCol: String, bCol: String): DataFrame =
      Dedup.dupClustersStar(df, aCol, bCol)

    def decontaminateAgainst(benchmark: DataFrame, idCol: String,
                             textCol: String, shingleN: Int = 5): DataFrame =
      Dedup.decontaminate(df, benchmark, idCol, textCol, shingleN)

    def hashSplit(idCol: String, seed: String, trainPct: Int, valPct: Int): DataFrame =
      Sampling.split(df, idCol, seed, trainPct, valPct)

    def packSequences(idCol: String, tokenCountCol: String, windowTokens: Long,
                      shardCols: Seq[String] = Seq.empty): DataFrame =
      Packing.pack(df, idCol, tokenCountCol, windowTokens, shardCols)

    def annTopK(idCol: String, vecCol: String, queryId: Long, k: Int): DataFrame =
      Similarity.bruteForceTopK(df, idCol, vecCol, queryId, k)

    def saltedJoinOn(right: DataFrame, keys: Seq[String], saltBuckets: Int,
                     hotThreshold: Long): DataFrame =
      SkewJoin.saltedJoin(df, right, keys, saltBuckets, hotThreshold)

    def funnel(userCol: String, typeCol: String, timeCol: String,
               steps: Seq[String], horizonUs: Long): DataFrame =
      Funnel.funnel(df, userCol, typeCol, timeCol, steps, horizonUs)

    def leakFreeSplit(clusters: DataFrame, idCol: String, seed: String,
                      trainPct: Int, valPct: Int): DataFrame =
      Sampling.leakFreeSplit(df, clusters, idCol, seed, trainPct, valPct)

    def kmeansAssign(idCol: String, vecCol: String, k: Int, iters: Int): DataFrame =
      Similarity.kmeansAssign(df, idCol, vecCol, k, iters)

    def semDedup(idCol: String, vecCol: String, k: Int, iters: Int,
                 minCosine: Double): DataFrame =
      Similarity.semDedup(df, idCol, vecCol, k, iters, minCosine)

    def budgetMix(sourceCol: String, massCol: String, weightCol: String,
                  budget: Double, maxEpochs: Double): DataFrame =
      Sampling.budgetMix(df, sourceCol, massCol, weightCol, budget, maxEpochs)

    def centroids(groupCol: String, vecCol: String): DataFrame =
      Similarity.centroids(df, groupCol, vecCol)

    def unigramScore(reference: DataFrame, idCol: String, textCol: String): DataFrame =
      Ranking.unigramScore(df, reference, idCol, textCol)

    def topKPerGroup(n: Int): DataFrame =
      Analytics.topNPerGroupAgg(df, n)

    def dupSpans(idCol: String, textCol: String, shingleN: Int = 3): DataFrame =
      Dedup.dupSpans(df, idCol, textCol, shingleN)

    def spanCuts(idCol: String, textCol: String, shingleN: Int = 3): DataFrame =
      Dedup.spanCuts(df, idCol, textCol, shingleN)

    def snapshotDiff(newSnap: DataFrame, idCol: String, textCol: String): DataFrame =
      Corpus.snapshotDiff(df, newSnap, idCol, textCol)

    def bpeEncodeWith(merges: Seq[(String, String)], textCol: String): DataFrame = {
      graft.plans.GraftExtensions.register(df.sparkSession)
      df.withColumn("bpe_tokens",
        graft.functions.Bpe.encode(org.apache.spark.sql.functions.col(textCol), merges))
    }

    def quantileRollup(bucketCol: Column, valueCol: Column, k: Int = 200): DataFrame =
      Analytics.quantileRollup(df, bucketCol, valueCol, k)

    def weightedCentroids(groupCol: String, vecCol: String,
                          weightCol: String): DataFrame =
      Similarity.weightedCentroids(df, groupCol, vecCol, weightCol)

    def freqRollup(bucketCol: Column, itemCol: Column,
                   maxMapSize: Int = 1024): DataFrame =
      Analytics.freqRollup(df, bucketCol, itemCol, maxMapSize)

    def bpeEncodeBroadcastWith(merges: Seq[(String, String)], textCol: String): DataFrame =
      df.withColumn("bpe_tokens", graft.functions.Bpe.encodeBroadcast(
        df.sparkSession, org.apache.spark.sql.functions.col(textCol), merges))
  }
}
