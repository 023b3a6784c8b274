package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Building a query's DataFrame runs no Spark job: loading a table reads
  * footers only (`TableStatsSpec`), and a decision taken by a job while
  * the plan is being built costs a pass over the data before anything
  * runs it. The allowlist names every query that still runs one: the
  * call site, the decision the job makes, and how it fails at scale.
  * A new eager job fails here until it is removed or listed. */
class BuildJobsSpec extends GraftSuite {

  // call site: decision the job makes; how it fails at scale
  private val clusters = "count at Dedup.scala:1148, collect at " +
    "Dedup.scala:1203: dedupClusters picks a driver union-find or " +
    "distributed min-label rounds from the edge count; the count runs " +
    "the whole edge pipeline, the collect holds up to 10M edges (~160 MB) " +
    "on the driver, and past that every round is an eager localCheckpoint"
  private val centroids = "collect at Similarity.scala:168: " +
    "sampleCentroids holds the md5-ordered centroid sample on the " +
    "driver and inlines it in the plan; a global sort of the corpus " +
    "runs first, and the plan grows with the centroid count"
  private val queryVec = "head at Queries.scala:1913: queryVec inlines " +
    "vec_id 0's vector as a literal; a scan of embeddings before the " +
    "plan exists"
  private val embCount = "count at Queries.scala:4361/4385/4399: the " +
    "corpus row count sizes planes or centroids; a full scan where " +
    "the footer row count (TableStats) would do"
  private val sessionsProbe = "count at Sessions.scala:364: the " +
    "zero-hot-key probe picks the unsplit or the split plan; it runs " +
    "the sorted scan and the key-stats aggregate before the plan exists"
  private val pairsCheckpoint = "an eager localCheckpoint of the pair " +
    "set, so the signed-corpus cache is released before returning: the " +
    "whole pipeline runs while building, and a lost executor loses the " +
    "checkpointed blocks with no lineage to recompute them"
  private val pq = "collect at Similarity.scala:658: each k-means round " +
    "of the PQ codebook is a corpus aggregate collected to the driver"

  private val allowed: Map[String, String] = Map(
    "ann_brute_force" -> queryVec,
    "ann_lsh" -> queryVec,
    "ann_ivf" -> s"$queryVec; $centroids",
    "ann_pq" -> s"$queryVec; $centroids",
    "ann_ivfpq" -> (s"$queryVec; $centroids; collect at " +
      "Similarity.scala:806: the pqK-row residual codebook sample, a " +
      "second global sort"),
    "decontaminate_bloom" -> ("count at Dedup.scala:876, bloomFilter " +
      "at Dedup.scala:877: the benchmark-side filter is sized and built " +
      "on the driver, two passes over the benchmark grams, and " +
      "broadcast at a size that grows with the benchmark"),
    "decontaminate_semantic" -> ("collect at Dedup.scala:916: " +
      "semanticContamination picks the expression or the probe path " +
      "from up to exprMax+1 benchmark vectors held on the driver; past " +
      "maxBench it fails"),
    "decontaminate_semantic_prod" -> "collect at Dedup.scala:916, as decontaminate_semantic",
    "dedup_cc" -> clusters,
    "dedup_keep_best" -> clusters,
    "dedup_image_cc" -> clusters,
    "dedup_video_cc" -> clusters,
    "dedup_audio_cc" -> clusters,
    "split_leakage_safe" -> clusters,
    "dedup_embedding_prod" -> embCount,
    "dedup_semantic" -> centroids,
    "dedup_semantic_keep" -> centroids,
    "dedup_semantic_prod" -> s"$embCount; $centroids",
    "dedup_semantic_keep_prod" -> s"$embCount; $centroids",
    "embed_pq" -> centroids,
    "embed_pq_trained" -> s"$centroids; $pq",
    "dedup_minhash_incremental" -> ("count at Dedup.scala:402 and " +
      "Dedup.scala:443: broadcast-or-shuffle probes for the wave and " +
      "its candidates, each a run of the wave pipeline (the probe reads " +
      s"at most cap+1 rows); localCheckpoint at Dedup.scala:477: $pairsCheckpoint"),
    "dedup_minhash_lsh" -> s"localCheckpoint at Dedup.scala:180: $pairsCheckpoint",
    "dedup_minhash_lsh_xxh64" -> s"localCheckpoint at Dedup.scala:228: $pairsCheckpoint",
    "dedup_spans" -> s"localCheckpoint at Dedup.scala:1030: $pairsCheckpoint",
    "grouping_by_skew_split" -> sessionsProbe,
    "suppress_skew_split" -> sessionsProbe,
    "text_ccnet_buckets" -> ("collect at TextAnalysis.scala:697: the " +
      "surprisal cutpoints come from a driver-held md5 sample, a full " +
      "bigram-surprisal pass and global sort before the plan exists"),
    "text_tokens_bpe_trained" -> ("collect at TextAnalysis.scala:78: " +
      "bpeTrain learns its merges from a 64-text md5 sample, a global " +
      "sort of the corpus before the plan exists"),
  )

  /** The 11 multimodal queries whose decode passes run over their
    * input's own partitioning; none may size partitions with a job. */
  private val multimodalJobFree = Seq("multimodal_features",
    "multimodal_decode", "multimodal_pixels", "multimodal_audio",
    "multimodal_gif", "multimodal_video", "multimodal_dhash",
    "multimodal_audio_hash", "multimodal_stub", "dedup_image_dhash",
    "decontaminate_image")

  test("building a query at sf0.001 runs no Spark job, except the allowlist") {
    val registry = SparkEntry.queries ++ Queries.benchOnly
    val group = "buildjobs-" + java.util.UUID.randomUUID() + "-"
    // per query: SQL execution id (-1 for a job outside one) -> jobs
    val jobs = mutable.Map.empty[String, mutable.Map[Long, Int]]
    val described = mutable.Map.empty[Long, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val p = Option(e.properties)
        p.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(group)).foreach { g =>
            val exec = p.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
              .fold(-1L)(_.toLong)
            val byExec = jobs.getOrElseUpdate(g.stripPrefix(group), mutable.Map.empty)
            byExec(exec) = byExec.getOrElse(exec, 0) + 1
          }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          synchronized { described(s.executionId) = s.description }
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try for (name <- registry.keys.toSeq.sorted) {
      // no job description: SQL executions then describe their call site
      spark.sparkContext.setLocalProperty("spark.jobGroup.id", group + name)
      try registry(name)(spark, sf)
      finally spark.sparkContext.setLocalProperty("spark.jobGroup.id", null)
    } finally {
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val report = listener.synchronized(jobs.map {
      case (name, byExec) => name -> byExec.toSeq.sortBy(_._1).map {
        case (exec, n) => s"$n × ${described.getOrElse(exec, "no SQL execution")}"
      }.mkString("; ")
    }.toMap)
    val unlisted = report.keySet -- allowed.keySet
    assert(unlisted.isEmpty, "jobs while building: " +
      unlisted.toSeq.sorted.map(n => s"$n: ${report(n)}").mkString("\n"))
    val stale = allowed.keySet -- report.keySet
    assert(stale.isEmpty, s"build with no job now, drop from the allowlist: $stale")
    assert(multimodalJobFree.forall(registry.contains))
    assert(!multimodalJobFree.exists(allowed.contains))
  }
}
