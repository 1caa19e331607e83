package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-batch shape of `Dedup.dedupIndexIngest`: identical passes run
  * the same number of Spark jobs at every batch position (every join is
  * an explicit broadcast, so no run-time join choice can add or drop a
  * stage), no plan sort-merge joins, the monotone-id guard rejects a
  * violating batch before anything is written, and an exact replay after
  * a crash that lost the hashes/ append re-admits the lost documents. */
class DedupIngestJobsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Jobs and executed plans seen between two drains. A drain runs a
    * marker job tagged with a fresh description and waits until both
    * listeners have seen it; the listener bus delivers events in order,
    * so every earlier job and query execution has been recorded. */
  private final class JobLog {
    private val jobs = new ConcurrentLinkedQueue[Integer]()
    private val plans = new ConcurrentLinkedQueue[String]()
    @volatile private var marker = ""
    @volatile private var jobSeen = new CountDownLatch(0)
    @volatile private var qeSeen = new CountDownLatch(0)
    private val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
        if (d != null && d == marker) jobSeen.countDown() else jobs.add(e.jobId)
      }
    }
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (marker.nonEmpty && qe.logical.toString.contains(marker)) qeSeen.countDown()
        else plans.add(qe.sparkPlan.treeString + qe.executedPlan.treeString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)

    def drain(): Unit = {
      marker = s"dedup-jobs-drain-${System.nanoTime()}"
      jobSeen = new CountDownLatch(1)
      qeSeen = new CountDownLatch(1)
      spark.sparkContext.setJobDescription(marker)
      try spark.range(0, 1, 1, 1).select(lit(marker).as("m")).collect()
      finally spark.sparkContext.setJobDescription(null)
      assert(jobSeen.await(120, TimeUnit.SECONDS) && qeSeen.await(120, TimeUnit.SECONDS),
        "listener bus did not drain")
    }

    /** Jobs and plans since the last call. */
    def take(): (Int, Seq[String]) = {
      drain()
      val out = (jobs.size, plans.asScala.toSeq)
      jobs.clear()
      plans.clear()
      out
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  private val rng = new scala.util.Random(707)
  private def words(n: Int): String =
    (0 until n).map(_ => s"w${rng.nextInt(300)}").mkString(" ")

  /** Three batches of ascending ids. Each holds new documents, in-batch
    * exact copies, near copies of its own and of earlier documents, and
    * exact copies of earlier batches' documents, so every probe matches. */
  private lazy val batches: Seq[Seq[(Long, String)]] = {
    var id = 0L
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    (0 until 3).map { _ =>
      val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      def add(t: String): Unit = { id += 1; out += ((id, t)) }
      val earlier = seen.toSeq
      (0 until 12).foreach { _ =>
        val base = words(20)
        add(base)
        if (rng.nextInt(3) == 0) add(base)
        if (rng.nextInt(3) == 0) add(base + " w999")
        seen += base
      }
      earlier.take(4).foreach(t => add(t))
      earlier.slice(4, 8).foreach(t => add(t + " w998"))
      out.toSeq
    }
  }

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-dedupjobs").toString

  private def batchDf(i: Int) = batches(i).toDF("doc_id", "text")

  private def ingest(root: String, i: Int, compactEvery: Int = 0): Set[(Long, String, Long, Long)] =
    Dedup.dedupIndexIngest(spark, batchDf(i), "doc_id", "text", root, i,
        compactEvery = compactEvery)
      .as[(Long, String, Long, Long)].collect().toSet

  /** Every file under `root` with its length. */
  private def listing(root: String): Map[String, Long] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    finally s.close()
  }

  test("identical passes run the same jobs per batch, and no plan sort-merge joins") {
    val log = new JobLog
    try {
      def pass(): (Seq[Int], Seq[String], Seq[Set[(Long, String, Long, Long)]]) = {
        val root = freshRoot()
        log.take()
        val per = batches.indices.map { i =>
          val got = ingest(root, i, compactEvery = 3)
          val (n, plans) = log.take()
          (n, plans, got)
        }
        (per.map(_._1), per.flatMap(_._2), per.map(_._3))
      }
      val (jobs1, plans1, out1) = pass()
      val (jobs2, plans2, out2) = pass()
      info(s"jobs per batch: $jobs1")
      assert(jobs1 == jobs2, s"jobs per batch differ between identical passes: $jobs1 vs $jobs2")
      assert(out1 == out2)
      // the probes matched something, so the counts cover the whole plan
      assert(out1.flatten.map(_._2).toSet == Set("new", "dup_delta", "dup_corpus", "near_corpus"))
      assert(plans1.nonEmpty && plans2.nonEmpty)
      (plans1 ++ plans2).foreach(p => assert(!p.contains("SortMergeJoin"), p))
      // a plain batch fits the per-batch job budget
      assert(jobs1.take(2).forall(_ <= 13), s"jobs per batch $jobs1")
    } finally log.close()
  }

  test("a batch violating the monotone-id contract leaves the index byte-identical") {
    val root = freshRoot()
    ingest(root, 0)
    ingest(root, 1)
    val before = listing(root)
    // overlaps batch 1's ids without replaying it
    val bad = batches(1).take(3).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupIndexIngest(spark, bad, "doc_id", "text", root, 2)
    }
    assert(ex.getMessage.contains("monotone-id ingestion contract"))
    assert(listing(root) == before)
  }

  test("replay after a crash that lost the hashes/ append re-admits the lost documents") {
    val clean = freshRoot()
    val crashed = freshRoot()
    ingest(clean, 0)
    val want = ingest(clean, 1)
    ingest(crashed, 0)
    val hashesDir = java.nio.file.Paths.get(crashed, "hashes")
    val pre = listing(hashesDir.toString).keySet
    assert(ingest(crashed, 1) == want)
    // the crash: bands/ and shingles/ landed, hashes/ did not
    listing(hashesDir.toString).keySet.diff(pre)
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
    // the replay re-derives the original classification (no document
    // matches its own band debris) and re-appends hashes/
    assert(ingest(crashed, 1) == want)
    val probe = batchDf(2)
    def classify(root: String) =
      Dedup.incrementalDedup(spark, probe, "doc_id", "text", root)
        .as[(Long, String, Long, Long)].collect().toSet
    assert(classify(crashed) == classify(clean))
  }
}
