package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The band table's whole rewrite (`Dedup.capBuckets`: one shuffle on
  * (band, key), distinct, then the bucket cap by a window count) against
  * a table computed here from the same rows, for the dedup family and
  * for the split family under a retention horizon; and the widths of
  * the dedup-ingest loop's shuffles, which come from its input and its
  * delta tiers' bytes, never from `spark.sql.shuffle.partitions`, while
  * whole rewrites and the unsized entry points leave theirs to the
  * planner and AQE. */
class BandRewriteSizingSpec extends SparkSpecBase {
  import spark.implicits._

  private val MaxBucket = 3

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** (band, key, keeper) rows. Bucket (0, 100) is over the cap until the
    * horizon retires two of its keepers; (1, 200) stays over it; (2, 300)
    * is over it only counting replay duplicates; (3, 400) and (0, 500)
    * are small, and (0, 500) is retired whole. */
  private val bands: Seq[(Int, Long, Long)] = Seq(
    (0, 100L, 1L), (0, 100L, 2L), (0, 100L, 6L), (0, 100L, 7L),
    (1, 200L, 6L), (1, 200L, 7L), (1, 200L, 8L), (1, 200L, 9L),
    (2, 300L, 8L), (2, 300L, 9L), (2, 300L, 10L), (2, 300L, 8L), (2, 300L, 9L),
    (3, 400L, 11L), (3, 400L, 12L), (3, 400L, 11L),
    (0, 500L, 3L))

  /** (keeper, label) history: keeper 7 was relabelled 9 → 6. */
  private val clusters: Seq[(Long, Long)] =
    Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (7L, 9L)) ++
      (6L to 12L).map(k => (k, 6L))

  private val keepers = (1L to 12L)

  /** The band table a whole rewrite must land: distinct rows of kept
    * keepers, without the buckets that then hold more than the cap. */
  private def expectedBands(kept: Long => Boolean): Set[(Int, Long, Long)] =
    bands.distinct.filter(r => kept(r._3)).groupBy(r => (r._1, r._2))
      .values.filter(_.size <= MaxBucket).flatten.toSet

  private def writeTables(root: String, split: Boolean): Unit = {
    bands.toDF("band", "key", "keeper").write.parquet(s"$root/bands")
    keepers.map(k => (k, Seq(k, k + 1, k + 2))).toDF("keeper", "sh")
      .write.parquet(s"$root/shingles")
    keepers.map(k => (s"h$k", k)).toDF("content_hash", "keeper").write.parquet(s"$root/hashes")
    if (split) clusters.toDF("keeper", "label").write.parquet(s"$root/clusters")
  }

  private def landed(root: String): (Set[(Int, Long, Long)], Int) = {
    val dir = new java.io.File(s"$root/bands")
    (spark.read.parquet(dir.toString).select("band", "key", "keeper")
      .as[(Int, Long, Long)].collect().toSet,
      dir.listFiles().count(_.getName.startsWith("part-")))
  }

  test("the dedup family's band rewrite drops duplicates and over-cap buckets, in one file") {
    val idx = tmp("graft-bandrw")
    writeTables(idx, split = false)
    val dest = tmp("graft-bandrw-dest")
    Dedup.compactDedupIndex(spark, idx, dest, maxBucket = MaxBucket)
    val want = expectedBands(_ => true)
    assert(want.map(r => (r._1, r._2)) == Set((2, 300L), (3, 400L), (0, 500L)))
    assert(landed(dest) == (want, 1))
  }

  test("the split family's band rewrite caps after the retention horizon's restriction") {
    val idx = tmp("graft-bandrw-split")
    writeTables(idx, split = true)
    val dest = tmp("graft-bandrw-split-dest")
    val epochMin = 6L
    Dedup.compactSplitIndexDropBefore(spark, idx, dest, epochMin, maxBucket = MaxBucket)
    // each keeper's current (min) label; a label retires when all its
    // keepers are below the horizon
    val cur = clusters.groupBy(_._1).map { case (k, ls) => k -> ls.map(_._2).min }
    val retired = cur.groupBy(_._2).collect {
      case (l, ks) if ks.keys.max < epochMin => l
    }.toSet
    val want = expectedBands(k => !retired(cur(k)))
    assert(retired == Set(1L, 4L))
    assert(want.map(r => (r._1, r._2)) == Set((0, 100L), (2, 300L), (3, 400L)))
    assert(landed(dest) == (want, 1))
  }

  /** The shuffles (origin, width) of every query `ns` executes, and the
  * task count of every stage its jobs in job group `group` submit. */
  private final class ShuffleLog(ns: org.apache.spark.sql.SparkSession, group: String) {
    private val shuffles = new ConcurrentLinkedQueue[(String, Int)]()
    private val stageTasks = new ConcurrentLinkedQueue[Integer]()
    @volatile private var marker = ""
    @volatile private var seen = new CountDownLatch(0)
    private val helper = new AdaptiveSparkPlanHelper {}
    private def of(p: SparkPlan): Seq[(String, Int)] =
      helper.collectWithSubqueries(p) {
        case s: ShuffleExchangeExec => (s.shuffleOrigin.toString, s.numPartitions)
      }
    private val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (marker.nonEmpty && qe.logical.toString.contains(marker)) seen.countDown()
        else of(qe.executedPlan).foreach(shuffles.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    private val stages = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stageTasks.add(e.stageInfo.numTasks)
    }
    ns.listenerManager.register(listener)
    ns.sparkContext.addSparkListener(stages)
    ns.sparkContext.setJobGroup(group, group)

    /** Every (origin, width) and stage task count seen so far, once the
      * listener bus has caught up. */
    def all(): (Seq[(String, Int)], Seq[Int]) = {
      marker = s"shuffle-log-drain-${System.nanoTime()}"
      seen = new CountDownLatch(1)
      ns.range(0, 1, 1, 1).select(lit(marker).as("m")).collect()
      assert(seen.await(120, TimeUnit.SECONDS), "listener bus did not drain")
      (shuffles.asScala.toSeq, stageTasks.asScala.map(_.toInt).toSeq)
    }

    def close(): Unit = {
      ns.sparkContext.clearJobGroup()
      ns.sparkContext.removeSparkListener(stages)
      ns.listenerManager.unregister(listener)
    }
  }

  /** A session whose `spark.sql.shuffle.partitions` is Spark's default. */
  private def defaultSession(): org.apache.spark.sql.SparkSession = {
    val ns = spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "200")
    ns
  }

  /** `n` batches of (doc_id, text), each in 3 partitions: 20 fresh
    * documents with exact copies and near copies of earlier batches'. */
  private def feed(ns: org.apache.spark.sql.SparkSession, n: Int) = {
    val rng = new scala.util.Random(1010)
    def words(k: Int) = (0 until k).map(_ => s"w${rng.nextInt(200)}").mkString(" ")
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    var id = 0L
    (0 until n).map { _ =>
      val earlier = seen.toSeq
      val rows = (0 until 20).flatMap { i =>
        val t = words(15)
        seen += t
        id += 1
        val own = Seq((id, t))
        if (i % 4 == 0) { id += 1; own :+ ((id, t)) } else own
      } ++ earlier.take(3).map { t => id += 1; (id, t + " w999") }
      ns.createDataFrame(ns.sparkContext.parallelize(rows, 3)).toDF("doc_id", "text")
    }
  }

  private def widthsOf(shuffles: Seq[(String, Int)]) =
    shuffles.groupBy(identity).map { case (k, v) => k -> v.size }

  test("no dedup-ingest loop shuffle but a whole rewrite's is sized by spark.sql.shuffle.partitions") {
    val ns = defaultSession()
    val batches = feed(ns, 6)
    val root = tmp("graft-ingest-widths")
    val log = new ShuffleLog(ns, s"ingest-widths-${System.nanoTime()}")
    val (shuffles, tasks) = try {
      // batch 2 compacts by the first, whole rewrite; batch 5 folds the
      // delta tier appended since
      batches.zipWithIndex.foreach { case (b, i) =>
        assert(Dedup.readPartitions(b) == 3)
        Dedup.dedupIndexIngest(ns, b, "doc_id", "text", root, i, compactEvery = 3).collect()
      }
      log.all()
    } finally log.close()
    info(s"shuffles (origin, width): ${widthsOf(shuffles)}; stage tasks: ${tasks.distinct.sorted}")
    val (sized, planned) = shuffles.partition(_._1 == REPARTITION_BY_NUM.toString)
    // keeper and id shuffles as wide as the 3-partition input; each delta
    // fold one partition per ~128 MB of the tier, here one
    assert(sized.map(_._2).toSet == Set(3, 1), s"sized shuffles $sized")
    // the whole rewrite's three tables (hashes, bands, shingles) are the
    // only shuffles the planner sizes, and AQE coalesces their reads
    assert(planned.size == 3 && planned.forall(_._2 == 200), s"planned shuffles $planned")
    // (index scans run a task per small file; no stage runs one per
    // spark.sql.shuffle.partitions partition)
    assert(tasks.nonEmpty && tasks.max < 200, s"stage tasks $tasks")
  }

  test("incrementalDedup and appendToDedupIndex leave their shuffles to the planner and AQE") {
    val ns = defaultSession()
    val Seq(corpus, delta) = feed(ns, 2)
    val idx = tmp("graft-incr-widths")
    Dedup.buildDedupIndex(corpus, "doc_id", "text", idx)
    val log = new ShuffleLog(ns, s"incr-widths-${System.nanoTime()}")
    val (shuffles, tasks) = try {
      val classified = Dedup.incrementalDedup(ns, delta, "doc_id", "text", idx).localCheckpoint(true)
      assert(classified.filter(col("status") === "new").count() > 0)
      Dedup.appendToDedupIndex(delta, classified, "doc_id", "text", idx)
      log.all()
    } finally log.close()
    info(s"shuffles (origin, width): ${widthsOf(shuffles)}; stage tasks: ${tasks.distinct.sorted}")
    assert(shuffles.nonEmpty && !shuffles.exists(_._1 == REPARTITION_BY_NUM.toString),
      s"shuffles $shuffles")
    // no stage runs one task per spark.sql.shuffle.partitions partition
    assert(tasks.nonEmpty && tasks.max < 200, s"stage tasks $tasks")
  }
}
