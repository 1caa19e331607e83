package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** NN-Descent k-NN graph (Dong et al. 2011): recall vs the exact graph,
  * exact convergence on planted clusters, and bit-identical reruns. */
class KnnGraphSpec extends SparkSpecBase {
  import spark.implicits._

  /** Driver-side exact k-NN graph — same cosine accumulation order
    * (index-order double fold) and (cos DESC, id ASC) tie-break as the
    * engine. */
  private def bruteGraph(vs: Array[(Long, Array[Float])], k: Int)
      : Map[Long, Seq[Long]] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val norms = vs.map { case (_, v) => math.sqrt(dot(v, v)) }
    vs.zipWithIndex.map { case ((id, v), i) =>
      id -> vs.zipWithIndex.filter(_._1._1 != id)
        .map { case ((j, u), ji) => (dot(v, u) / (norms(i) * norms(ji)), j) }
        .sortBy { case (c, j) => (-c, j) }.take(k).map(_._2).toSeq
    }.toMap
  }

  private def graphOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select("vec_id", "nbr_id", "rank").as[(Long, Long, Long)]
      .collect().groupBy(_._1)
      .map { case (id, xs) => id -> xs.sortBy(_._3).map(_._2).toSeq }

  test("recall >= 0.9 vs the exact graph on the embeddings table") {
    val sub = embeddings.filter(col("vec_id") < 300).cache()
    val vs = sub.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val truth = bruteGraph(vs, 10)
    val got = graphOf(Ann.knnGraph(sub, "vec_id", "embedding", 10, 4))
    sub.unpersist()
    assert(got.keySet == truth.keySet)
    val recalls = truth.toSeq.map { case (id, t) =>
      got(id).toSet.intersect(t.toSet).size.toDouble / t.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.9, s"avg recall $avg after 4 NN-Descent iterations")
  }

  test("planted clusters: the graph converges to exactly the cluster mates") {
    // ORTHOGONAL basis-vector centers: within-cluster cosine ≈ 1, cross
    // ≈ 0 for every pair — no near-parallel center pockets (random
    // Gaussian centers in low dim produce genuinely ambiguous clusters
    // where even the exact graph mixes them)
    val rnd = new scala.util.Random(77)
    val dim = 40
    val pts = (0 until 40).flatMap { c =>
      (0 until 5).map { j =>
        val v = Array.tabulate(dim)(i =>
          (if (i == c) 1.0f else 0.0f) + 0.01f * rnd.nextGaussian().toFloat)
        ((c * 5 + j).toLong, v)
      }
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = graphOf(Ann.knnGraph(df, "vec_id", "embedding", 4, 5))
    pts.foreach { case (id, _) =>
      val mates = (0 until 5).map(j => (id / 5) * 5 + j).filter(_ != id).toSet
      assert(got(id).toSet == mates,
        s"node $id neighbors ${got(id)} != cluster mates $mates")
    }
  }

  test("reruns are bit-identical (ranks and cosines included)") {
    val sub = embeddings.filter(col("vec_id") < 150)
    def run(): Set[(Long, Long, Long, Double)] =
      Ann.knnGraph(sub, "vec_id", "embedding", 8, 2)
        .select("vec_id", "nbr_id", "rank", "cosine")
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(run() == run())
  }

  test("fused-dedup top-k: one Exchange and Sort, equal to dropDuplicates + top-k") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val rnd = new scala.util.Random(11)
    // every (src, dst) pair carries one sim (as every edge producer
    // guarantees); pairs repeat up to 4 times, sims tie across dsts
    val pairs = for (src <- 0L until 40L; dst <- 0L until 25L if rnd.nextInt(3) > 0)
      yield (src, dst, rnd.nextInt(6) / 5.0)
    val edges = pairs.flatMap(p => Seq.fill(1 + rnd.nextInt(4))(p)).toDF("src", "dst", "sim")
    assert(edges.count() > edges.dropDuplicates("src", "dst").count())
    for (k <- Seq(1, 3, 8)) {
      val fused = Ann.topKDistinctPerSrc(edges, k)
      val plan = fused.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 1, plan.toString)
      assert(plan.collect { case s: SortExec => s }.size == 1, plan.toString)
      val want = Ann.topKPerSrc(edges.dropDuplicates("src", "dst"), k)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      val got = fused.as[(Long, Long, Double)].collect().sorted.toSeq
      assert(got == want && got.nonEmpty, s"k=$k")
    }
  }
}
