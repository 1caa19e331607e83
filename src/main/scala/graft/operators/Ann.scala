package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * The scale pattern for top-k against a huge corpus and a small query set
  * is broadcast-NN: broadcast the queries, stream the corpus once keeping a
  * bounded per-query heap per partition (k × Q state, independent of corpus
  * size), then merge the P × Q × k partial winners with one tiny window.
  * A naive `crossJoin + Window.partitionBy(query)` would instead shuffle
  * corpus × queries rows into Q reducer partitions — unbounded at scale.
  *
  * Cosines are accumulated left-to-right in double (index order), matching
  * the DuckDB oracle's `list_reduce` fold bit-for-bit.
  */
object Ann {

  private val outSchema = StructType(Seq(
    StructField("query_id", LongType),
    StructField("vec_id", LongType),
    StructField("cosine", DoubleType)))

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** better(x, y): higher cosine wins, ties broken by lower id. */
  /** Ceiling on the driver-collected default centroid sample of
    * [[ivfTopK]] — above it, fitted centroids are mandatory. */
  val MaxDefaultCentroids = 4096

  private val betterOrd: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  /** Exact brute-force cosine top-k of `queries` against `corpus`
    * (self-matches excluded). Result: (query_id, vec_id, cosine, rank). */
  def bruteTopK(corpus: DataFrame, idCol: String, vecCol: String,
                queries: Array[(Long, Array[Float])], k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val qB = spark.sparkContext.broadcast(
      queries.map { case (qid, v) => (qid, v, math.sqrt(dot(v, v))) })
    val partials = corpus.select(col(idCol).cast("long"), col(vecCol)).rdd
      .mapPartitions { it =>
        val qs = qB.value
        // min-heap per query: head = current worst of the kept k
        val heaps = Array.fill(qs.length)(
          mutable.PriorityQueue.empty[(Double, Long)](betterOrd))
        it.foreach { row =>
          val id = row.getLong(0)
          val v = row.getSeq[Float](1).toArray
          val nv = math.sqrt(dot(v, v))
          var q = 0
          while (q < qs.length) {
            val (qid, qv, qn) = qs(q)
            if (id != qid) {
              val c = dot(qv, v) / (qn * nv)
              val h = heaps(q)
              if (h.size < k) h.enqueue((c, id))
              else if (betterOrd.lt((c, id), h.head)) { h.dequeue(); h.enqueue((c, id)) }
            }
            q += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
          h.iterator.map { case (c, id) => Row(qs(q)._1, id, c) }
        }
      }
    val partialDf = spark.createDataFrame(partials, outSchema)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    partialDf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF-style ANN: corpus vectors are bucketed by nearest centroid; a
    * query probes only its `nprobe` nearest centroid buckets. Centroids
    * here are a deterministic sample (every `centroidStride`-th id) — a
    * production pipeline would plug in k-means means; the bucketing,
    * pruning, and search shape are identical. Bucket assignment is a
    * map-only pass against broadcast centroids; the search scans only
    * the probed fraction (~nprobe/numCentroids) of the corpus. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: Array[(Long, Array[Float])], k: Int,
              centroidStride: Int = 50, nprobe: Int = 2,
              centroidsOpt: Option[Array[(Int, Array[Float])]] = None): DataFrame = {
    val spark = corpus.sparkSession
    // default centroids: deterministic stride sample; pass kmeans(...) for
    // properly fitted ones. The sample is |corpus|/stride vectors pulled
    // to the driver, so it is guarded: beyond MaxDefaultCentroids the
    // call refuses (limit+1 probe — the scan stops early instead of
    // counting the corpus) and demands fitted centroids. Under the cap
    // the limit returns every sampled row, so selection stays
    // deterministic.
    val centroids: Array[(Int, Array[Float])] = centroidsOpt.getOrElse {
      val sampled = corpus
        .filter(col(idCol) % centroidStride === 0)
        .select(col(idCol).cast("long"), col(vecCol))
        .limit(MaxDefaultCentroids + 1)
        .collect()
      require(sampled.length <= MaxDefaultCentroids,
        s"ivfTopK's default stride-centroid sample exceeds $MaxDefaultCentroids " +
          s"vectors (centroidStride=$centroidStride) — for corpora this large " +
          "pass centroidsOpt (e.g. Ann.kmeans output) or raise centroidStride; " +
          "collecting an unbounded sample to the driver is refused")
      sampled
        .map(r => ((r.getLong(0) / centroidStride).toInt, r.getSeq[Float](1).toArray))
        .sortBy(_._1)
    }
    val cB = spark.sparkContext.broadcast(
      centroids.map { case (cid, v) => (cid, v, math.sqrt(dot(v, v))) })

    def nearestCentroids(v: Array[Float], n: Int): Seq[Int] = {
      val nv = math.sqrt(dot(v, v))
      cB.value.map { case (cid, cv, cn) => (dot(cv, v) / (cn * nv), cid) }
        .sortBy { case (c, cid) => (-c, cid) }.take(n).map(_._2).toSeq
    }

    val probes: Map[Long, Set[Int]] =
      queries.map { case (qid, qv) => qid -> nearestCentroids(qv, nprobe).toSet }.toMap
    val qB = spark.sparkContext.broadcast(
      queries.map { case (qid, v) => (qid, v, math.sqrt(dot(v, v)), probes(qid)) })

    val bucketed = corpus.select(col(idCol).cast("long"), col(vecCol)).rdd
      .mapPartitions { it =>
        it.map { row =>
          val v = row.getSeq[Float](1).toArray
          val nv = math.sqrt(dot(v, v))
          var best = -2.0; var bestC = -1
          cB.value.foreach { case (cid, cv, cn) =>
            val c = dot(cv, v) / (cn * nv)
            if (c > best || (c == best && cid < bestC)) { best = c; bestC = cid }
          }
          (row.getLong(0), v, bestC)
        }
      }
    val partials = bucketed.mapPartitions { it =>
      val qs = qB.value
      val heaps = Array.fill(qs.length)(
        mutable.PriorityQueue.empty[(Double, Long)](betterOrd))
      it.foreach { case (id, v, bucket) =>
        val nv = math.sqrt(dot(v, v))
        var q = 0
        while (q < qs.length) {
          val (qid, qv, qn, probe) = qs(q)
          if (id != qid && probe.contains(bucket)) {
            val c = dot(qv, v) / (qn * nv)
            val h = heaps(q)
            if (h.size < k) h.enqueue((c, id))
            else if (betterOrd.lt((c, id), h.head)) { h.dequeue(); h.enqueue((c, id)) }
          }
          q += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case (c, id) => Row(qs(q)._1, id, c) }
      }
    }
    val partialDf = spark.createDataFrame(partials, outSchema)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    partialDf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // -------------------------------------------------------------------
  // Persisted IVF index: the 100 TB-correct shape. `ivfTopK` above prunes
  // DISTANCE EVALUATIONS but still reads the whole corpus every call; a
  // real corpus must be assigned to centroid buckets ONCE and written
  // partitioned by bucket id, so that each query batch's probes prune the
  // SCAN itself (partition pruning: only nprobe/numCentroids of the files
  // are opened). Build is one map-only pass + one partitioned write;
  // every subsequent search is a partition-pruned read.
  // -------------------------------------------------------------------

  /** Handle to a built index: partitioned parquet + its centroid set
    * (persisted alongside the data as `_centroids.json` — the underscore
    * prefix keeps Spark/parquet from treating it as a data file). */
  case class IvfIndex(path: String, centroids: Array[(Int, Array[Float])])

  /** Nearest-centroid assignment of every corpus vector — map-only against
    * broadcast centroids; tie-break = lower centroid id (same rule as
    * ivfTopK's inline assignment, so both paths bucket identically).
    * Dispatches by k like [[clusterAssign]]: above [[AutoRouteK]]
    * centroids the flat O(k·dim)-per-row scan routes through the
    * EXACT-pruned cell walk ([[prunedBest]] — bit-equal by
    * construction, AutoAssignSpec pins it), which is what keeps a
    * 4096-bucket index ingest O((√k + scanned)·dim) per vector instead
    * of the whole job (measured: the 100× streaming IVF ingest spent
    * ~55 s PER BATCH brute-assigning 66k vectors against 4000
    * centroids). */
  def assignBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[(Int, Array[Float])]): DataFrame = {
    val spark = corpus.sparkSession
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("bucket", IntegerType)))
    val rows =
      if (centroids.length > AutoRouteK) {
        val pcB = spark.sparkContext.broadcast(buildPrunedCells(centroids,
          math.max(1, math.ceil(math.sqrt(centroids.length.toDouble)).toInt)))
        corpus.select(col(idCol).cast("long"), col(vecCol)).rdd.mapPartitions { it =>
          val pc = pcB.value
          it.map { row =>
            val v = row.getSeq[Float](1).toArray
            val nv = math.sqrt(dot(v, v))
            require(nv > 0.0,
              s"assignBuckets: zero-norm embedding at $idCol=${row.getLong(0)} — " +
                "cosine assignment is undefined; filter zero vectors upstream")
            Row(row.getLong(0), v.toSeq, prunedBest(pc, v, nv)._1)
          }
        }
      } else {
        val cB = spark.sparkContext.broadcast(
          centroids.map { case (cid, v) => (cid, v, math.sqrt(dot(v, v))) })
        corpus.select(col(idCol).cast("long"), col(vecCol)).rdd.mapPartitions { it =>
          it.map { row =>
            val v = row.getSeq[Float](1).toArray
            val nv = math.sqrt(dot(v, v))
            // zero-norm → all cosines NaN → bucket -1 → the vector silently
            // disappears from every probe-pruned search. Fail loudly instead.
            require(nv > 0.0,
              s"assignBuckets: zero-norm embedding at $idCol=${row.getLong(0)} — " +
                "cosine assignment is undefined; filter zero vectors upstream")
            var best = -2.0; var bestC = -1
            cB.value.foreach { case (cid, cv, cn) =>
              val c = dot(cv, v) / (cn * nv)
              if (c > best || (c == best && cid < bestC)) { best = c; bestC = cid }
            }
            Row(row.getLong(0), v.toSeq, bestC)
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Above this center count, [[clusterAssign]] automatically routes
    * through the EXACT-pruned path ([[clusterAssignPruned]]): the flat
    * broadcast scan is O(k·dim) per row — fine at IVF-ish k, the whole
    * job at k in the thousands — while the pruned path costs
    * O((√k + scanned)·dim) and is bit-equal by construction. 1024 ≈
    * where the routing pass (√k cell dots) stops being noise next to
    * the scan it saves. AutoAssignSpec pins bit-invariance ACROSS the
    * switch point on clustered and adversarial fixtures. */
  val AutoRouteK = 1024

  /** [[assignBuckets]] plus the winning cosine — the cluster-profiling
    * form (per-cluster member counts / cohesion need the similarity, the
    * index write does not). Same lower-cid tie-break, so assignments are
    * identical to the IVF bucketing. Dispatches by k: the flat broadcast
    * scan up to [[AutoRouteK]] centers, the EXACT-pruned
    * [[clusterAssignPruned]] above it — output is bit-identical either
    * way (AutoAssignSpec), so callers get the k-in-the-thousands shape
    * without opting in; opt into APPROXIMATE routing explicitly via
    * [[clusterAssignRouted]] when a recall/cost dial is wanted. */
  def clusterAssign(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[(Int, Array[Float])]): DataFrame =
    if (centroids.length > AutoRouteK)
      clusterAssignPruned(corpus, idCol, vecCol, centroids,
        math.max(1, math.ceil(math.sqrt(centroids.length.toDouble)).toInt))
    else clusterAssignBrute(corpus, idCol, vecCol, centroids)

  /** The flat broadcast-map scan behind [[clusterAssign]] — every center
    * dotted per row. Package-visible so AutoAssignSpec can pin the
    * pruned path's bit-equality against it above the switch point. */
  private[operators] def clusterAssignBrute(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Float])]): DataFrame = {
    val spark = corpus.sparkSession
    val cB = spark.sparkContext.broadcast(
      centroids.map { case (cid, v) => (cid, v, math.sqrt(dot(v, v))) })
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("cid", IntegerType),
      StructField("cos", DoubleType)))
    val rows = corpus.select(col(idCol).cast("long"), col(vecCol)).rdd.mapPartitions { it =>
      it.map { row =>
        val v = row.getSeq[Float](1).toArray
        val nv = math.sqrt(dot(v, v))
        // A zero-norm vector makes every cosine NaN, so no centroid ever
        // wins and the row would silently emit cid=-1/cos=-2.0 — a value
        // an oracle's NaN ordering can diverge on. Fail loudly instead
        // (same posture as q_quantize's __mx > 0 guard).
        require(nv > 0.0,
          s"clusterAssign: zero-norm embedding at $idCol=${row.getLong(0)} — " +
            "cosine assignment is undefined; filter zero vectors upstream")
        var best = -2.0; var bestC = -1
        cB.value.foreach { case (cid, cv, cn) =>
          val c = dot(cv, v) / (cn * nv)
          if (c > best || (c == best && cid < bestC)) { best = c; bestC = cid }
        }
        Row(row.getLong(0), bestC, best)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Build the persisted index: bucket-assign and write parquet
    * `partitionBy(bucket)`, centroids in a JSON sidecar. One corpus pass;
    * at scale this is the offline indexing job, amortized over every
    * query batch that follows. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, centroids: Array[(Int, Array[Float])]): IvfIndex = {
    // ONE file per bucket, not one per (task × bucket): without the
    // bucket exchange a 32-task write into a k-bucket layout emits up
    // to 32k files of a few rows each — at 4096 centroids that is file-
    // system metadata churn dominating every later scan and swap
    // (measured: the 100× ingest entry spent its ~174 s on exactly
    // this). The exchange is batch-sized rows, trivial next to the
    // write it shrinks.
    assignBuckets(corpus, idCol, vecCol, centroids)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    writeCentroidSidecar(corpus.sparkSession, path, centroids)
    IvfIndex(path, centroids)
  }

  /** The `_centroids.json` sidecar every IVF layout carries — shared by
    * build and both compaction paths. */
  private def writeCentroidSidecar(spark: org.apache.spark.sql.SparkSession,
                                   path: String,
                                   centroids: Array[(Int, Array[Float])]): Unit = {
    val json = centroids.sortBy(_._1).map { case (cid, v) =>
      s"""{"cid":$cid,"v":[${v.mkString(",")}]}"""
    }.mkString("[", ",", "]")
    val p = new org.apache.hadoop.fs.Path(path, "_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }

  /** Append new vectors to a persisted index WITHOUT rebuilding — the
    * incremental half of the fit-once/append-forever loop: assign against
    * the index's frozen centroids (so old and new rows bucket
    * identically) and append parquet files only under the touched bucket
    * partitions. Search results are indistinguishable from an index
    * built on the full corpus with the same centroids (spec-asserted);
    * re-fit centroids only when drift degrades recall, which is a new
    * index build by construction.
    *
    * NOT idempotent by default: a retried append would re-insert the same
    * ids and they would surface as duplicate candidates in search results.
    * Callers with at-least-once job semantics should pass
    * `antiJoinExisting = true`, which anti-joins the batch against the ids
    * already in the index (one partition-pruned-by-nothing read of the id
    * column only — column pruning keeps it cheap) before writing. */
  def appendToIvfIndex(index: IvfIndex, newVecs: DataFrame,
                       idCol: String, vecCol: String,
                       antiJoinExisting: Boolean = false): Unit = {
    val spark = newVecs.sparkSession
    val batch =
      if (!antiJoinExisting) newVecs.select(col(idCol), col(vecCol))
      else newVecs.select(col(idCol), col(vecCol)).join(
        ivfScan(spark, index.path).select(col("vec_id").as(idCol)),
        Seq(idCol), "left_anti")
    // spread the batch to FULL core parallelism before the CPU-heavy
    // assignment: a file-source micro-batch arrives with as many
    // partitions as source files (measured 4-5 at 100× — the per-batch
    // assignment ran near-serial), and the exchange is batch-sized rows;
    // then one file per TOUCHED bucket per append (see buildIvfIndex) —
    // also what keeps compactIvfIndexPerBucket's file-count trigger
    // meaningful
    val np = math.max(1, spark.sparkContext.defaultParallelism)
    assignBuckets(batch.repartition(np), idCol, vecCol, index.centroids)
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(index.path)
  }

  /** Re-open a GENERATION-MAINTAINED index at its root: resolves the
    * active generation ([[GenIndex.active]] — the highest committed
    * `gen-NNNNN/`, or the flat root before any compaction) and loads it.
    * The read-side half of [[graft.streaming.SedStreaming.streamingIvfIngest]]'s
    * crash-safe in-loop compaction. */
  def activeIvfIndex(spark: org.apache.spark.sql.SparkSession, root: String): IvfIndex =
    loadIvfIndex(spark, GenIndex.active(spark, root))

  /** Scan an IVF data directory's `bucket=N` partitions ONLY — every
    * IVF read goes through this instead of a bare `read.parquet(path)`
    * so that (a) a crashed, uncommitted `gen-NNNNN/` sibling under a
    * flat generation-maintained root cannot break partition discovery
    * while that root is still the active generation, and (b) an index
    * with no data yet (the empty build the streaming ingest loop starts
    * from) scans as an empty relation instead of failing schema
    * inference. Explicit bucket paths + `basePath` keep the partition
    * column and its pruning exactly as with whole-directory discovery
    * (PartitionFilters still show in `.explain`). */
  private def ivfScan(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets =
      if (!fs.exists(p)) Array.empty[String]
      else fs.listStatus(p).collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("bucket=") =>
          st.getPath.toString
      }
    if (buckets.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("bucket", IntegerType))))
    else spark.read.option("basePath", path).parquet(buckets.toIndexedSeq: _*)
  }

  /** Re-open a built index (the fit-once / query-forever loop). */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val p = new org.apache.hadoop.fs.Path(path, "_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val centroids = """\{"cid":(\d+),"v":\[([^\]]*)\]\}""".r.findAllMatchIn(text).map { m =>
      (m.group(1).toInt, m.group(2).split(',').map(_.toFloat))
    }.toArray
    IvfIndex(path, centroids)
  }

  /** Probe-pruned search against a persisted index: the probed bucket set
    * becomes a partition filter on the scan (only those directories are
    * read — check PartitionFilters in `.explain`), then the same bounded
    * per-partition heaps + tiny merge window as bruteTopK. Results are
    * identical to `ivfTopK` with the same centroids/nprobe. */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
                     queries: Array[(Long, Array[Float])], k: Int,
                     nprobe: Int = 2): DataFrame = {
    val cB = spark.sparkContext.broadcast(
      index.centroids.map { case (cid, v) => (cid, v, math.sqrt(dot(v, v))) })
    def nearestCentroids(v: Array[Float], n: Int): Seq[Int] = {
      val nv = math.sqrt(dot(v, v))
      cB.value.map { case (cid, cv, cn) => (dot(cv, v) / (cn * nv), cid) }
        .sortBy { case (c, cid) => (-c, cid) }.take(n).map(_._2).toSeq
    }
    val probes: Map[Long, Set[Int]] =
      queries.map { case (qid, qv) => qid -> nearestCentroids(qv, nprobe).toSet }.toMap
    val qB = spark.sparkContext.broadcast(
      queries.map { case (qid, v) => (qid, v, math.sqrt(dot(v, v)), probes(qid)) })
    val probedBuckets = probes.values.flatten.toSet.toSeq.sorted

    val scan = ivfScan(spark, index.path)
      .filter(col("bucket").isin(probedBuckets: _*))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val partials = scan.rdd.mapPartitions { it =>
      val qs = qB.value
      val heaps = Array.fill(qs.length)(
        mutable.PriorityQueue.empty[(Double, Long)](betterOrd))
      it.foreach { row =>
        val id = row.getLong(0)
        val v = row.getSeq[Float](1).toArray
        val bucket = row.getInt(2)
        val nv = math.sqrt(dot(v, v))
        var q = 0
        while (q < qs.length) {
          val (qid, qv, qn, probe) = qs(q)
          if (id != qid && probe.contains(bucket)) {
            val c = dot(qv, v) / (qn * nv)
            val h = heaps(q)
            if (h.size < k) h.enqueue((c, id))
            else if (betterOrd.lt((c, id), h.head)) { h.dequeue(); h.enqueue((c, id)) }
          }
          q += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case (c, id) => Row(qs(q)._1, id, c) }
      }
    }
    val partialDf = spark.createDataFrame(partials, outSchema)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    partialDf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // -------------------------------------------------------------------
  // IVF-PQ: residual int8 compression of the persisted index. The codes
  // index stores, per vector, a per-vector-scaled int8 quantization of
  // the RESIDUAL against its bucket centroid (residuals are small, so
  // 8 bits cover them tightly) — ~4x smaller on disk than the float32
  // index, so the probe-pruned candidate scan reads a quarter of the
  // bytes. Search is two phases: (1) approximate scores on reconstructed
  // vectors over the codes scan keep a top-`rerank` pool per query;
  // (2) the pool is re-ranked EXACTLY against the full-precision index,
  // reading only the probed partitions with the candidate ids pushed
  // down to the parquet row-group stats. With `rerank` >= the probed
  // row count phase 2 degenerates to searchIvfIndex exactly
  // (spec-asserted); recall at realistic rerank budgets is gated by the
  // same >= 0.9 @ nprobe=4 bar as the uncompressed index.
  // -------------------------------------------------------------------

  /** Handle to a codes index: quantized residuals at `codesPath`,
    * the full-precision index it compresses at `fullPath`. */
  case class IvfPqIndex(codesPath: String, fullPath: String,
                        centroids: Array[(Int, Array[Float])])

  /** Quantize a built [[IvfIndex]] into residual-int8 codes, partitioned
    * by the same bucket ids. One partition-preserving pass; scale =
    * 127/max|residual| per vector (scale 0 marks an exactly-centroid
    * vector, reconstructed as the centroid itself). Round half-up,
    * matching QuantizeI8's convention. */
  def buildIvfPqIndex(spark: org.apache.spark.sql.SparkSession, full: IvfIndex,
                      codesPath: String): IvfPqIndex = {
    val cB = spark.sparkContext.broadcast(full.centroids.toMap)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("code", BinaryType),
      StructField("scale", FloatType),
      StructField("bucket", IntegerType)))
    val rows = ivfScan(spark, full.path)
      .select(col("vec_id"), col("embedding"), col("bucket"))
      .rdd.mapPartitions { it =>
        val cs = cB.value
        it.map { row =>
          val v = row.getSeq[Float](1).toArray
          val bucket = row.getInt(2)
          val c = cs(bucket)
          val d = v.length
          val res = new Array[Float](d)
          var mx = 0f
          var i = 0
          while (i < d) {
            val r = v(i) - c(i); res(i) = r
            val a = math.abs(r); if (a > mx) mx = a
            i += 1
          }
          val scale = if (mx > 0f) 127f / mx else 0f
          val code = new Array[Byte](d)
          i = 0
          while (i < d) {
            code(i) = math.max(-127, math.min(127, math.round(res(i) * scale))).toByte
            i += 1
          }
          Row(row.getLong(0), code, scale, bucket)
        }
      }
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").partitionBy("bucket").parquet(codesPath)
    IvfPqIndex(codesPath, full.path, full.centroids)
  }

  /** Two-phase probe-pruned search against a codes index: approximate
    * top-`rerank` per query from the (4x smaller) codes scan, exact
    * re-rank of that pool against the full-precision index. The
    * candidate (vec_id, query_id) pair set between phases stays
    * distributed — it rides a broadcast hash join keyed on vec_id —
    * and is bounded by queries x rerank pairs (16 bytes each), which
    * the guard keeps inside a comfortable broadcast budget. */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, pq: IvfPqIndex,
                       queries: Array[(Long, Array[Float])], k: Int,
                       nprobe: Int = 2, rerank0: Int = 0): DataFrame = {
    val rerank = if (rerank0 > 0) rerank0 else 4 * k
    require(queries.length.toLong * rerank <= 4000000L,
      s"searchIvfPqIndex: candidate pool ${queries.length} x $rerank exceeds the " +
        "broadcast guard — shrink the query batch or the rerank budget")
    val cB = spark.sparkContext.broadcast(
      pq.centroids.map { case (cid, v) => (cid, v, math.sqrt(dot(v, v))) })
    def nearestCentroids(v: Array[Float], n: Int): Seq[Int] = {
      val nv = math.sqrt(dot(v, v))
      cB.value.map { case (cid, cv, cn) => (dot(cv, v) / (cn * nv), cid) }
        .sortBy { case (c, cid) => (-c, cid) }.take(n).map(_._2).toSeq
    }
    val probes: Map[Long, Set[Int]] =
      queries.map { case (qid, qv) => qid -> nearestCentroids(qv, nprobe).toSet }.toMap
    val qB = spark.sparkContext.broadcast(
      queries.map { case (qid, v) => (qid, v, math.sqrt(dot(v, v)), probes(qid)) })
    val probedBuckets = probes.values.flatten.toSet.toSeq.sorted
    val centroidMap = spark.sparkContext.broadcast(pq.centroids.toMap)

    // phase 1: approximate scores over the codes scan (partition-pruned)
    val codeScan = spark.read.parquet(pq.codesPath)
      .filter(col("bucket").isin(probedBuckets: _*))
      .select(col("vec_id"), col("code"), col("scale"), col("bucket"))
    val approx = codeScan.rdd.mapPartitions { it =>
      val qs = qB.value
      val cs = centroidMap.value
      val heaps = Array.fill(qs.length)(
        mutable.PriorityQueue.empty[(Double, Long)](betterOrd))
      it.foreach { row =>
        val id = row.getLong(0)
        val code = row.getAs[Array[Byte]](1)
        val scale = row.getFloat(2)
        val bucket = row.getInt(3)
        val c = cs(bucket)
        val d = code.length
        val vhat = new Array[Float](d)
        var i = 0
        while (i < d) {
          vhat(i) = if (scale > 0f) c(i) + code(i) / scale else c(i)
          i += 1
        }
        val nv = math.sqrt(dot(vhat, vhat))
        var q = 0
        while (q < qs.length) {
          val (qid, qv, qn, probe) = qs(q)
          if (id != qid && probe.contains(bucket)) {
            val cos = dot(qv, vhat) / (qn * nv)
            val h = heaps(q)
            if (h.size < rerank) h.enqueue((cos, id))
            else if (betterOrd.lt((cos, id), h.head)) { h.dequeue(); h.enqueue((cos, id)) }
          }
          q += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case (cos, id) => Row(qs(q)._1, id, cos) }
      }
    }
    val approxDf = spark.createDataFrame(approx, outSchema)
    val wA = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    // the same (query, id) pair can surface from several partition-local
    // heaps of the approximate phase — distinct, or the exact heap would
    // enqueue one id twice and top-k could repeat it
    val cand = approxDf.withColumn("r", row_number().over(wA))
      .filter(col("r") <= rerank).select("vec_id", "query_id").distinct()

    // phase 2: exact re-rank — probed partitions of the full index,
    // BROADCAST-joined to the phase-1 candidate pairs. The candidate set
    // never round-trips through the driver and the plan carries no
    // per-id literals (round 8 pushed a collected id list back as an
    // `isin` filter — plan size grew linearly with rerank×queries); the
    // scan keeps its partition pruning from the bucket filter, and the
    // join drops non-candidates before the embedding column is touched.
    val fullScan = ivfScan(spark, pq.fullPath)
      .filter(col("bucket").isin(probedBuckets: _*))
      .select(col("vec_id"), col("embedding"))
    val paired = fullScan.join(broadcast(cand), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("query_id"))
    val exact = paired.rdd.mapPartitions { it =>
      val qs = qB.value
      val qIdx = qs.map(_._1).zipWithIndex.toMap
      val heaps = Array.fill(qs.length)(
        mutable.PriorityQueue.empty[(Double, Long)](betterOrd))
      it.foreach { row =>
        val id = row.getLong(0)
        val v = row.getSeq[Float](1).toArray
        val q = qIdx(row.getLong(2))
        val (_, qv, qn, _) = qs(q)
        val nv = math.sqrt(dot(v, v))
        val cos = dot(qv, v) / (qn * nv)
        val h = heaps(q)
        if (h.size < k) h.enqueue((cos, id))
        else if (betterOrd.lt((cos, id), h.head)) { h.dequeue(); h.enqueue((cos, id)) }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case (cos, id) => Row(qs(q)._1, id, cos) }
      }
    }
    val exactDf = spark.createDataFrame(exact, outSchema)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    exactDf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Distributed Lloyd k-means over the embedding column, for IVF
    * centroids: assignment is a map-only pass against broadcast centroids
    * (cosine, like the search itself); the update step aggregates
    * (sum vector, count) per cluster in one shuffle. Init is
    * DETERMINISTIC k-means‖ ([[kmeansParSeeds]]) — data-content-driven,
    * not data-ORDER-driven like the previous k-smallest-ids seeding,
    * which tied centroid quality to how ids happened to correlate with
    * cluster structure. Each iteration's centroid set is tiny (k × dim)
    * and collected to the driver. */
  def kmeans(corpus: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int = 5): Array[(Int, Array[Float])] = {
    val spark = corpus.sparkSession
    // persist (id, vec) once: the seeding rounds AND every Lloyd
    // iteration re-scan it; MEMORY_AND_DISK spills instead of evicting
    val projected = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var centroids: Array[(Int, Array[Float])] =
      kmeansParSeeds(projected, k).zipWithIndex.map(_.swap)
    for (_ <- 0 until iters) {
      val cB = spark.sparkContext.broadcast(
        centroids.map { case (cid, v) => (cid, v, math.sqrt(dot(v, v))) })
      val assigned = projected.rdd.mapPartitions { it =>
        it.map { row =>
          val v = row.getSeq[Float](1).toArray
          val nv = math.sqrt(dot(v, v))
          var best = -2.0; var bestC = 0
          cB.value.foreach { case (cid, cv, cn) =>
            val c = dot(cv, v) / (cn * nv)
            if (c > best) { best = c; bestC = cid }
          }
          (bestC, v)
        }
      }
      // per-cluster mean: aggregate (sum vector, count) per cluster id
      val dim = centroids.head._2.length
      val sums = assigned.aggregateByKey((new Array[Double](dim), 0L))(
        { case ((s, n), v) => var i = 0; while (i < dim) { s(i) += v(i); i += 1 }; (s, n + 1) },
        { case ((s1, n1), (s2, n2)) =>
          var i = 0; while (i < dim) { s1(i) += s2(i); i += 1 }; (s1, n1 + n2) })
        .collect()
      centroids = sums.sortBy(_._1).map { case (cid, (s, n)) =>
        (cid, s.map(x => (x / n).toFloat))
      }
    }
    centroids
    } finally { projected.unpersist(); () }
  }

  /** splitmix64 finalizer mapped to [0, 1) — the deterministic "coin"
    * behind k-means‖ sampling: same (id, round) ⇒ same draw on any
    * cluster, any partitioning, any run. */
  private def u01(id: Long, round: Int): Double = {
    var h = id * 0x9E3779B97F4A7C15L + round * 0xC2B2AE3D27D4EB4FL
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    (h >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Deterministic k-means‖ seeding (Bahmani et al. 2012, "Scalable
    * K-Means++"): starting from the min-id vector, each of `rounds`
    * passes samples every point with probability l·d(x,C)/φ(C)
    * (d = 1 − max cosine, l = 2k oversampling, φ = total cost) using the
    * seeded [[u01]] hash as the coin — reproducible under any
    * partitioning, unlike rand(). Candidates are then weighted by the
    * number of points they are nearest to, and k seeds come out of a
    * driver-side weighted farthest-first pass over the ≤ 1+4k·rounds
    * candidates (per-round draws are HARD-capped at 4k via a bounded-heap
    * takeOrdered, so the driver contract is unconditional; ties broken by
    * candidate order). Cost: `rounds`+1
    * corpus passes of O(n·|C|) dots — the same shape as Lloyd
    * iterations, so seeding ≈ doubles the fit cost at default settings
    * while making it data-driven. Falls back to padding with min-id
    * vectors when the corpus has fewer distinct directions than k. */
  private def kmeansParSeeds(projected: DataFrame, k: Int,
                             rounds: Int = 3): Array[Array[Float]] = {
    val spark = projected.sparkSession
    val first = projected.orderBy(col(projected.columns.head)).limit(1)
      .collect()(0).getSeq[Float](1).toArray
    var cand = scala.collection.mutable.ArrayBuffer[Array[Float]](first)
    val l = 2.0 * k
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val cB = spark.sparkContext.broadcast(
        cand.toArray.map(v => (v, math.sqrt(dot(v, v)))))
      val costs = projected.rdd.mapPartitions { it =>
        it.map { row =>
          val id = row.getLong(0)
          val v = row.getSeq[Float](1).toArray
          val nv = math.sqrt(dot(v, v))
          var best = -2.0
          cB.value.foreach { case (cv, cn) =>
            val c = dot(cv, v) / (cn * nv)
            if (c > best) best = c
          }
          (id, v, math.max(0.0, 1.0 - best))
        }
      }
      val phi = costs.map(_._3).sum()
      if (phi <= 1e-12) done = true // every point sits on a candidate
      else {
        val rr = r
        // HARD driver bound: the coin passes ~l = 2k rows in expectation,
        // but a pathological cost distribution could pass many more —
        // keep only the 2l most-strongly-passing draws (smallest
        // coin-to-threshold ratio, id tie-break; a bounded-heap
        // takeOrdered, never an unbounded collect). Under the cap the
        // result is identical to the uncapped filter.
        val maxPick = 4 * k
        val picked = costs
          .filter { case (id, _, c) => u01(id, rr) < l * c / phi }
          .map { case (id, v, c) => (u01(id, rr) / (l * c / phi), id, v) }
          .takeOrdered(maxPick)(Ordering.by((t: (Double, Long, Array[Float])) => (t._1, t._2)))
          .sortBy(_._2).map(_._3)
        cand ++= picked
        r += 1
      }
    }
    // weight candidates by assignment counts (one pass), then a
    // deterministic weighted farthest-first picks k on the driver
    val cB = spark.sparkContext.broadcast(
      cand.toArray.map(v => (v, math.sqrt(dot(v, v)))))
    val weights = projected.rdd.mapPartitions { it =>
      it.map { row =>
        val v = row.getSeq[Float](1).toArray
        val nv = math.sqrt(dot(v, v))
        var best = -2.0; var bestC = 0
        var i = 0
        while (i < cB.value.length) {
          val (cv, cn) = cB.value(i)
          val c = dot(cv, v) / (cn * nv)
          if (c > best) { best = c; bestC = i }
          i += 1
        }
        (bestC, 1L)
      }
    }.reduceByKey(_ + _).collectAsMap()
    val cands = cand.toArray
    val w = cands.indices.map(i => weights.getOrElse(i, 0L).toDouble).toArray
    val norms = cands.map(v => math.sqrt(dot(v, v)))
    def d(i: Int, v: Array[Float], vn: Double): Double =
      math.max(0.0, 1.0 - dot(cands(i), v) / (norms(i) * vn))
    // greedy weighted init (argmax w·dist — the deterministic kmeans++
    // pick), then WEIGHTED LLOYD over the candidate set (the Bahmani
    // "recluster the weighted candidates" finish; the pure greedy pick
    // alone scatters seeds onto far low-weight outliers — measured
    // recall@nprobe=1 0.38 vs 0.72 without the refinement)
    val selected = scala.collection.mutable.ArrayBuffer[Int](w.indices.maxBy(i => (w(i), -i)))
    val minD = cands.indices.map(i =>
      d(i, cands(selected(0)), norms(selected(0)))).toArray
    while (selected.length < k && selected.length < cands.length) {
      var best = -1; var bestScore = -1.0
      var i = 0
      while (i < cands.length) {
        if (!selected.contains(i)) {
          val score = w(i) * minD(i)
          if (score > bestScore) { bestScore = score; best = i }
        }
        i += 1
      }
      if (best < 0 || bestScore <= 0.0) {
        selected ++= cands.indices.filterNot(selected.contains).take(k - selected.length)
      } else {
        selected += best
        var j = 0
        while (j < cands.length) {
          val dd = d(j, cands(best), norms(best))
          if (dd < minD(j)) minD(j) = dd
          j += 1
        }
      }
    }
    var seeds = selected.take(k).map(cands).toArray
    var iter = 0
    var moved = true
    while (iter < 50 && moved) {
      val sn = seeds.map(v => math.sqrt(dot(v, v)))
      val sums = Array.fill(seeds.length)(new Array[Double](cands(0).length))
      val wsum = new Array[Double](seeds.length)
      var i = 0
      while (i < cands.length) {
        var best = -2.0; var bi = 0
        var s = 0
        while (s < seeds.length) {
          val c = dot(seeds(s), cands(i)) / (sn(s) * norms(i))
          if (c > best) { best = c; bi = s }
          s += 1
        }
        var q = 0
        while (q < cands(i).length) { sums(bi)(q) += w(i) * cands(i)(q); q += 1 }
        wsum(bi) += w(i)
        i += 1
      }
      moved = false
      val next = seeds.indices.map { s =>
        if (wsum(s) <= 0.0) seeds(s) // empty seed keeps its position
        else {
          val nv = sums(s).map(x => (x / wsum(s)).toFloat)
          if (!java.util.Arrays.equals(nv, seeds(s))) moved = true
          nv
        }
      }.toArray
      seeds = next
      iter += 1
    }
    if (seeds.length >= k) seeds
    else { // degenerate corpus: pad with min-id vectors, dedupe by content
      val pad = projected.orderBy(col(projected.columns.head)).limit(k * 2)
        .collect().map(_.getSeq[Float](1).toArray)
      (seeds ++ pad).distinctBy(_.toSeq).take(k)
    }
  }

  /** Collect a small query set (id, vector) to the driver for broadcast. */
  def collectQueries(df: DataFrame, idCol: String, vecCol: String): Array[(Long, Array[Float])] =
    df.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  /** Compact an IVF index into one file per bucket partition at a new
    * path — the periodic maintenance job behind streaming ingest
    * (foreachBatch appends write one file per bucket per micro-batch;
    * scan cost grows with file count, not data). `repartition(bucket)`
    * hash-exchanges so each bucket lands wholly in one task, and the
    * partitionBy write then emits exactly one file per bucket. Content
    * is untouched — search results are bit-identical (spec-pinned).
    * Writes to a fresh path (an in-place rewrite would race readers);
    * production swaps the path atomically (rename / view flip). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      index: IvfIndex, destPath: String): IvfIndex = {
    ivfScan(spark, index.path)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(destPath)
    writeCentroidSidecar(spark, destPath, index.centroids)
    IvfIndex(destPath, index.centroids)
  }

  /** Move one immutable parquet file into the next generation WITHOUT
    * reading it: a hard link on a local filesystem (O(1) metadata — GC
    * of the source generation later just drops one inode reference), a
    * raw byte copy elsewhere (no parquet decode/shuffle/encode, ~10×
    * cheaper than a Spark rewrite and still no job launch). Safe because
    * index part files are immutable once written — appends always create
    * NEW files, so a linked inode is never mutated under the new
    * generation. */
  private[operators] def linkOrCopyFile(fs: org.apache.hadoop.fs.FileSystem,
                             src: org.apache.hadoop.fs.Path,
                             dst: org.apache.hadoop.fs.Path,
                             conf: org.apache.hadoop.conf.Configuration): Unit = {
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        return
      } catch { case _: java.io.IOException | _: UnsupportedOperationException => () }
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    ()
  }

  /** CHURN-PROPORTIONAL compaction — the 100 TB form of
    * [[compactIvfIndex]]: only buckets whose part-file count exceeds
    * `rewriteFilesOver` are rewritten (each to one file); quiet buckets
    * move into the new generation by hard link / raw copy, never through
    * a Spark job. Cost is O(touched buckets' data + a metadata op per
    * quiet file) instead of O(index size), so an in-loop generation swap
    * over a mostly-cold index costs what the hot buckets cost — the
    * whole-index rewrite made every swap proportional to the corpus,
    * which at 100 TB is a scale-killer (VERDICT r14 #1). FRESH-
    * DESTINATION CONTRACT: `destPath` must differ from `index.path` and
    * must not already contain bucket directories — the busy-bucket pass
    * writes mode("append") and the quiet pass hard-links, so a dirty or
    * self-targeted destination would silently duplicate rows or destroy
    * the source mid-copy; both are checked loudly at entry (GenIndex
    * generation dirs satisfy the contract by construction). Content is
    * bit-identical to [[compactIvfIndex]]'s output (same rows, same
    * files for quiet buckets; IvfGenSpec pins search equality and
    * quiet-file preservation); per-bucket file counts stay bounded by
    * `rewriteFilesOver` + appends-per-swap-interval. Returns
    * (rewrittenBuckets, linkedBuckets) for receipts. */
  def compactIvfIndexPerBucket(spark: org.apache.spark.sql.SparkSession,
                               index: IvfIndex, destPath: String,
                               rewriteFilesOver: Int = 4): (Int, Int) = {
    require(rewriteFilesOver >= 1, "rewriteFilesOver must be >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new org.apache.hadoop.fs.Path(index.path)
    val fs = srcP.getFileSystem(conf)
    // fresh-destination contract (see scaladoc): resolved-path identity
    // would append the index onto itself; a pre-populated dest would
    // double rows through the append + link passes
    def resolved(p: String) =
      org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
        fs.makeQualified(new org.apache.hadoop.fs.Path(p))).toString
    require(resolved(index.path) != resolved(destPath),
      s"compactIvfIndexPerBucket: destPath must differ from index.path " +
        s"(both resolve to ${resolved(destPath)}) — an append into the " +
        "read path duplicates or destroys the index")
    val destPre = new org.apache.hadoop.fs.Path(destPath)
    require(!fs.exists(destPre) ||
      fs.listStatus(destPre).forall(st =>
        !(st.isDirectory && st.getPath.getName.startsWith("bucket="))),
      s"compactIvfIndexPerBucket: destPath $destPath already contains " +
        "bucket directories — per-bucket compaction requires a fresh " +
        "generation directory (appends would duplicate rows)")
    val buckets: Array[(org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.Path])] =
      if (!fs.exists(srcP)) Array.empty
      else fs.listStatus(srcP).collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("bucket=") =>
          (st.getPath, fs.listStatus(st.getPath).collect {
            case f if f.isFile && f.getPath.getName.endsWith(".parquet") => f.getPath
          })
      }
    val (busy, quiet) = buckets.partition(_._2.length > rewriteFilesOver)
    val destP = new org.apache.hadoop.fs.Path(destPath)
    fs.mkdirs(destP)
    if (busy.nonEmpty)
      spark.read.option("basePath", index.path)
        .parquet(busy.map(_._1.toString).toIndexedSeq: _*)
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(destPath)
    quiet.foreach { case (dir, parts) =>
      val destBucket = new org.apache.hadoop.fs.Path(destP, dir.getName)
      fs.mkdirs(destBucket)
      parts.foreach(p =>
        linkOrCopyFile(fs, p, new org.apache.hadoop.fs.Path(destBucket, p.getName), conf))
    }
    writeCentroidSidecar(spark, destPath, index.centroids)
    (busy.length, quiet.length)
  }

  /** Batch IVF search where the query set is a DATAFRAME, not a driver
    * array — the durable shape for production query batches that don't
    * fit a broadcast. Probe assignment stays a map-only pass against the
    * broadcast centroid set (tiny by construction — the same array the
    * index was built from), emitting one (query_id, bucket, qvec) row
    * per probe; those rows then meet the bucket-partitioned index in ONE
    * equi-join on `bucket`, cosine is the native codegen FloatVecDot
    * expression, and top-k is a window over query_id. No query vector
    * ever rides through the driver and the plan carries no per-id
    * literals, so the same code covers 50 queries (AQE broadcasts the
    * probe side) and 10M queries (both sides shuffle on bucket).
    *
    * Result-identical to [[searchIvfIndex]] on the same inputs: probe
    * selection (cos DESC, cid), ranking (cos DESC, id) and the
    * self-match exclusion use the same rules, and the column cosine is
    * the same left-to-right double fold as the driver-side math (IEEE
    * `*` and the fold order make them bit-equal), so the two paths — and
    * the q_ann_ivf DuckDB oracle — agree exactly. */
  def searchIvfJoin(index: IvfIndex, queriesDf: DataFrame, idCol: String,
                    vecCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    val spark = queriesDf.sparkSession
    val cB = spark.sparkContext.broadcast(
      index.centroids.map { case (cid, v) => (cid, v, math.sqrt(dot(v, v))) })
    val probeSchema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("bucket", IntegerType),
      StructField("qvec", ArrayType(FloatType))))
    val probeRows = queriesDf.select(col(idCol).cast("long"), col(vecCol)).rdd
      .mapPartitions { it =>
        val cs = cB.value
        it.flatMap { row =>
          val qid = row.getLong(0)
          val v = row.getSeq[Float](1).toArray
          val nv = math.sqrt(dot(v, v))
          cs.map { case (cid, cv, cn) => (dot(cv, v) / (cn * nv), cid) }
            .sortBy { case (c, cid) => (-c, cid) }.take(nprobe)
            .map { case (_, cid) => Row(qid, cid, v.toSeq) }
        }
      }
    val probed = spark.createDataFrame(probeRows, probeSchema)
    val corpus = ivfScan(spark, index.path)
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val cos = graft.functions.VectorFunctions.cosine(col("embedding"), col("qvec"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(probed, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cos.as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // ---------------------------------------------------------------------
  // NN-Descent k-NN graph (round 11)
  // ---------------------------------------------------------------------

  /** Deterministic top-k per `src` by (sim DESC, dst ASC). */
  private[operators] def topKPerSrc(edges: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)
    edges.withColumn("__r", row_number().over(w)).filter(col("__r") <= k).drop("__r")
  }

  /** [[topKPerSrc]] over an edge set that may still carry duplicate
    * (src, dst) rows — r18 (guide §2.4): every duplicate carries the
    * IDENTICAL sim by construction (cosine is a pure function of the two
    * vectors, and every producer evaluates the same expression on the
    * same checkpointed vectors), so inside the ranking window duplicates
    * sort ADJACENT (equal sim, equal dst) and a lag(dst) check drops
    * them in the same hash(src) exchange + sort the rank already pays.
    * The dropDuplicates("src","dst") this replaces cost a second full
    * exchange of the per-iteration edge union — the largest skinny
    * relation in the loop. The second Window reuses the first's sort
    * order (no extra Sort/Exchange; asserted by KnnGraphSpec's fused-
    * dedup plan test and pinned equal to dropDuplicates + row_number on
    * duplicate-heavy fixtures). */
  private[operators] def topKDistinctPerSrc(edges: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)
    edges
      .withColumn("__dup", lag("dst", 1).over(w) === col("dst"))
      .filter(col("__dup").isNull || !col("__dup"))
      .withColumn("__r", row_number().over(w)).filter(col("__r") <= k)
      .drop("__dup", "__r")
  }

  /** Broadcast budget for [[knnGraph]]'s vector-attach joins, in bytes of
    * (id, vec) payload: a corpus of `n` vectors of `dim` floats fits when
    * n·(8 + 4·dim) is within it (2M rows of 64 dims, 528 MB, still do;
    * the per-row norm and the hash relation's overhead stay far under
    * Spark's 8 GB broadcast cap). A fitting table rides an explicit
    * broadcast, so the candidate relations are scored map-side; above
    * it the id-keyed shuffled joins return unchanged. */
  private[operators] val MaxKnnBroadcastBytes = 512L << 20

  private[operators] def knnBroadcastFits(n: Long, dim: Int): Boolean =
    n * (8L + 4L * dim) <= MaxKnnBroadcastBytes

  /** Approximate k-NN GRAPH over the whole corpus — NN-Descent (Dong,
    * Moses & Li, WWW 2011 "Efficient K-Nearest Neighbor Graph
    * Construction for Generic Similarity Measures"): the all-pairs
    * companion of the query-set searches above, and the standard input
    * of graph-based semantic dedup / diversity filtering. A brute-force
    * graph is an n² cross join; NN-Descent converges on O(iters · n·k²)
    * candidate edges by exploiting that a neighbor's neighbor is likely
    * a neighbor.
    *
    * Fully deterministic, Spark-first: init buckets ids by
    * xxhash64 mod ⌈n/(k+1)⌉ (content-independent but data-ORDER-
    * independent; every bucket's all-pairs edges are exact) — one
    * equi-join, no cross join. Each iteration: (1) general neighbors =
    * forward ∪ top-k reverse edges, (2) the LOCAL JOIN — neighbors of
    * the same pivot pair up as candidates (a self-equi-join on the
    * pivot, O(k²) per node), (3) candidate cosines via two id-keyed
    * joins against the vectors (broadcast when the corpus provably
    * fits — r18, so the candidate relation is scored map-side and the
    * vector payload never shuffles), (4) union with current edges,
    * deterministic dedup+re-rank to top-k per node in ONE exchange
    * (topKDistinctPerSrc). Every per-iteration frame
    * is localCheckpointed (flat lineage). Ties break (sim DESC, dst
    * ASC) everywhere, so reruns are bit-identical; DedupAnnSpec gates
    * recall ≥ 0.9 vs the exact graph and exact convergence on planted
    * clusters. Returns (vec_id, nbr_id, rank, cosine). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int = 3): DataFrame = {
    require(k >= 1 && iters >= 0)
    val vecs = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .localCheckpoint(true)
    // the row count and the widest vector, in one job
    val (n, dim) = {
      val r = vecs.agg(count(lit(1)), max(size(col("v")))).first()
      (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
    }
    // NN-Descent's convergence rides on graph CONNECTIVITY, which small
    // k starves (with k = 4 the shared-pivot discovery probability per
    // pair per iteration drops below ~50% and stragglers persist for
    // many rounds — measured on planted clusters). Descend with a
    // working list of max(k, 10) and cut to k only at the end.
    val kw = math.max(k, 10)
    val nBuckets = math.max(1L, n / (kw + 1))
    // r18 (guide §3.1/§8): candidate pairs are decided on SKINNY
    // (src, dst) rows and the (8 + 4·dim)-byte vector payload is attached
    // only at scoring time, via a broadcast of the checkpointed vector
    // table when it provably fits (n and dim are exact here — the planner cannot
    // see them through the checkpoint). Before this, every iteration's
    // scoring joins shuffled the candidate relation twice — the second
    // time carrying the attached src vector payload — and the init
    // bucket join shuffled the payload ×3 groupings. Map-side scoring
    // removes every payload-carrying exchange; an inner equi-join's
    // result is join-strategy-independent, so output is bit-identical.
    // norms precomputed ONCE per corpus row (cosine = dot/(√dot·√dot)
    // costs three vector folds per pair; carrying √dot(v,v) through the
    // attach join leaves one fold + one multiply + one divide per pair —
    // the identical doubles in the identical order, so sims are
    // bit-for-bit unchanged)
    val dotc = graft.functions.VectorFunctions.dot _
    val normc = graft.functions.VectorFunctions.norm _
    def score(pairs: DataFrame): DataFrame = {
      val sv = vecs.select(col("id").as("src"), col("v").as("__sv"),
        normc(col("v")).as("__sn"))
      val dv = vecs.select(col("id").as("dst"), col("v").as("__dv"),
        normc(col("v")).as("__dn"))
      val (s1, d1) =
        if (knnBroadcastFits(n, dim)) (broadcast(sv), broadcast(dv))
        else (sv, dv)
      pairs.join(s1, "src").join(d1, "dst")
        .select(col("src"), col("dst"),
          (dotc(col("__sv"), col("__dv")) / (col("__sn") * col("__dn"))).as("sim"))
    }
    // init: THREE independent hash groupings, all-pairs within each
    // ~(k+1)-sized bucket. One grouping alone seeds disjoint CLIQUES —
    // closed under the neighbor-of-neighbor join, so NN-Descent could
    // never leave them (measured: recall froze at the init level); the
    // union of independent groupings is an expander-like graph the
    // descent traverses. Self-joins rename columns per side (never
    // frame aliases over a shared subtree — Spark resolves both `a.x`
    // and `b.x` to the SAME attribute there, silently degenerating the
    // predicate).
    val bucketed = vecs
      .select(explode(sequence(lit(1L), lit(3L))).as("__j"), col("id"))
      .withColumn("__b", concat_ws("_", col("__j"),
        pmod(xxhash64(col("id"), col("__j")), lit(nBuckets))))
      .select("__b", "id")
    var edges = topKDistinctPerSrc(score(
      bucketed.withColumnRenamed("id", "src")
        .join(bucketed.withColumnRenamed("id", "dst"), "__b")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")),
      kw).localCheckpoint(true)
    var it = 0
    while (it < iters) {
      val fwd = edges.select(col("src"), col("dst"))
      // reverse edges capped at k per node: an over-popular hub would
      // otherwise make its local join quadratic in its in-degree
      val rev = topKPerSrc(
        edges.select(col("dst").as("src"), col("src").as("dst"), col("sim")), kw)
        .select(col("src"), col("dst"))
      // plus a FRESH random grouping each iteration (hash seeded by the
      // iteration number): pure descent over a fixed start plateaus —
      // local joins only ever recombine what the init graph can reach;
      // the per-iteration exploration bucket re-links the graph across
      // plateau components at O(n·k) extra candidate pairs
      val explore = vecs
        .withColumn("__b", pmod(xxhash64(col("id"), lit(100L + it)), lit(nBuckets)))
        .select(col("__b"), col("id"))
      val exploreEdges = explore
        .withColumnRenamed("id", "src")
        .join(explore.withColumnRenamed("id", "dst"), "__b")
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      // incremental new/old candidate pruning (Dong et al. 2011 §2.3) was
      // tried and REFUTED here (r18, KnnBench 100× receipt): the fresh
      // per-iteration exploration bucket injects ~n new adjacencies every
      // round, so old×old pivot pairs are a small slice of the local join
      // — candidate distinct volume was unchanged (0.44 GB shuffle write
      // per iteration either way) while the gen-vs-prevGen anti-join
      // bookkeeping added ~6 s (87.7 → 94.2 s end-to-end). Kept simple.
      val gen = fwd.unionByName(rev).unionByName(exploreEdges).distinct()
      val cand = gen.select(col("src").as("__p"), col("dst").as("__d1"))
        .join(gen.select(col("src").as("__p"), col("dst").as("__d2")), "__p")
        .filter(col("__d1") < col("__d2"))
        .select(col("__d1").as("src"), col("__d2").as("dst"))
        .distinct()
      val scored = score(cand)
      val sym = scored.unionByName(
        scored.select(col("dst").as("src"), col("src").as("dst"), col("sim")))
      // fused dedup+rank (topKDistinctPerSrc): edges ∪ sym may repeat a
      // pair (already-known edge rescored, or both directions of an
      // existing edge) — always with the identical sim, so the lag-based
      // dedup inside the rank's own sort replaces the former
      // dropDuplicates("src","dst") exchange over the iteration's
      // largest relation
      edges = topKDistinctPerSrc(edges.unionByName(sym), kw)
        .localCheckpoint(true)
      it += 1
    }
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)
    edges.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src").as("vec_id"), col("dst").as("nbr_id"),
        col("rank"), col("sim").as("cosine"))
  }

  /** Hard cap on [[kcenterCoreset]]'s k: every round is a full corpus
    * pass plus a 1-row driver pick, and the selected set rides the
    * exclusion filter as a plan literal — 256 keeps both bounded the way
    * [[MaxDefaultCentroids]] does for centroid tables. */
  val MaxKcenterK = 256

  /** Greedy k-center coreset selection (Gonzalez 1985, the classic
    * 2-approximation of the metric k-center cover — the standard
    * diversity/prototype sampler of data-pruning and coreset pipelines):
    * the seed is the lowest-id vector, and each subsequent pick is the
    * corpus point FARTHEST (cosine distance, ties to the lower id) from
    * everything selected so far. Returns k rows (sel_rank, vec_id, r_u):
    * r_u is the covering radius of the first `sel_rank` centers in exact
    * integer micro-units — the picked point's min distance at pick time —
    * and NULL for the seed. Fully deterministic, and every distance is an
    * IEEE-identical double (FloatVecDot left fold, hardware sqrt, one
    * divide), so the whole selection trajectory replays engine-exactly:
    * the driver entry's oracle unrolls all k rounds, radii included.
    *
    * Scale shape: greedy k-center is inherently k-pass — per round ONE
    * map-only running-min update over (id, vec, norm, mindist, picked)
    * and ONE single-row partial aggregation (`max_by` over a unique
    * (mindist, −id) key: per-partition top-1 partials tournament-merge
    * into the global argmax — never a sort, and the driver receives
    * exactly one row per round, like the classifier's gradient rows).
    * Pick exclusion rides a boolean `__sel` column folded into the
    * per-round checkpointed state, so the plan holds NO literal that
    * grows with k. The corpus state localCheckpoints per round so round
    * i never re-derives rounds 0..i−1; nothing shuffles — the only
    * exchanges are the k single-row picks. Zero-norm embeddings fail
    * loudly in-plan (cosine distance is undefined; same posture as
    * [[clusterAssign]]). For k beyond [[MaxKcenterK]] use
    * [[kcenterSampled]] — sample-then-solve with no per-round corpus
    * pass at all. */
  def kcenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1 && k <= MaxKcenterK,
      s"k must be in [1, $MaxKcenterK] — each round is a full corpus pass; " +
        "for k beyond the cap use kcenterSampled")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val seedRows = base.orderBy(col("id")).limit(1).collect()
    require(seedRows.nonEmpty, "kcenterCoreset needs a non-empty corpus")
    def vecOf(r: org.apache.spark.sql.Row): Array[Float] = r.getSeq[Float](1).toArray
    def distTo(cVec: Array[Float]): org.apache.spark.sql.Column = {
      val cn = math.sqrt(fdot(cVec, cVec))
      lit(1.0) - org.apache.spark.sql.graft.FloatVecDot(col("v"), typedlit(cVec)) /
        (col("__n") * lit(cn))
    }
    val seedId = seedRows(0).getLong(0)
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])](
      (0L, seedId, None))
    // __n + coalesce(assert_true(..), 0): the guard can't be pruned (the
    // norm every distance divides by depends on it) and adds exactly 0.0
    // on the pass path, keeping every double IEEE-identical to the
    // unguarded form the unrolled oracle replays.
    var cur = base
      .withColumn("__n", sqrt(org.apache.spark.sql.graft.FloatVecDot(col("v"), col("v"))))
      .withColumn("__n", col("__n") + coalesce(
        assert_true(col("__n") > lit(0.0),
          concat(lit("kcenterCoreset: zero-norm embedding at id="), col("id"),
            lit(" — cosine distance is undefined; filter zero vectors upstream")))
          .cast("double"), lit(0.0)))
      .withColumn("__m", distTo(vecOf(seedRows(0))))
      .withColumn("__sel", col("id") === lit(seedId))
      .localCheckpoint(true)
    (1 until k).foreach { i =>
      val top = cur.filter(!col("__sel"))
        .agg(max_by(struct(col("id"), col("v"), col("__m")),
          struct(col("__m"), negate(col("id")))).as("__t"))
        .select(col("__t.id"), col("__t.v"), col("__t.__m"))
        .collect()
      require(top.nonEmpty && !top(0).isNullAt(0),
        s"kcenterCoreset: corpus has fewer than $k vectors")
      val r = top(0)
      val pid = r.getLong(0)
      picked += ((i.toLong, pid,
        Some(math.floor(r.getDouble(2) * 1e6 + 0.5).toLong)))
      if (i < k - 1)
        cur = cur.withColumn("__m", least(col("__m"), distTo(vecOf(r))))
          .withColumn("__sel", col("__sel") || col("id") === lit(pid))
          .localCheckpoint(true)
    }
    picked.toSeq.toDF("sel_rank", "vec_id", "r_u")
  }

  private def fdot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def clamp1(x: Double): Double = math.max(-1.0, math.min(1.0, x))

  /** EXACT cluster assignment for k in the thousands — the automatic
    * continuation of [[clusterAssign]] above [[AutoRouteK]]: centers
    * group driver-side into `cells` routing cells (stride-sampled, each
    * center joined to its nearest cell — the [[clusterAssignRouted]]
    * layout) and each cell records the MAX ANGLE from its seed to its
    * members. Per corpus row, cells scan in descending routing-cosine
    * order under a spherical triangle-inequality bound: every member c
    * of cell Z satisfies angle(v,c) >= angle(v,Z) - angle(Z,c) >=
    * a - r(Z), so cos(max(0, a - r(Z))) bounds any member's cosine from
    * ABOVE — a cell whose bound is STRICTLY below the best cosine found
    * so far cannot contain the winner (nor tie it, so the lower-cid
    * tie-break cannot be stolen by a skipped cell) and is skipped
    * without touching its members. r is inflated by 1e-7 rad so
    * acos/cos rounding can only widen the bound — pruning stays
    * conservative and the output is BIT-EQUAL to the flat scan
    * (AutoAssignSpec pins it on clustered, uniform, and
    * duplicate-center-across-cells fixtures). Cost per row:
    * cells·dim routing + only the unpruned cells' members; on clustered
    * centers that is O((√k + k/√k)·dim) with cells = ⌈√k⌉, worst case
    * (nothing prunes — e.g. all centers equidistant) the flat scan plus
    * the √k routing overhead. */
  def clusterAssignPruned(corpus: DataFrame, idCol: String, vecCol: String,
                          centers: Array[(Int, Array[Float])],
                          cells: Int): DataFrame = {
    val spark = corpus.sparkSession
    val pcB = spark.sparkContext.broadcast(buildPrunedCells(centers, cells))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("cid", IntegerType),
      StructField("cos", DoubleType)))
    val rows = corpus.select(col(idCol).cast("long"), col(vecCol)).rdd.mapPartitions { it =>
      val pc = pcB.value
      it.map { row =>
        val v = row.getSeq[Float](1).toArray
        val nv = math.sqrt(dot(v, v))
        require(nv > 0.0,
          s"clusterAssignPruned: zero-norm embedding at ${row.getLong(0)} — " +
            "cosine assignment is undefined; filter zero vectors upstream")
        val (bestC, best) = prunedBest(pc, v, nv)
        Row(row.getLong(0), bestC, best)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Driver-precomputed routing structure behind the EXACT-pruned scans
    * ([[clusterAssignPruned]] and the auto-routed [[assignBuckets]]):
    * stride-sampled routing cells, members grouped by nearest cell, and
    * each cell's max member angle inflated by 1e-7 rad so acos/cos
    * rounding can only WIDEN the bound. */
  private case class PrunedCells(
      cellVecs: Array[Array[Float]], cellNorms: Array[Double],
      grouped: Map[Int, Array[(Int, Array[Float], Double)]],
      radius: Map[Int, Double])

  private def buildPrunedCells(centers: Array[(Int, Array[Float])],
                               cells: Int): PrunedCells = {
    require(cells >= 1 && centers.nonEmpty)
    val sorted = centers.sortBy(_._1)
    val stride = math.max(1, sorted.length / cells)
    val cellVecs = sorted.indices.collect {
      case i if i % stride == 0 => sorted(i)._2
    }.take(cells).toArray
    val cellNorms = cellVecs.map(v => math.sqrt(dot(v, v)))
    require(cellNorms.forall(_ > 0.0), "zero-norm routing cell")
    val grouped: Map[Int, Array[(Int, Array[Float], Double)]] =
      sorted.map { case (cid, v) =>
        val nv = math.sqrt(dot(v, v))
        require(nv > 0.0, s"clusterAssignPruned: zero-norm center $cid")
        val cell = cellVecs.indices
          .map(c => (dot(cellVecs(c), v) / (cellNorms(c) * nv), c))
          .minBy { case (cos, c) => (-cos, c) }._2
        (cell, (cid, v, nv))
      }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    // max member angle per cell, inflated so fp rounding can only widen
    val radius: Map[Int, Double] = grouped.map { case (c, ms) =>
      c -> (ms.iterator.map { case (_, v, nv) =>
        math.acos(clamp1(dot(cellVecs(c), v) / (cellNorms(c) * nv)))
      }.max + 1e-7)
    }
    PrunedCells(cellVecs, cellNorms, grouped, radius)
  }

  /** The per-row exact-pruned winner — BIT-EQUAL to the flat broadcast
    * scan by construction (spherical triangle-inequality bound, same
    * (cos DESC, cid) tie-break; see [[clusterAssignPruned]]'s scaladoc). */
  private def prunedBest(pc: PrunedCells, v: Array[Float], nv: Double): (Int, Double) = {
    // descending routing cosine: the likeliest-winning cells scan
    // first, raising `best` early so later bounds prune more
    val cv = pc.cellVecs; val cn = pc.cellNorms
    val order = cv.indices
      .map(c => (dot(cv(c), v) / (cn(c) * nv), c))
      .sortBy { case (cos, c) => (-cos, c) }
    var best = -2.0; var bestC = -1
    order.foreach { case (cellCos, cell) =>
      pc.grouped.get(cell).foreach { cs =>
        val bound = math.cos(math.max(0.0,
          math.acos(clamp1(cellCos)) - pc.radius(cell)))
        // `bound` is capped at cos(0)=1.0 but member cosines are NOT
        // clamped (bit-equality with the flat scan forbids it) and can
        // exceed 1.0 by fp rounding when a row equals a center
        // bitwise; compare against min(best, 1.0) so a cell holding an
        // equal-cosine lower-cid duplicate center is never pruned by
        // that excess
        if (bound >= math.min(best, 1.0)) {
          var i = 0
          while (i < cs.length) {
            val (cid, cvec, cnorm) = cs(i)
            val c = dot(cvec, v) / (cnorm * nv)
            if (c > best || (c == best && cid < bestC)) { best = c; bestC = cid }
            i += 1
          }
        }
      }
    }
    (bestC, best)
  }

  /** [[clusterAssign]] for center counts in the THOUSANDS — the
    * brute-force broadcast map is O(k·dim) per row, which at k = 4096
    * over 100 TB is the whole job. This routes instead: the centers are
    * grouped driver-side into `cells` routing cells (stride-sampled
    * from the centers themselves, every center assigned to its nearest
    * cell — the IVF shape applied to the CENTER TABLE, k rows, not the
    * corpus), and each corpus vector scans only the centers of its
    * `nprobe` nearest cells — O((cells + k·nprobe/cells)·dim) per row.
    * Approximate by construction (a vector's true nearest center can
    * sit in an unprobed cell); with nprobe >= cells it degrades to the
    * exact scan and EQUALS [[clusterAssign]] bit-for-bit (RoutedAssignSpec
    * pins it, plus planted-cluster exactness under real pruning and a
    * >= 0.95 agreement gate on smooth data). Ties: higher cosine wins,
    * then lower center id — identical to [[clusterAssign]]. */
  def clusterAssignRouted(corpus: DataFrame, idCol: String, vecCol: String,
                          centers: Array[(Int, Array[Float])],
                          cells: Int, nprobe: Int): DataFrame = {
    require(cells >= 1 && nprobe >= 1 && centers.nonEmpty)
    val spark = corpus.sparkSession
    // routing cells: every (k/cells)-th center by id order (the
    // strideCentroids convention); each center then joins its nearest
    // cell — all driver-side over the k-row center table
    val sorted = centers.sortBy(_._1)
    val stride = math.max(1, sorted.length / cells)
    val cellVecs = sorted.indices.collect {
      case i if i % stride == 0 => sorted(i)._2
    }.take(cells).toArray
    val cellNorms = cellVecs.map(v => math.sqrt(dot(v, v)))
    require(cellNorms.forall(_ > 0.0), "zero-norm routing cell")
    def nearestCells(v: Array[Float], nv: Double, n: Int): Array[Int] =
      cellVecs.indices
        .map(c => (dot(cellVecs(c), v) / (cellNorms(c) * nv), c))
        .sortBy { case (cos, c) => (-cos, c) }
        .take(n).map(_._2).toArray
    val grouped: Map[Int, Array[(Int, Array[Float], Double)]] =
      sorted.map { case (cid, v) =>
        val nv = math.sqrt(dot(v, v))
        require(nv > 0.0, s"clusterAssignRouted: zero-norm center $cid")
        (nearestCells(v, nv, 1)(0), (cid, v, nv))
      }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val gB = spark.sparkContext.broadcast(grouped)
    val cellB = spark.sparkContext.broadcast((cellVecs, cellNorms))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("cid", IntegerType),
      StructField("cos", DoubleType)))
    val np = math.min(nprobe, cellVecs.length)
    val rows = corpus.select(col(idCol).cast("long"), col(vecCol)).rdd.mapPartitions { it =>
      val (cv, cn) = cellB.value
      val groups = gB.value
      it.map { row =>
        val v = row.getSeq[Float](1).toArray
        val nv = math.sqrt(dot(v, v))
        require(nv > 0.0,
          s"clusterAssignRouted: zero-norm embedding at ${row.getLong(0)} — " +
            "cosine assignment is undefined; filter zero vectors upstream")
        // nprobe nearest cells (ties to lower cell index)
        val order = cv.indices
          .map(c => (dot(cv(c), v) / (cn(c) * nv), c))
          .sortBy { case (cos, c) => (-cos, c) }
        var best = -2.0; var bestC = -1
        var p = 0
        while (p < np) {
          val cell = order(p)._2
          groups.get(cell).foreach { cs =>
            var i = 0
            while (i < cs.length) {
              val (cid, cvec, cnorm) = cs(i)
              val c = dot(cvec, v) / (cnorm * nv)
              if (c > best || (c == best && cid < bestC)) { best = c; bestC = cid }
              i += 1
            }
          }
          p += 1
        }
        // degenerate guard: every probed cell empty (possible when many
        // cells share identical seed vectors) — fall back to the exact scan
        if (bestC == -1) groups.valuesIterator.foreach { cs =>
          var i = 0
          while (i < cs.length) {
            val (cid, cvec, cnorm) = cs(i)
            val c = dot(cvec, v) / (cnorm * nv)
            if (c > best || (c == best && cid < bestC)) { best = c; bestC = cid }
            i += 1
          }
        }
        Row(row.getLong(0), bestC, best)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Ceiling on [[kcenterSampled]]'s driver-resident sample: 1<<16 rows
    * of a dim-64 float vector is 16 MiB — the same bounded-collect class
    * as [[MaxDefaultCentroids]]' centroid table. */
  val MaxKcenterSample = 1 << 16

  /** Greedy k-center for k in the THOUSANDS — sample-then-solve, the
    * standard scale continuation of [[kcenterCoreset]] (a uniform sample
    * preserves k-center structure for well-clustered data; Gonzalez on
    * the sample is then exact). Three bounded steps, none per-round:
    * (1) ONE corpus pass takes the m rows with the smallest
    * xxhash64(id, seed) — a deterministic uniform sample, TakeOrdered
    * per-partition top-m then driver merge; (2) Gonzalez runs to k picks
    * driver-locally over the sample arrays, O(k·m·dim) flops with no
    * Spark job per round; (3) results return as a DataFrame. Seeding and
    * tie-breaks mirror [[kcenterCoreset]] exactly (lowest sampled id
    * seeds; farthest-then-lowest-id picks; IEEE-identical left-fold
    * dot/sqrt/divide arithmetic), so when m >= corpus size the output
    * EQUALS the exact operator row-for-row (KcenterSpec pins it) — the
    * oracle-eligible certification path. k has no MaxKcenterK cap here;
    * it is bounded only by the sample (k <= m <= [[MaxKcenterSample]]).
    * Zero-norm embeddings fail loudly, as in [[clusterAssign]]. */
  def kcenterSampled(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, m: Int, seed: Long = 42L): DataFrame = {
    require(m >= 1 && m <= MaxKcenterSample,
      s"sample size m must be in [1, $MaxKcenterSample] — the sample is driver-resident")
    require(k >= 1 && k <= m, s"k must be in [1, m=$m]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        xxhash64(col(idCol).cast("long"), lit(seed)).as("__h"))
      .orderBy(col("__h"), col("id")).limit(m)
      .collect()
    require(sample.length >= k,
      s"kcenterSampled: corpus has fewer than $k vectors")
    val ids = sample.map(_.getLong(0))
    val vecs = sample.map(_.getSeq[Float](1).toArray)
    val norms = vecs.zip(ids).map { case (v, id) =>
      val n = math.sqrt(fdot(v, v))
      require(n > 0.0,
        s"kcenterSampled: zero-norm embedding at $idCol=$id — " +
          "cosine distance is undefined; filter zero vectors upstream")
      n
    }
    val n = sample.length
    // seed = lowest sampled id (mirrors kcenterCoreset's lowest-id seed)
    var seedIx = 0
    (1 until n).foreach(i => if (ids(i) < ids(seedIx)) seedIx = i)
    val mind = new Array[Double](n)
    def updateFrom(c: Int): Unit = {
      val cv = vecs(c); val cn = norms(c)
      var i = 0
      while (i < n) {
        val d = 1.0 - fdot(vecs(i), cv) / (norms(i) * cn)
        if (d < mind(i)) mind(i) = d
        i += 1
      }
    }
    java.util.Arrays.fill(mind, Double.PositiveInfinity)
    val selected = new Array[Boolean](n)
    selected(seedIx) = true
    updateFrom(seedIx)
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])](
      (0L, ids(seedIx), None))
    (1 until k).foreach { r =>
      var best = -1
      var i = 0
      while (i < n) {
        if (!selected(i) &&
            (best == -1 || mind(i) > mind(best) ||
              (mind(i) == mind(best) && ids(i) < ids(best)))) best = i
        i += 1
      }
      picked += ((r.toLong, ids(best),
        Some(math.floor(mind(best) * 1e6 + 0.5).toLong)))
      selected(best) = true
      if (r < k - 1) updateFrom(best)
    }
    picked.toSeq.toDF("sel_rank", "vec_id", "r_u")
  }
}
