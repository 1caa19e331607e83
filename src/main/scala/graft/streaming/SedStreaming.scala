package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.BinAxis

/** Structured-Streaming forms of the sed pipeline (the reference is
  * batch-only on Dask; the streaming shapes below are the incremental
  * equivalents the brief requires).
  *
  * Design: the per-event transform chain is the SAME Column algebra as
  * batch (map-only — streaming-safe by construction). Aggregations become
  * windowed state: watermark + groupBy(window, bins) for histograms;
  * keyed `flatMapGroupsWithState` for order-dependent fills.
  */
object SedStreaming {

  /** Incremental N-d histogram over an event-time window: one row per
    * (window, bin...) with a running count, late data bounded by the
    * watermark. State size = windows-in-flight × non-empty bins (bounded
    * by the bin-count product), independent of event rate. */
  def streamingHistogram(events: DataFrame, tsCol: String, watermark: String,
                         windowDuration: String, axes: Seq[BinAxis]): DataFrame = {
    val inRange = axes.map(a => a.inRange(events(a.col))).reduce(_ && _)
    val idxCols = axes.map(a => a.idx(events(a.col)).as(a.idxName))
    events.withWatermark(tsCol, watermark)
      .filter(inRange)
      .select(col(tsCol) +: idxCols: _*)
      .groupBy(window(col(tsCol), windowDuration) +: axes.map(a => col(a.idxName)): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Acquisition sessionization: contiguous bursts of events per key with
    * no gap longer than `gapDuration` collapse into one session row
    * (start, end, n_events). Uses Spark's native session_window state —
    * state per in-flight session, not per event. */
  def sessionize(events: DataFrame, tsCol: String, keyCol: String,
                 watermark: String, gapDuration: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gapDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Stream-stream enrichment join: attach sensor readings taken within
    * `toleranceSec` BEFORE each event (the streaming analogue of
    * dfops.py:124 add_time_stamped_data). Spark requires an equality key
    * for stream-stream joins, so both sides are keyed on a coarse
    * `toleranceSec`-wide time bucket; each sensor reading is duplicated
    * into its own and the NEXT bucket so every in-tolerance (event,
    * reading) pair shares a key, then the exact event-time range predicate
    * prunes. Both sides watermarked → join state is bounded. */
  def enrichWithSensor(events: DataFrame, sensor: DataFrame,
                       eventTs: String, sensorTs: String,
                       watermark: String, toleranceSec: Int): DataFrame = {
    // the q_stream_enrich exactness argument (result == the batch
    // tolerance join for ANY chunking of in-order feeds) needs the
    // watermark delay to EXCEED the join tolerance — a sensor row a
    // future event still needs must outlive eviction. Misconfiguration
    // would silently drop matches; fail loudly at build instead.
    val wm = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    require(wm.months == 0, s"watermark '$watermark' must not use months (ambiguous length)")
    val wmMicros = wm.days * 86400000000L + wm.microseconds
    require(wmMicros > toleranceSec * 1000000L,
      s"watermark delay '$watermark' must exceed the join tolerance " +
        s"($toleranceSec s) — otherwise in-tolerance matches can be " +
        "evicted before the later side arrives")
    def bucket(c: Column): Column = floor(unix_timestamp(c) / toleranceSec)
    val e = events.withWatermark(eventTs, watermark)
      .withColumn("__bk", bucket(col(eventTs)))
    val s = sensor.withWatermark(sensorTs, watermark)
      .withColumn("__bk", explode(array(bucket(col(sensorTs)), bucket(col(sensorTs)) + 1)))
    e.join(s, Seq("__bk"))
      .filter(col(sensorTs) <= col(eventTs) &&
        col(sensorTs) >= col(eventTs) - expr(s"INTERVAL $toleranceSec SECONDS"))
      .drop("__bk")
  }

  /** Streaming exact dedup at ingest: drop events whose content hash was
    * already seen within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — state is one entry per distinct
    * hash inside the horizon, evicted as the watermark passes; unbounded
    * exact dedup is impossible on an infinite stream, so the horizon IS
    * the contract). The batch analogue is Dedup.exact keep-first. */
  def streamingDedup(events: DataFrame, tsCol: String, contentCol: String,
                     watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .withColumn("__h", md5(col(contentCol).cast("string")))
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  /** Streaming forward-fill of `valueCol` within each `keyCol` group, in
    * arrival order within each micro-batch: nulls inherit the last
    * non-null seen for that key, carried across batches in GroupState —
    * the streaming analogue of dfops.py:202 forward_fill_lazy (state is
    * one value per key, not per row). */
  def streamingForwardFill(events: DataFrame, keyCol: String, orderCol: String,
                           valueCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      // key kept as STRING: a blind numeric cast would turn non-numeric
      // keys into NULL and blow up inside the encoder at runtime
      .selectExpr(s"CAST($keyCol AS STRING) AS k", s"CAST($orderCol AS BIGINT) AS o",
        s"CAST($valueCol AS DOUBLE) AS v")
      .as[(String, Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Double, (String, Long, Option[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, Option[Double])], state: GroupState[Double]) =>
          var last: Option[Double] = state.getOption
          val out = rows.toSeq.sortBy(_._2).map { case (k, o, v) =>
            v match {
              case Some(x) => last = Some(x); (k, o, Some(x))
              case None => (k, o, last)
            }
          }
          last.foreach(state.update)
          out.iterator
      }
      .toDF(keyCol, orderCol, valueCol)
  }

  /** Streaming BACKWARD AS-OF enrichment — the online twin of
    * `operators.AsOf.asofJoin`: one time-ordered stream whose rows are
    * events to enrich, readings, or both (`readingCol` non-null marks a
    * reading); every row emits once with the latest at-or-before reading
    * for its key. State per key is ONE (sts, sensor_id, reading) triple
    * — three scalars, never a row list — carried across micro-batches;
    * at 1e9 events state is |keys|×24 bytes.
    *
    * Batch-equality contract (shared oracle VERBATIM where replay order
    * allows): within a micro-batch, rows sort by (ts, id) and process in
    * equal-ts runs — all READINGS of the run fold into state first (id
    * ascending, so the max-id reading per timestamp wins, matching the
    * batch entry's ROW_NUMBER dedup), then every row of the run emits
    * with the updated state: at-or-before '>= ' inclusive semantics fall
    * out, exactly DuckDB's `ASOF LEFT JOIN ON l.ts >= r.ts`. Across
    * batches the staged feed is ts-ascending and equal-ts rows never
    * split (range partitioner), so state carries the boundary exactly —
    * the same argument as [[streamingForwardFill]]. A feed with
    * out-of-order arrivals beyond the staging contract would enrich
    * against a newer reading than batch; that replay-order caveat is the
    * entry's documented premise. */
  def streamingAsofEnrich(events: DataFrame, keyCol: String, tsCol: String,
                          idCol: String, readingCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS BIGINT) AS k", s"CAST($tsCol AS BIGINT) AS o",
        s"CAST($idCol AS BIGINT) AS i", s"CAST($readingCol AS DOUBLE) AS r")
      .as[(Long, Long, Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Double),
        (Long, Long, Long, Option[Long], Option[Long], Option[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, Option[Double])],
         state: GroupState[(Long, Long, Double)]) =>
          var last: Option[(Long, Long, Double)] = state.getOption
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          val out = Seq.newBuilder[(Long, Long, Long, Option[Long], Option[Long], Option[Double])]
          var idx = 0
          while (idx < sorted.length) {
            val t = sorted(idx)._2
            var j = idx
            // phase 1: fold the equal-ts run's readings into state
            while (j < sorted.length && sorted(j)._2 == t) {
              val (_, _, i, r) = sorted(j)
              r.foreach { v =>
                if (last.forall(_._1 <= t)) last = Some((t, i, v))
              }
              j += 1
            }
            // phase 2: emit every row of the run against the updated state
            var m = idx
            while (m < j) {
              val (_, o, i, _) = sorted(m)
              out += ((key, i, o, last.map(_._2), last.map(_._1), last.map(_._3)))
              m += 1
            }
            idx = j
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF(keyCol, idCol, tsCol, "sensor_id", "sts_us", "reading")
  }

  /** Streaming conversion funnel: per-user greedy stage progression over
    * an event-time-ordered feed, the online twin of
    * `operators.EventAnalytics.funnel`. State per user is (depth,
    * t_last) — two scalars, never an event list. A row is emitted ONLY
    * on a stage advance (user_id, stage_idx, t), each advance exactly
    * once over the stream's lifetime (progression is monotone), so
    * append mode is exact and the sink holds one row per (user, reached
    * stage).
    *
    * Greedy-equals-batch: processing events in ascending event time,
    * "advance when type == stages(depth) and ts > t_last" finds exactly
    * the batch chain's first-qualifying time per stage. Equal-timestamp
    * order is irrelevant: a same-ts event can never advance past the
    * stage that just consumed that timestamp (strict >), so any tie
    * order yields the same final depth. Within a micro-batch the group
    * iterator is sorted by ts (bounded by batch size); across batches
    * the caller must stage the feed time-ordered (stageFileStream).
    */
  def streamingFunnel(events: DataFrame, stages: Seq[String],
                      userCol: String = "user_id", typeCol: String = "event_type",
                      tsCol: String = "ts_us"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // the type→index map cannot represent a stage sequence that repeats
    // a type (the batch chain CAN — e.g. a,b,a); refuse rather than
    // silently diverge from the batch operator
    require(stages.distinct == stages,
      s"streamingFunnel requires distinct stage types, got $stages")
    val stageIdx: Map[String, Int] = stages.zipWithIndex.toMap
    events
      .selectExpr(s"CAST($userCol AS BIGINT) AS u", s"CAST($tsCol AS BIGINT) AS o",
        s"CAST($typeCol AS STRING) AS t")
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), (Long, Int, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, String)], state: GroupState[(Int, Long)]) =>
          var (depth, tLast) = state.getOption.getOrElse((0, Long.MinValue))
          val out = Seq.newBuilder[(Long, Int, Long)]
          rows.toSeq.sortBy(_._2).foreach { case (_, ts, tp) =>
            if (depth < stages.length && stageIdx.get(tp).contains(depth) && ts > tLast) {
              out += ((key, depth, ts))
              depth += 1; tLast = ts
            }
          }
          state.update((depth, tLast))
          out.result().iterator
      }
      .toDF(userCol, "stage_idx", "t")
  }

  /** Streaming first-order transition extraction: per-user last-event-
    * type state (one string per user); every arriving event with a
    * predecessor emits (user, prev_type, next_type) exactly once, in
    * append mode — the online twin of
    * `operators.EventAnalytics.transitions`, whose lag the in-order
    * replay reproduces exactly (same (ts, event_id) tie-break). The
    * caller folds the emitted edge log to the transition matrix. */
  def streamingTransitions(events: DataFrame, userCol: String = "user_id",
                           typeCol: String = "event_type", tsCol: String = "ts_us",
                           idCol: String = "event_id"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // NULL types contribute no transition pair — same explicit drop as
    // the batch operator and its oracle's WHERE clause.
    events
      .filter(col(typeCol).isNotNull)
      .selectExpr(s"CAST($userCol AS BIGINT) AS u", s"CAST($tsCol AS BIGINT) AS o",
        s"CAST($idCol AS BIGINT) AS i", s"CAST($typeCol AS STRING) AS t")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[String, (Long, String, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, String)], state: GroupState[String]) =>
          var last: Option[String] = state.getOption
          val out = Seq.newBuilder[(Long, String, String)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, tp) =>
            last.foreach(p => out += ((key, p, tp)))
            last = Some(tp)
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF(userCol, "prev_type", "next_type")
  }

  /** Streaming active-week extraction for cohort retention: per-user
    * state is the SET of epoch-week indices seen (calendar-bounded — a
    * few dozen longs per user, never an event list); a (user, week) row
    * is emitted exactly once, on first sight, so append mode is exact.
    * The caller folds the sink to retention cells (cohort = min emitted
    * week per user) — correct under ANY arrival order, since the
    * emitted set is order-independent and the cohort is computed at
    * fold time. Online twin of `EventAnalytics.retention`. */
  def streamingRetention(events: DataFrame, userCol: String = "user_id",
                         tsCol: String = "ts_us"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val weekUs = graft.operators.EventAnalytics.WeekUs
    events
      .selectExpr(s"CAST($userCol AS BIGINT) AS u", s"CAST($tsCol AS BIGINT) AS o")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Long], (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long)], state: GroupState[Seq[Long]]) =>
          var seen = state.getOption.getOrElse(Seq.empty[Long]).toSet
          val out = Seq.newBuilder[(Long, Long)]
          rows.foreach { case (_, ts) =>
            // Truncating division (Java `/`) matches the batch operator's
            // Spark `div` and the DuckDB oracle's `//` for negative ts_us;
            // Math.floorDiv would diverge on pre-epoch timestamps.
            val w = ts / weekUs
            if (!seen(w)) { seen += w; out += ((key, w)) }
          }
          state.update(seen.toSeq)
          out.result().iterator
      }
      .toDF(userCol, "w")
  }

  /** Streaming MinHash-LSH NEAR-duplicate candidate detection at ingest —
    * the incremental twin of the batch `Dedup.minhashCandidates` stage.
    * Each arriving document is signed and banded with the same codegen
    * expressions as batch (ShingleHashes → MinHashSigs → bandKey), then
    * each (band, key) bucket checks a keyed state table holding the
    * EARLIEST (event time, id) seen for that key inside the watermark
    * horizon. A document colliding with an earlier one emits
    * (band, dup_id, keeper_id) in append mode as it arrives; a document
    * that emits nothing is unique-so-far.
    *
    * Scale shape: state is ONE (ts, id) pair per live band key — bucket
    * MEMBERSHIP is never stored, so an arriving doc emits at most
    * numBands rows and there is no quadratic pair expansion (the batch
    * stage's maxBucket guard has nothing to guard here). Per bucket the
    * emitted pairs are the STAR (keeper, x) rather than batch's
    * all-pairs — the same connected components, which is what dedup
    * consumes. Like [[streamingDedup]], the watermark horizon IS the
    * dedup scope (unbounded lookback would need unbounded state):
    * state times out once the event-time watermark passes `watermark`
    * beyond the key's last activity. A late-but-in-horizon arrival
    * EARLIER than the current keeper becomes the new keeper and the old
    * keeper is emitted as its dup — every doc except the bucket's final
    * keeper appears as dup at most once per band.
    */
  def streamingLshCandidates(docs: DataFrame, idCol: String, tsCol: String,
                             textCol: String, watermark: String,
                             numHashes: Int = 12, rowsPerBand: Int = 3,
                             shingleN: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val numBands = numHashes / rowsPerBand
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    // same column algebra as Dedup.minhashSignatures (tokens materialized
    // once — no CSE inside higher-order lambdas; sig array materialized
    // once — bandKey references it rowsPerBand times per band)
    val banded = docs.withWatermark(tsCol, watermark)
      .filter(size(toks) >= shingleN)
      .withColumn("__toks", toks)
      .withColumn("__sh", org.apache.spark.sql.graft.ShingleHashes(col("__toks"), shingleN))
      .withColumn("__sigs", org.apache.spark.sql.graft.MinHashSigs(col("__sh"), numHashes))
      .select(col(tsCol).as("__ts"), col(idCol).cast("long").as("__id"),
        explode(array((0 until numBands).map { b =>
          struct(lit(b).as("band"),
            graft.functions.TextFunctions.bandKey((0 until rowsPerBand).map(r =>
              element_at(col("__sigs"), b * rowsPerBand + r + 1))).as("key"))
        }: _*)).as("__bk"))
      .select(col("__ts"), col("__id"),
        col("__bk.band").as("__band"), col("__bk.key").as("__key"))

    banded.as[(java.sql.Timestamp, Long, Int, Long)]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState[(Long, Long), (Int, Long, Long, java.sql.Timestamp)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((band, _), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r._1.getTime, r._2))
            var keeper = state.getOption // (keeper ts millis, keeper id)
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Int, Long, Long, java.sql.Timestamp)]
            var maxMs = 0L
            sorted.foreach { case (ts, id, _, _) =>
              val ms = ts.getTime
              maxMs = math.max(maxMs, ms)
              keeper match {
                case None => keeper = Some((ms, id))
                case Some((kMs, kId)) =>
                  if (ms < kMs || (ms == kMs && id < kId)) {
                    // late arrival precedes the keeper: it takes over,
                    // the old keeper is now the bucket's dup
                    out += ((band, kId, id, ts))
                    keeper = Some((ms, id))
                  } else if (id != kId) out += ((band, id, kId, ts))
              }
            }
            keeper.foreach(state.update)
            // evict once the watermark passes `watermark` beyond this
            // bucket's newest event (timeout must exceed the current
            // watermark or the call throws on already-late buckets)
            state.setTimeoutTimestamp(
              math.max(maxMs, state.getCurrentWatermarkMs() + 1), watermark)
            out.iterator
          }
      }
      .toDF("band", "dup_id", "keeper_id", "ts")
  }

  /** Benchmark-decontamination flag AT INGEST: each arriving document is
    * scored against a driver-built Bloom filter over the eval set's
    * shingle hashes — `n_maybe_contam` = how many of the doc's distinct
    * shingle hashes the filter might contain. Stateless map-only column
    * algebra (append mode, no watermark, no join): the deployed shape
    * for the cheap gate that runs on every arriving document, with the
    * exact (semi-join) pass running offline over the flagged subset.
    * Bloom filters have no false negatives, so a document the exact
    * decontamination would flag ALWAYS has n_maybe_contam > 0 here —
    * the flag is safe to route on (spec-pinned). */
  def streamingDecontaminate(docs: DataFrame, idCol: String, textCol: String,
                             bloom: org.apache.spark.broadcast.Broadcast[
                               org.apache.spark.util.sketch.BloomFilter],
                             shingleN: Int): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    docs
      .withColumn("__toks", toks)
      .filter(size(col("__toks")) >= shingleN)
      .withColumn("__hits", filter(
        array_distinct(org.apache.spark.sql.graft.ShingleHashes(col("__toks"), shingleN)),
        h => org.apache.spark.sql.graft.BloomMightContainLong(h, bloom)))
      .select(col(idCol), size(col("__hits")).cast("long").as("n_maybe_contam"))
      .filter(col("n_maybe_contam") > 0)
  }

  /** Character-level substring dedup AT INGEST — the streaming form of the
    * incremental ExactSubstr loop (Dedup.buildSubstringIndex /
    * incrementalSubstringDedup / appendToSubstringIndex): each arriving
    * micro-batch trims against the PERSISTED winnowed-anchor index plus
    * itself, writes its merged trim spans under `outPath/batch=<id>`, and
    * admits its own anchors + text into the index so the NEXT batch pairs
    * against it. Per-batch cost O(|batch| + matched rows); the corpus is
    * never rescanned. The very first batch (no index on disk yet) runs the
    * from-scratch anchored operator on itself — identical to probing an
    * empty index — and founds the index from its docs.
    *
    * Contracts and guarantees:
    *  - batches must arrive in ascending-id order (the batch operator's
    *    monotone ingestion contract; `stageFileStream` on the id column
    *    satisfies it — range partitions are id-disjoint and replay in
    *    order);
    *  - foreachBatch runs micro-batches SERIALLY, so each append is
    *    visible before the next probe by construction;
    *  - a replayed feed's accumulated spans EQUAL the from-scratch
    *    anchored operator over the whole corpus (StreamingSubstrSpec —
    *    induction over IncrementalSubstrSpec's single-batch equality);
    *  - RESTART-SAFE: span output is per-batch overwrite (a replayed
    *    batch rewrites its own partition, never duplicates), and a
    *    replayed index append is result-idempotent — anchors anti-join
    *    away already-indexed hashes, and duplicate text rows only fan
    *    out extension seeds that the operator's final `distinct`
    *    re-collapses (compaction reclaims the space at maintenance
    *    cadence).
    *
    * RETENTION (round 16, completing the family): `retention(batchId)`
    * > Long.MinValue turns that compaction into a dropBefore — anchors
    * whose earliest occurrence predates the horizon retire, the text
    * store physically drops pre-horizon docs, tombstones go durable
    * under `${outPath}_tombstones/batch=<id>` BEFORE the swap commits,
    * and later batches RE-FOUND returning retired content under fresh
    * owners (ChunkSubstrRetentionSpec semantics; under the driver gate
    * via q_stream_retention_substr). A horizon past every id leaves a
    * readable empty store (writeTextsReadable's schema marker). */
  def streamingSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
                              indexPath: String, outPath: String, ckPath: String,
                              minLen: Int, k: Int = 16, w: Int = 25,
                              compactEvery: Int = 0,
                              retention: Long => Long = _ => Long.MinValue)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = b.sparkSession
        val delta = b.toDF()
        val active = graft.operators.GenIndex.active(s, indexPath)
        val anchorsPath = new org.apache.hadoop.fs.Path(s"$active/anchors")
        val textsPath = new org.apache.hadoop.fs.Path(s"$active/texts")
        val fs = anchorsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        // both halves must exist: a crash between buildSubstringIndex's
        // two writes leaves anchors/ without texts/, and the incremental
        // path would wedge on the missing texts read — an incomplete
        // index re-founds from scratch instead (overwrite repairs it)
        val hasIndex = fs.exists(anchorsPath) && fs.exists(textsPath)
        if (hasIndex) {
          val (spans, cleanup) = graft.operators.Dedup
            .incrementalSubstringDedupManaged(
              s, delta, idCol, textCol, active, minLen, k, w)
          spans.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          graft.operators.Dedup.appendToSubstringIndex(
            s, delta, idCol, textCol, active, k, w)
          cleanup()
        } else {
          graft.operators.Dedup.substringDedupAnchored(
              delta, idCol, textCol, minLen, k, w)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          graft.operators.Dedup.buildSubstringIndex(
            delta, idCol, textCol, active, k, w)
        }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          val horizon = retention(batchId)
          graft.operators.GenIndex.compact(s, indexPath) { (src, dest) =>
            if (horizon == Long.MinValue)
              graft.operators.Dedup.compactSubstringIndex(s, src, dest)
            else
              graft.operators.Dedup.compactSubstringIndexDropBefore(
                  s, src, dest, horizon)
                .write.mode("overwrite")
                .parquet(s"${outPath}_tombstones/batch=$batchId")
          }
          ()
        }
      }
      .option("checkpointLocation", ckPath)
      .start()

  /** Leakage-safe train/val/test splitting AT INGEST — the streaming
    * face of Dedup.leakageSafeSplit and the last offline-only decision
    * of the cleaning pipeline: each arriving micro-batch is clustered
    * against the persisted split index (exact hash + LSH + Jaccard
    * verify + batch-local CC over label proxies), assigned its clusters'
    * splits, written under `outPath/batch=<id>`, and admitted so later
    * batches join the same clusters. When a batch MERGES two clusters
    * previously assigned different splits, the min label's split wins
    * (corpus-order-first, like every dedup operator) — exactly the
    * from-scratch result, so the accumulated index's final assignment
    * (Dedup.splitIndexAssignment) EQUALS leakageSafeSplit over the whole
    * corpus, merge case included (SplitIngestSpec; q_stream_leakage_split
    * shares the batch oracle verbatim on that equality).
    *
    * CONSUMPTION CONTRACT of the per-batch outputs: a doc's at-ingest
    * split under `outPath/batch=<id>` is final UNLESS a later batch
    * merges its cluster into a lower label — those re-keys are emitted
    * as a CORRECTIONS stream under `${outPath}_corrections/batch=<id>`
    * (old_label, new_label, new_split; empty on merge-free batches). A
    * consumer either folds each batch's corrections over its accumulated
    * rows in batch order (join on cluster_label = old_label; re-keys
    * chain downward), which converges to Dedup.splitIndexAssignment
    * without re-reading the corpus — SplitIngestSpec pins "at-ingest
    * outputs + corrections == final assignment" on the merge fixture —
    * or re-resolves against the index at epoch end.
    *
    * Contracts: ascending-id batches (stageFileStream on doc_id) —
    * enforced at run time by the index's `_ingest_max` guard;
    * foreachBatch serializes batches so each admit is visible to the
    * next probe; RESTART-SAFE because every index table is append-only
    * with replay-absorbing semantics (label corrections resolve by min,
    * duplicate band/shingle rows collapse in candidate distinct/CC) and
    * hashes/ — the new-rep gate — commits last; span AND corrections
    * output are per-batch overwrite. Per-batch cost O(|batch| +
    * matched): the batch side broadcasts into every index probe, the
    * corpus is never rescanned into a shuffle (StreamSplitStress
    * receipts flat per-batch cost as the index grows). With
    * `compactEvery` > 0 the persisted index compacts in-loop every that
    * many batches through a crash-safe generation swap
    * ([[graft.operators.GenIndex]]) — file counts stay bounded over
    * long feeds and a crash at ANY point of the swap leaves the
    * previous generation active. */
  def streamingLeakageSplit(docs: DataFrame, idCol: String, textCol: String,
                            seed: String, indexPath: String, outPath: String,
                            ckPath: String,
                            numHashes: Int = 12, rowsPerBand: Int = 3,
                            shingleN: Int = 3, minJaccard: Double = 0.8,
                            maxBucket: Int = 10000, compactEvery: Int = 0,
                            retention: Long => Long = _ => Long.MinValue)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = b.sparkSession
        val active = graft.operators.GenIndex.active(s, indexPath)
        val r = graft.operators.Dedup.splitIndexIngestStaged(
          s, b.toDF(), idCol, textCol, seed, active,
          numHashes, rowsPerBand, shingleN, minJaccard, maxBucket)
        // batch outputs go durable BEFORE the index appends; on an exact
        // replay of the last batch, already-written files are KEPT — a
        // replay against a partially-appended index cannot re-derive the
        // corrections (the merge is already folded into clusters/), so
        // the pre-crash files are the authoritative ones
        val conf = s.sparkContext.hadoopConfiguration
        def writeUnlessReplayed(df: org.apache.spark.sql.DataFrame,
                                dir: String): Unit = {
          val p = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
          if (!(r.replayOfLastBatch && p.getFileSystem(conf).exists(p)))
            df.write.mode("overwrite").parquet(dir)
        }
        writeUnlessReplayed(r.assigned, s"$outPath/batch=$batchId")
        writeUnlessReplayed(r.corrections,
          s"${outPath}_corrections/batch=$batchId")
        r.commit()
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          // retention(batchId) > MinValue turns this compaction into a
          // dropBefore: clusters wholly older than the horizon retire,
          // and their TOMBSTONES go durable under _tombstones/batch=<id>
          // BEFORE the swap commits (a crash in between leaves the
          // previous generation active and the tombstone files unread —
          // the consumer contract reads tombstones only for batches
          // whose compaction committed, which resolving the active
          // generation makes observable)
          val horizon = retention(batchId)
          graft.operators.GenIndex.compact(s, indexPath) { (src, dest) =>
            if (horizon == Long.MinValue)
              // churn-proportional: base tiers link, delta tier folds
              // (round 16); retention swaps stay whole-rewrite — a
              // horizon filter must visit every row anyway
              graft.operators.Dedup.compactSplitIndexDelta(s, src, dest, maxBucket)
            else
              graft.operators.Dedup.compactSplitIndexDropBefore(
                  s, src, dest, horizon, maxBucket)
                .write.mode("overwrite")
                .parquet(s"${outPath}_tombstones/batch=$batchId")
          }
          ()
        }
      }
      .option("checkpointLocation", ckPath)
      .start()

  /** Frame-sampled VIDEO dedup AT INGEST — the streaming form of
    * Multimodal.videoCdcDedup over the persisted chunk index
    * (Dedup.incrementalCdcDedup): each arriving micro-batch of video
    * payloads derives its frame-token sequences, chunk-classifies them
    * against the index plus itself, writes its per-video report under
    * `outPath/batch=<id>`, and admits its new chunk hashes. A video's
    * report is FINAL at ingest (corpus-order-first means later arrivals
    * can never change it), so the accumulated reports EQUAL the
    * from-scratch batch operator row-for-row under monotone-id feeds
    * (ChunkIngestSpec) — which is why q_stream_video_dedup shares
    * q_video_cdc_dedup's oracle VERBATIM. Per-batch cost
    * O(|batch| + matched); crash replay is idempotent (per-batch
    * overwrite output, hash-append absorbed by the probe). */
  def streamingVideoDedup(docs: DataFrame, idCol: String, payloadCol: String,
                          indexPath: String, outPath: String, ckPath: String,
                          frameBytes: Int, stride: Int,
                          w: Int = 16, div: Int = 32, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = b.sparkSession
        val active = graft.operators.GenIndex.active(s, indexPath)
        val seqs = graft.operators.Multimodal.frameTokenSeqs(
            b.toDF(), idCol, payloadCol, frameBytes, stride)
          .localCheckpoint(true) // feeds the classifier AND the n_frames join
        graft.operators.Dedup.incrementalCdcDedup(
            s, seqs, "doc_id", "__fstr", active, w, div)
          .join(seqs.select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("n_frames")), Seq("doc_id"))
          .select("doc_id", "n_frames", "n_chunks", "n_dup_chunks", "dup_chars")
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          // LSM-style: base tier links, delta folds O(churn)
          graft.operators.GenIndex.compact(s, indexPath) { (src, dest) =>
            graft.operators.Dedup.compactChunkIndexDelta(s, src, dest)
            ()
          }
        ()
        }
      }
      .option("checkpointLocation", ckPath)
      .start()

  /** TEXT CDC-chunk dedup AT INGEST over the persisted chunk index
    * (Dedup.incrementalCdcDedup) — the text twin of
    * [[streamingVideoDedup]], plus the RETENTION hook the split loop
    * carries: each micro-batch chunk-classifies against the active
    * generation plus itself, writes its per-doc report under
    * `outPath/batch=<id>` (final at ingest — corpus-order-first), and
    * every `compactEvery` batches the index compacts through a
    * crash-safe generation swap; `retention(batchId)` > Long.MinValue
    * turns that compaction into a dropBefore — chunk hashes owned
    * before the horizon retire, their tombstones go durable under
    * `outPath_tombstones/batch=<id>` BEFORE the swap commits, and
    * later batches RE-FOUND returning content under fresh owners
    * (ChunkSubstrRetentionSpec semantics, now under the driver gate
    * via q_stream_retention_chunks). */
  def streamingCdcDedup(docs: DataFrame, idCol: String, textCol: String,
                        indexPath: String, outPath: String, ckPath: String,
                        w: Int = 16, div: Int = 32, compactEvery: Int = 0,
                        retention: Long => Long = _ => Long.MinValue)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = b.sparkSession
        val active = graft.operators.GenIndex.active(s, indexPath)
        graft.operators.Dedup.incrementalCdcDedup(
            s, b.toDF(), idCol, textCol, active, w, div)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          val horizon = retention(batchId)
          graft.operators.GenIndex.compact(s, indexPath) { (src, dest) =>
            if (horizon == Long.MinValue) {
              // LSM-style: base tier links, delta folds O(churn)
              graft.operators.Dedup.compactChunkIndexDelta(s, src, dest)
              ()
            }
            else
              graft.operators.Dedup.compactChunkIndexDropBefore(
                  s, src, dest, horizon)
                .write.mode("overwrite")
                .parquet(s"${outPath}_tombstones/batch=$batchId")
          }
          ()
        }
      }
      .option("checkpointLocation", ckPath)
      .start()

  /** Streaming EXACT-DEDUP ingest over the generation-maintained dedup
    * index (graft.operators.Dedup.dedupIndexIngest): each micro-batch is
    * classified against the ACTIVE generation (dup_corpus / dup_delta /
    * near_corpus / new), its per-batch classification goes durable under
    * `outPath/batch=<id>`, its new docs admit themselves so later
    * batches classify against them, and every `compactEvery` batches
    * the index compacts through a crash-safe generation swap. Restart
    * semantics are the managed step's: exact replays are admitted and
    * SELF-REPAIR partial appends (hashes/ is the last-written gate);
    * per-batch output is overwrite, so a replayed batch rewrites its own
    * partition. A doc's classification is FINAL at ingest
    * (corpus-order-first — later arrivals can only reference it, never
    * re-classify it), so the accumulated outputs equal the per-batch
    * replay of the from-scratch loop — which is what
    * q_stream_dedup_ingest's unrolled trajectory oracle certifies. */
  def streamingDedupIngest(docs: DataFrame, idCol: String, textCol: String,
                           indexRoot: String, outPath: String, ckPath: String,
                           numHashes: Int = 12, rowsPerBand: Int = 3,
                           shingleN: Int = 3, minJaccard: Double = 0.8,
                           maxBucket: Int = 10000, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = b.sparkSession
        val conf = s.sparkContext.hadoopConfiguration
        graft.operators.Dedup.dedupIndexIngest(s, b.toDF(), idCol, textCol,
          indexRoot, batchId, numHashes, rowsPerBand, shingleN, minJaccard,
          maxBucket, compactEvery,
          // outputs go durable BEFORE the appends; on a detected replay,
          // already-written files are KEPT — the re-derived classification
          // is the self-repaired one (dup_corpus where the original said
          // new), and the ORIGINAL is the authoritative at-ingest answer
          onClassified = (classified, isReplay) => {
            val dir = s"$outPath/batch=$batchId"
            val marker = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
            if (!(isReplay && marker.getFileSystem(conf).exists(marker)))
              classified.write.mode("overwrite").parquet(dir)
          })
        ()
      }
      .option("checkpointLocation", ckPath)
      .start()

  /** Streaming ANN (IVF) index ingest with IN-LOOP generation-swap
    * maintenance — the managed form of the append-forever loop: each
    * micro-batch bucket-assigns against the index's frozen centroids and
    * appends under the ACTIVE generation (graft.operators.GenIndex.active
    * — the flat root until the first compaction), and every
    * `compactEvery` batches the index compacts to one file per bucket
    * through a crash-safe generation swap (a crash at ANY point leaves
    * the previous generation active; uncommitted/superseded generations
    * are swept by the next compaction). Callers search via
    * Ann.activeIvfIndex(root). The root must hold an index (an empty
    * Ann.buildIvfIndex(corpus.limit(0), ...) founds one with just the
    * centroid sidecar). Restart semantics: a replayed batch re-appends
    * its rows — pass `antiJoinExisting = true` under at-least-once
    * delivery to make appends id-idempotent (one column-pruned id scan
    * per batch). Compaction is per-bucket/churn-proportional
    * ([[graft.operators.Ann.compactIvfIndexPerBucket]]); tune the
    * rewrite trigger with `rewriteFilesOver`. */
  def streamingIvfIngest(vecs: DataFrame, idCol: String, vecCol: String,
                         indexRoot: String, ckPath: String,
                         compactEvery: Int = 0,
                         antiJoinExisting: Boolean = false,
                         rewriteFilesOver: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = b.sparkSession
        val active = graft.operators.GenIndex.active(s, indexRoot)
        graft.operators.Ann.appendToIvfIndex(
          graft.operators.Ann.loadIvfIndex(s, active), b.toDF(), idCol, vecCol,
          antiJoinExisting)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          // CHURN-PROPORTIONAL swap (round 15): only buckets over
          // `rewriteFilesOver` part files rewrite; quiet buckets
          // hard-link/copy into the new generation without a Spark job,
          // so in-loop maintenance costs what the feed touched since
          // the last swap, not the index size
          graft.operators.GenIndex.compact(s, indexRoot)((src, dest) => {
            graft.operators.Ann.compactIvfIndexPerBucket(
              s, graft.operators.Ann.loadIvfIndex(s, src), dest, rewriteFilesOver)
            ()
          })
          ()
        }
      }
      .option("checkpointLocation", ckPath)
      .start()

  /** Stage a batch table as an event-time-ordered FILE-SOURCE feed: rows
    * are range-partitioned on `tsCol` into `chunks` parquet files whose
    * modification times ascend in time order, so
    * `readStream.option("maxFilesPerTrigger", 1)` replays them as
    * watermark-friendly micro-batches — the no-driver-feed twin of the
    * MemoryStream harness (a production job points the same operator
    * chains at its landing directory instead). One Spark write job; the
    * mtime fix-up is a metadata-only FS pass. */
  /** Default rows per staged chunk when `chunks` is left adaptive. A
    * micro-batch's stream-stream join state holds everything inside the
    * watermark horizon of the rows it ingests, and the watermark only
    * advances BETWEEN batches — coarser chunks mean coarser watermark
    * steps and proportionally more resident state (measured at 100×:
    * the 3-chunk enrich feed peaks ~8× the state of the 8-chunk twin).
    * ~1.5M rows/chunk keeps state small without drowning small feeds in
    * per-batch state-store commits. */
  private val RowsPerChunk = 1500000L

  /** Adaptive chunk count for a feed of `rows` rows — the ONE formula
    * stageFileStream and the MemoryStream twins share, so the twin's
    * scale-adaptive settings (e.g. enrichStatePartitions) can never
    * drift from the contract entries' if RowsPerChunk or the clamp
    * changes. */
  private[streaming] def chunksFor(rows: Long): Int =
    math.min(16L, math.max(3L, (rows + RowsPerChunk - 1) / RowsPerChunk)).toInt

  def stageFileStream(df: DataFrame, tsCol: String, dir: String,
                      chunks: Int = 0): Int = {
    val n =
      if (chunks > 0) chunks
      else chunksFor(df.count())
    df.repartitionByRange(n, col(tsCol))
      .write.mode("overwrite")
      // 1 MiB row groups (r18): each staged chunk is ONE file by feed
      // contract (one micro-batch per file), so at scale the default
      // 128 MiB row group makes the whole batch a single scan task no
      // matter what split size a reader asks for. Small row groups make
      // the file SPLITTABLE; readers that stay at the default 128 MiB
      // split still get one task per file, so this is inert unless an
      // entry opts into [[scanSplitFor]]. Row order inside the file is
      // unchanged.
      .option("parquet.block.size", (1L << 20).toString)
      .parquet(dir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    // part-NNNNN names follow range-partition order (partition 0 = lowest
    // range); ascend the mtimes in that order so the file source's
    // oldest-first listing replays chronologically
    val parts = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 60000L
    parts.zipWithIndex.foreach { case (part, i) =>
      fs.setTimes(part, base + i * 60000L, -1)
    }
    // the chunk count doubles as the caller's feed-size signal (scale-
    // adaptive state partitioning derives from it — r17)
    n
  }

  /** Stage a batch table as a DETERMINISTIC file-source feed (round 13):
    * rows split into exactly `chunks` files by NTILE(chunks) OVER
    * (ORDER BY orderCol) — a sampling-free boundary rule an oracle can
    * replay VERBATIM in SQL, unlike [[stageFileStream]]'s
    * repartitionByRange (whose reservoir-sampled bounds differ per
    * session). `orderCol` must be totally ordered (unique values);
    * within each staged file rows ascend in `orderCol` (single-partition
    * window then a one-mapper-per-chunk exchange preserves the sort), so
    * stateful operators see a deterministic arrival order and the
    * oracle's per-batch membership IS `NTILE(chunks) OVER (ORDER BY
    * orderCol)`. The global window is a HARNESS staging step (one task
    * sorts the feed — same budget class as stageFileStream's count();
    * a production job replays its real landing order instead). */
  def stageFileStreamNtile(df: DataFrame, orderCol: String, dir: String,
                           chunks: Int): Unit = {
    require(chunks >= 1)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(orderCol))
    // ONE pass computes the ntile (single-partition window, order
    // preserved in the checkpoint); each chunk then writes from the
    // in-memory checkpoint as its own single file — no dependence on
    // partitioned-write internals for in-file row order
    val staged = df.withColumn("__b", ntile(chunks).over(w))
      .localCheckpoint(true)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val fs = dirP.getFileSystem(conf)
    if (fs.exists(dirP)) fs.delete(dirP, true)
    fs.mkdirs(dirP)
    val base = System.currentTimeMillis() - chunks * 60000L
    val tmpDir = dir + ".tmp"
    (1 to chunks).foreach { b =>
      staged.filter(col("__b") === b).drop("__b").coalesce(1)
        .write.mode("overwrite")
        // splittable chunks, same rationale as stageFileStream
        .option("parquet.block.size", (1L << 20).toString)
        .parquet(tmpDir)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmpDir))
        .map(_.getPath).filter(_.getName.startsWith("part-"))
      require(part.length == 1, s"chunk $b wrote ${part.length} files")
      val destF = new org.apache.hadoop.fs.Path(dirP, f"chunk-$b%05d.parquet")
      fs.rename(part(0), destF)
      fs.setTimes(destF, base + b * 60000L, -1)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    staged.unpersist()
    ()
  }

  /** Reader-side scan-split size for a staged feed (guide §6 input-split
    * sizing): spread ONE micro-batch file across the session's cores —
    * clamp(maxChunkBytes / defaultParallelism, 1 MiB, 128 MiB). The feed
    * contract is one file per micro-batch, so split size is the only
    * scan-parallelism lever a stateless (map-only) scoring entry has:
    * without it the whole batch's tokenize/score chain runs on ONE task
    * (measured at 100×: 3 × ~19 s single-task batches in
    * q_stream_quality). The 1 MiB floor matches the staging row-group
    * size, below which splits cannot bite. Apply on the entry's CLONED
    * session only, and only where per-row results are independent of the
    * scan's partition layout (stateless projections/filters, or
    * foreachBatch bodies that aggregate by key). */
  def scanSplitFor(s: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val maxLen = fs.listStatus(p)
      .filter { st => val n = st.getPath.getName; n.startsWith("part-") || n.startsWith("chunk-") }
      .map(_.getLen).foldLeft(0L)(math.max)
    val cores = math.max(1L, s.sparkContext.defaultParallelism.toLong)
    math.min(128L << 20, math.max(1L << 20, maxLen / cores + 1))
  }

  /** Open a staged feed directory as a file-source stream, one staged
    * file per micro-batch. */
  def fileStream(spark: org.apache.spark.sql.SparkSession, dir: String,
                 schema: org.apache.spark.sql.types.StructType,
                 maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
}
