package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every driver-contract query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is executed via `queryExecution.toRdd.count()` — that runs
  * the query's OWN physical plan (all output columns materialized); a
  * plain `df.count()` would let Catalyst prune every column and
  * under-measure projection-heavy queries. A warmup job runs first so the
  * first measured query doesn't pay JVM/codegen initialization. A query
  * that throws reports -1 (never a plausible elapsed time).
  *
  * Measurement protocol (round 7): samples are INTERLEAVED round-robin
  * across the suite — round r runs every query once (sorted order), then
  * round r+1 repeats — instead of back-to-back per-query repeats. Five
  * documented instances across r3/r5/r6 showed transient machine load
  * faking 2-10× regressions on sub-2 s queries: back-to-back samples all
  * land inside the same load spike, so even a median-of-3 is poisoned.
  * Interleaving decorrelates the spike (it hits ONE of a query's
  * samples, which the median discards). Round 0 is an unmeasured warmup
  * pass (plan compilation, codegen, per-JVM index/model builds — the
  * fit-once costs that would otherwise masquerade as spread in every
  * first sample). Per query the reported number is the MEDIAN of
  * `SPARK_GRAFT_BENCH_RUNS` (default 5) measured rounds, and the JSON
  * carries a `spread` map (max/median per query) so instability is
  * visible in the artifact itself rather than discovered a round later.
  */
object Bench {
  /** Peak resident set size of this JVM in GiB (VmHWM — the honest
    * "did it fit" number the scale-probe benches report). */
  def peakRssGb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM") => l.trim.split("\\s+")(1).toDouble / (1024 * 1024)
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** JSON string escape (same contract as Verify's). */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // JVM-wide generated-class cache: the default 100 entries thrash
      // under a 183-entry suite (and within single multi-stage queries),
      // serializing all tasks behind Janino recompiles of evicted classes
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // the cache key includes the task's class loader, and with artifact
      // isolation every streaming query's cloned session gets a fresh
      // one: each stream entry would compile its classes again. Nothing
      // here adds jars or artifacts to a session.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: initialize codegen, shuffle machinery, parquet reader paths
    spark.range(0, 1000000, 1, 8).selectExpr("sum(id % 7)").collect()
    graft.sed.SedQueries.ensureConfs(spark)
    spark.read.parquet(s"$sfDir/events.parquet").limit(10).collect()
    // contention telemetry (round 9): a loaded driver box faked up to
    // 27.9x spreads in the round-8 driver run — record the 1-min load
    // average and core count at run START so a contended artifact is
    // diagnosable from the JSON alone, without a rerun.
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val hostCpus = Runtime.getRuntime.availableProcessors
    // box-speed calibration probe (round 15): one PINNED 32-way hash
    // kernel (no data dependence, no shuffle), min of 3 — cross-round
    // diffs of the same-sf artifact divide by this to normalize box
    // drift mechanically (the r14 100× comparison had to argue a
    // ~1.3-1.4× slowdown from prose; this makes it a number in the
    // artifact itself).
    val calib = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      // pmod keeps the ANSI sum far from long overflow (4e8 × 1e6)
      spark.range(0L, 400000000L, 1L, 32)
        .selectExpr("sum(pmod(xxhash64(id), 1000000))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt)
    // warmup rounds: 1 by default; 0 for one-shot scale-stress runs where
    // a second full pass would double a very long job
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt
    // optional comma-separated name filter (SPARK_GRAFT_BENCH_ONLY) for
    // targeted re-measurement — e.g. the 100x tail at runs >= 3; the
    // emitted artifact then covers only the filtered entries and must
    // not be committed as a full BENCH_LOCAL.json
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val samples = names.map(_ -> Array.fill(runs)(-1.0)).toMap
    // plan-stability fingerprints (round 12): hashed from the final
    // measured round's already-planned DataFrame (free — sparkPlan is
    // materialized by the run), emitted into BENCH_LOCAL.json so an
    // accidental BHJ→SMJ or added exchange diffs across rounds even when
    // sf0.1 wall-clock hides it; PlanAuditSpec gates the same
    // fingerprints against a committed snapshot.
    val fps = scala.collection.mutable.Map.empty[String, String]
    // rounds below 0 = unmeasured warmup passes; rounds 0..runs-1 are measured
    for (r <- -warmups until runs) {
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val elapsed =
          try {
            val df = fn(spark, sfDir)
            df.queryExecution.toRdd.count()
            val dt = (System.nanoTime() - t0) / 1e9
            if (r == runs - 1) fps(name) = graft.sed.PlanFingerprint.hash(df)
            dt
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
          }
        if (r >= 0) samples(name)(r) = elapsed
      }
      // settle between rounds so one round's allocation debt (GC, shuffle
      // file cleanup) isn't billed to the next round's first queries
      System.gc()
    }
    val results = names.map { name =>
      val times = samples(name)
      if (times.exists(_ < 0)) (name, -1.0, -1.0, -1.0, -1.0)
      else {
        val sorted = times.sorted
        val median = sorted(runs / 2)
        // spread = SECOND-largest over median (when >= 3 samples): in an
        // interleaved 186-query suite a single slow sample is load/GC
        // noise by construction (measured: 2-4 s entries throwing one
        // ~6 s sample that never reproduces in isolation), while true
        // mode-flipping (the q_image_clusters_wide pathology alternated
        // fast/slow) lands >= 2 of 5 samples in the slow mode and still
        // registers. The single worst sample stays visible in the
        // `triples` map below (round 15): (min, median, max) per entry,
        // so a deterministically-recurring 1-in-5 slow mode — invisible
        // to second-largest — still lands in the committed artifact and
        // BenchStabilitySpec's extreme-excursion gate reads it.
        val hi = if (runs >= 3) sorted(runs - 2) else sorted.last
        (name, median, if (median > 0) hi / median else 1.0,
          sorted.head, sorted.last)
      }
    }
    // Artifact durability (round 8): the driver captures a bounded stdout
    // TAIL (~2 KB — round 7's full-precision line lost all medians before
    // "q_zorder"), so the stdout line is packed to survive left-truncation:
    // boilerplate and the spread map (flagged entries only, max/median >
    // 1.3) come FIRST, the complete per-query medians map (3 decimals =
    // 1 ms resolution) comes LAST. The FULL artifact — every spread entry,
    // 4-decimal medians — goes to BENCH_LOCAL.json in-repo, committed each
    // round, so the complete signal survives any stdout window.
    def rd(x: Double, s: Double): Double = math.rint(x * s) / s
    def qmap(dec: Double) =
      results.map { case (k, m, _, _, _) => s"${q(k)}:${rd(m, dec)}" }.mkString("{", ",", "}")
    def spmap(minSpread: Double) = results
      .filter { case (_, _, s, _, _) => s >= minSpread }
      .map { case (k, _, s, _, _) => s"${q(k)}:${rd(s, 100)}" }.mkString("{", ",", "}")
    // per-entry (min, median, max) triples — full-artifact only. Failed
    // entries are OMITTED here (no [-1,-1,-1] sentinel): failure is
    // already explicit twice below — the `failed` name list and -1.0 in
    // `queries` — so a consumer summing or plotting triples never has to
    // special-case a sentinel convention.
    val triples = results
      .filter(_._2 >= 0)
      .map { case (k, m, _, lo, hi) =>
        s"${q(k)}:[${rd(lo, 10000)},${rd(m, 10000)},${rd(hi, 10000)}]" }
      .mkString("{", ",", "}")
    val total = rd(results.map(_._2).filter(_ >= 0).sum, 10000)
    // failed queries are BOTH -1.0 in `queries` (the driver's per-query
    // contract) and an explicit name list, so a reader never has to infer
    // failure from a sentinel or from absence in the spread map — and the
    // `total` is marked non-comparable when any entry is missing from it
    val failed = results.filter(_._2 < 0).map(_._1)
    val failedJson = failed.map(q).mkString("[", ",", "]")
    val env = s""""load1":${rd(load1, 100)},"host_cpus":$hostCpus,"calib_sec":${rd(calib, 1000)},"failed":$failedJson"""
    val plansJson = names.flatMap(n => fps.get(n).map(h => s"${q(n)}:${q(h)}"))
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"sf":${q(sfDir)},$env,"spread":${spmap(0.0)},"triples":$triples,"plans":$plansJson,"queries":${qmap(10000)}}"""
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"sf":${q(sfDir)},$env,"spread":${spmap(1.3)},"queries":${qmap(1000)}}"""
    // the TRUE last stdout line must fit the driver's bounded tail
    // capture (2000 chars, keeps the END of the stream — the 8 KB
    // per-query compact line was front-truncated mid-key in rounds 9-10
    // and again in the r17 driver run, leaving PERF_r17.per_query EMPTY).
    // r18 measurement fix (guide §1; VERDICT r17 item 2): fold a
    // per-query map back INTO the final line — the driver contract has
    // always been one JSON line WITH "queries" — but bounded so the
    // whole line survives the 2000-char window: entries are added in
    // DESCENDING median order (the expensive entries are the
    // comparability signal; the omitted cheap ones sum to noise) until
    // the line reaches ~1900 chars. "queries_in_line" vs "n" makes the
    // truncation explicit, and the COMPLETE map still ships three ways:
    // the compact line above, the chunked lines below, and the committed
    // BENCH_LOCAL.json.
    val byCost = results.filter(_._2 >= 0).sortBy { case (k, m, _, _, _) => (-m, k) }
    val head = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"sf":${q(sfDir)},"n":${results.length},$env,"queries_in_line":NNN,"queries":{"""
    val budget = 1900 - head.length - 2
    val inLine = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    byCost.foreach { case (k, m, _, _, _) =>
      val ent = s"${q(k)}:${rd(m, 1000)}"
      if (used + ent.length + 1 <= budget) { inLine += ent; used += ent.length + 1 }
    }
    val summary = head.replace("NNN", inLine.length.toString) +
      inLine.mkString(",") + "}}"
    // complete per-query coverage in tail-safe CHUNK lines (each a valid
    // standalone JSON object well under the capture window) printed just
    // before the summary — a reader of any suffix of the stream can
    // reconstruct the map for every entry the window reaches
    val chunkLines = results.map { case (k, m, _, _, _) => s"${q(k)}:${rd(m, 1000)}" }
      .grouped(30).zipWithIndex.map { case (g, i) =>
        s"""{"metric":"bench_queries","part":${i + 1},"runs":$runs,"queries":{${g.mkString(",")}}}"""
      }.toSeq
    // a filtered run must never masquerade as the committed full artifact
    val artifact = if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_LOCAL.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] $artifact write failed: ${e.getMessage}") }
    spark.stop()
    // after spark.stop() so no shutdown logging follows it
    println(compact)
    chunkLines.foreach(println)
    println(summary)
    emitAfterSbt(chunkLines :+ summary)
  }

  /** Driver-artifact self-sufficiency (round 10): under a forked sbt run
    * the `[success] Total time` line is printed by the PARENT sbt JVM
    * after this JVM exits, so nothing printed here can be the last line
    * of the driver's captured stdout — round 9's driver artifact had
    * `parsed: null` because of exactly that trailing line. This spawns a
    * detached `sh` that re-opens the parent's stdout pipe
    * (`/proc/<ppid>/fd/1` re-opens the same pipe object on Linux), waits
    * for the parent to exit — its `[success]` line is flushed by then —
    * and writes the packed JSON again as the TRUE last bytes of the
    * driver's stream. The reopen is APPEND mode: when sbt's stdout is a
    * plain file, `>` would truncate it at offset 0 (measured: the whole
    * log replaced by a NUL hole); O_APPEND is correct for files and a
    * no-op flag for pipes/ttys. Bounded 120 s poll; a no-proc or
    * no-permission environment degrades to a silent no-op (the normal
    * println above already carried the data). */
  private def emitAfterSbt(jsonLines: Seq[String]): Unit =
    try {
      val stat = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
      // /proc/self/stat: `pid (comm) state ppid …` — comm may contain
      // spaces/parens, so parse from the LAST ')'
      val ppid = stat.substring(stat.lastIndexOf(')') + 2).split(" ")(1)
      jsonLines.foreach(j =>
        require(j.indexOf('\'') < 0, "packed JSON must stay shell-single-quote safe"))
      // r18: re-emit the per-query chunk lines AND the summary, so the
      // true last bytes of the driver's captured stream are maximally
      // per-query data (the chunk lines preceding the final summary)
      // rather than sbt's `[success]` banner
      val body = jsonLines.map(j => s"printf '%s\\n' '$j'").mkString("\n")
      val script =
        s"""exec >>/proc/$ppid/fd/1 2>/dev/null || exit 0
           |i=0
           |while [ -e /proc/$ppid ] && [ $$i -lt 600 ]; do sleep 0.2; i=$$((i+1)); done
           |$body
           |""".stripMargin
      new ProcessBuilder("sh", "-c", script).start()
      ()
    } catch { case _: Throwable => () }
}
