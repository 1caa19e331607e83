package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, s"usage: graft.Verify <sfDir> <outDir> (got ${args.mkString(" ")})")
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
    new java.io.File(outDir).mkdirs()
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmTree)
      f.delete(); ()
    }
    // optional comma-separated name filter for fast single-query
    // iteration (tools/selfcheck.py checks only queries present in the
    // out dir's oracle_sql.json, so a filtered dump stays consistent)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // a filtered dump must never masquerade as a full verification: it
    // would overwrite oracle_sql.json with the subset while stale parquet
    // dirs from a previous full run keep selfcheck quietly green
    if (only.isDefined)
      require(!Files.exists(Paths.get(s"$outDir/oracle_sql.json")),
        s"refusing SPARK_GRAFT_ONLY dump into $outDir: it already holds an " +
          "oracle_sql.json from a fuller run — use a fresh outDir")
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // remove any stale result first: a leftover parquet from a previous
      // run would make the compare pass for a query that now throws
      rmTree(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        rmTree(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
