package graft.operators

import graft.SparkSpecBase
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A compaction that fails partway through its table moves, for each
  * table-list family (dedup, split, chunk) and for both the whole and
  * the delta form: `Dedup.compactTables` is made to throw after a
  * table has moved into the new generation. The previous generation
  * must stay active with an unchanged read, and the next swap must
  * equal a clean twin that never failed. */
class CompactFailureSpec extends SparkSpecBase {
  import spark.implicits._

  private val rng = new scala.util.Random(2208)
  private def words(n: Int): String =
    (0 until n).map(_ => s"w${rng.nextInt(400)}").mkString(" ")

  /** Exact copies, near copies (one word changed) and fresh docs, so
    * every table of every family gets rows and matches. */
  private def corpus(ids: Seq[Long], pool: IndexedSeq[String]): Seq[(Long, String)] =
    ids.map { id =>
      val base = pool((id % pool.size).toInt)
      (id % 3) match {
        case 0 => (id, base)
        case 1 => (id, base.split(" ").dropRight(1).mkString(" ") + s" w${400 + id}")
        case _ => (id, words(30))
      }
    }

  private val pool = (0 until 7).map(_ => words(30))
  private val b1 = corpus(1L to 30L, pool).toDF("doc_id", "text")
  private val b2 = corpus(31L to 50L, pool).toDF("doc_id", "text")
  private val probe = corpus(100L to 115L, pool).toDF("doc_id", "text")

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-compact-fail").toString

  /** A table's rows as sorted JSON, columns by name: append and rewrite
    * tiers of one table may store its columns in different orders. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.sorted.map(col).toSeq: _*))).as[String]
      .collect().toSeq.sorted

  /** One family: its tables, one ingest step into the active generation
    * of `root`, and its read of the active generation. */
  private class Family(val name: String, val tables: Seq[Dedup.IndexTable],
                       val ingest: (DataFrame, String, Long) => Unit,
                       val read: String => Seq[String])

  private val families = Seq(
    new Family("dedup", Dedup.dedupTables(10000),
      (b, root, batchId) => { Dedup.dedupIndexIngest(spark, b, "doc_id", "text", root, batchId); () },
      root => rows(Dedup.incrementalDedup(spark, probe, "doc_id", "text",
        GenIndex.active(spark, root)))),
    new Family("split", Dedup.splitTables(10000),
      (b, root, _) => { Dedup.splitIndexIngest(spark, b, "doc_id", "text", "cf",
        GenIndex.active(spark, root)); () },
      root => rows(Dedup.splitIndexAssignment(spark, b1.unionByName(b2), "doc_id", "text", "cf",
        GenIndex.active(spark, root)))),
    new Family("chunk", Dedup.chunkTables,
      (b, root, _) => { Dedup.incrementalCdcDedup(spark, b, "doc_id", "text",
        GenIndex.active(spark, root), 16, 32); () },
      // the report of a probe batch, ingested into a copy: the read must
      // not append to the index under test
      root => {
        val copy = s"${tmp()}/copy"
        FileUtil.copy(fs, new Path(GenIndex.active(spark, root)), fs, new Path(copy),
          false, spark.sparkContext.hadoopConfiguration)
        rows(Dedup.incrementalCdcDedup(spark, probe, "doc_id", "text", copy, 16, 32))
      }))

  private val forms = Seq("whole" -> None, "delta" -> Some(16))

  for (f <- families; (form, over) <- forms)
    test(s"${f.name} family, $form form: a swap that fails after a table moved keeps the previous generation") {
      def swap(root: String, afterMove: String => Unit = _ => ()): Map[String, String] = {
        var actions = Map.empty[String, String]
        GenIndex.compact(spark, root) { (src, dest) =>
          actions = Dedup.compactTables(spark, src, dest, f.tables, over,
            afterMove = afterMove)._1
        }
        actions
      }
      val root = tmp()
      f.ingest(b1, root, 0)
      swap(root) // founds gen-00001 (and, in the delta form, its manifest)
      f.ingest(b2, root, 1)
      val twin = s"${tmp()}/twin"
      assert(FileUtil.copy(fs, new Path(root), fs, new Path(twin), false,
        spark.sparkContext.hadoopConfiguration))

      val prev = GenIndex.active(spark, root)
      val before = f.read(root)
      @volatile var failedAfter = Option.empty[String]
      val e = intercept[IllegalStateException](swap(root, t => synchronized {
        if (failedAfter.isEmpty) {
          failedAfter = Some(t)
          throw new IllegalStateException(s"injected failure after moving $t")
        }
      }))
      assert(e.getMessage.startsWith("injected failure"))
      // the failure really came mid-swap: a table sits in the new,
      // uncommitted generation
      val half = s"$root/gen-00002"
      assert(fs.exists(new Path(s"$half/${failedAfter.get}")))
      assert(!fs.exists(new Path(s"$half/_COMMITTED")))
      assert(GenIndex.active(spark, root) == prev)
      assert(f.read(root) == before)

      // the next swap sweeps the debris and equals the clean twin's
      val actions = swap(root)
      val twinActions = swap(twin)
      assert(actions == twinActions)
      if (over.isDefined) assert(actions.values.exists(_ == "delta"), actions.toString)
      val (active, twinActive) = (GenIndex.active(spark, root), GenIndex.active(spark, twin))
      assert(active.stripPrefix(root) == twinActive.stripPrefix(twin))
      f.tables.foreach { t =>
        assert(rows(spark.read.parquet(s"$active/${t.name}")) ==
          rows(spark.read.parquet(s"$twinActive/${t.name}")), s"${t.name} differs from the twin")
      }
      assert(f.read(root) == f.read(twin))
      assert(f.read(root) == before)
    }
}
