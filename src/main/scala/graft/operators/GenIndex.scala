package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe GENERATION SWAP for the persisted incremental indexes
  * (split / chunk / substring / dedup / IVF): in-loop compaction must
  * never be able to destroy the index, so instead of rewriting in place,
  * each compaction writes a fresh generation directory `gen-NNNNN/` under
  * the index root and then commits it with an atomically-created
  * `_COMMITTED` marker file. Readers and writers resolve [[active]] —
  * the highest COMMITTED generation, or the root itself when none
  * exists (the flat pre-generational layout every index starts in) — so
  * a crash at ANY point of the swap leaves the previous generation
  * fully intact and active:
  *
  *  - crash mid-copy: the half-written `gen-(n+1)` has no marker, is
  *    invisible to [[active]], and is deleted by the next compaction's
  *    sweep;
  *  - crash between marker and GC: two committed generations exist;
  *    [[active]] picks the newer, the stale one is swept next time —
  *    including the FIRST swap's case, where the superseded "generation"
  *    is the flat root layout itself: the sweep removes the root's
  *    leftover table payload (every non-generation child) whenever a
  *    committed generation exists, so stale flat tables cannot survive
  *    forever;
  *  - crash mid-GC: partial deletions of a superseded generation are
  *    harmless (it is never resolved again) and the sweep finishes next
  *    time.
  *
  * GC is LAYOUT-AGNOSTIC: everything under the superseded source that is
  * not a generation directory is index payload and is deleted (fixed
  * table dirs like `hashes/`, dynamic partition dirs like `bucket=N/`,
  * sidecars like `_centroids.json`, and the `_ingest_max` guard marker
  * alike) — an index root must hold nothing but index artifacts, which
  * is the family's existing layout contract.
  *
  * Single-writer contract (same as the indexes themselves): compaction
  * runs INSIDE the serialized ingest loop (foreachBatch), so no reader
  * holds the superseded generation open when GC deletes it.
  * GenSwapSpec pins assignment bit-equality through a swap and the
  * crash-between-steps cases; StreamSplitStress receipts bounded file
  * counts over long feeds with `compactEvery` set. */
object GenIndex {

  /** Table subdirectories per index family — retained for receipts and
    * specs that count files per table ([[graft.StreamSplitStress]]); GC
    * itself is layout-agnostic and does not consult them. */
  val SplitTables: Seq[String] = Seq("hashes", "bands", "shingles", "clusters")
  val ChunkTables: Seq[String] = Seq("chunks")
  val SubstrTables: Seq[String] = Seq("anchors", "texts")
  val DedupTables: Seq[String] = Seq("hashes", "bands", "shingles")

  private val GenName = "^gen-(\\d{5})$".r

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isGenDir(name: String): Boolean = GenName.findFirstIn(name).isDefined

  /** Committed generation numbers under `root`, ascending. */
  private def committedGens(fs: FileSystem, root: String): Seq[Int] = {
    val rp = new Path(root)
    if (!fs.exists(rp)) return Seq.empty
    fs.listStatus(rp).toSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case GenName(n) if fs.exists(new Path(st.getPath, "_COMMITTED")) =>
          Some(n.toInt)
        case _ => None
      })
      .sorted
  }

  private def genDir(root: String, n: Int): String = f"$root/gen-$n%05d"

  /** Delete every child of `root` that is not a generation directory —
    * the flat layout's table payload, partition dirs, and sidecars. */
  private def deleteFlatPayload(fs: FileSystem, root: String): Unit = {
    val rp = new Path(root)
    if (fs.exists(rp)) fs.listStatus(rp).foreach { st =>
      if (!isGenDir(st.getPath.getName)) fs.delete(st.getPath, true)
    }
  }

  /** The index directory every reader and writer should use: the highest
    * committed generation, or `root` itself before any compaction has
    * run (the flat layout [[graft.operators.Dedup.buildDedupIndex]] and
    * friends create). O(1) FS listing of the root. */
  def active(spark: SparkSession, root: String): String = {
    val gens = committedGens(fsOf(spark, root), root)
    if (gens.isEmpty) root else genDir(root, gens.last)
  }

  /** Compact the active generation into the next one and swap:
    * `compactFn(src, dest)` does the table rewrites (pass the family's
    * compact function — e.g. `Dedup.compactSplitIndex`). Returns the new
    * active directory. */
  def compact(spark: SparkSession, root: String)
             (compactFn: (String, String) => Unit): String = {
    val fs = fsOf(spark, root)
    val gens = committedGens(fs, root)
    val src = if (gens.isEmpty) root else genDir(root, gens.last)
    val next = if (gens.isEmpty) 1 else gens.last + 1
    val dest = genDir(root, next)
    // sweep: stale uncommitted leftovers of a crashed earlier attempt,
    // committed generations already superseded by `src`, and — once any
    // committed generation exists — the flat root's own leftover payload
    // (a first-swap crash between marker and GC strands it otherwise)
    val rp = new Path(root)
    if (fs.exists(rp)) fs.listStatus(rp).foreach { st =>
      st.getPath.getName match {
        case GenName(n)
            if st.isDirectory &&
              (n.toInt > gens.lastOption.getOrElse(0) || // uncommitted leftover
                gens.lastOption.exists(n.toInt < _)) => // superseded
          fs.delete(st.getPath, true)
        case name if gens.nonEmpty && !isGenDir(name) => // stranded flat payload
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    compactFn(src, dest)
    // the commit point: marker creation is atomic, so the new generation
    // becomes active all-or-nothing
    fs.create(new Path(dest, "_COMMITTED"), true).close()
    // GC the superseded source: the whole generation dir, or — for the
    // flat root — every non-generation child (gen dirs live under it)
    if (src == root) deleteFlatPayload(fs, root)
    else fs.delete(new Path(src), true)
    dest
  }

  /** A retention form for [[maintain]]: when `horizon(batchId)` is above
    * Long.MinValue, that batch's swap runs `dropBefore(src, dest,
    * horizon)` instead of the plain compaction, and the tombstones it
    * returns go durable under `${outPath}_tombstones/batch=<id>` BEFORE
    * the swap commits — a crash in between leaves the previous
    * generation active and the tombstone files unread, and a consumer
    * reads tombstones only for batches whose swap committed. */
  final case class Retention(horizon: Long => Long,
                             dropBefore: (String, String, Long) => DataFrame,
                             outPath: String)

  /** The in-loop maintenance step of the streaming index loops: on every
    * `every`-th batch (`every` > 0, `batchId` counting from 0) [[compact]]
    * `root` with `compactFn`, or with `retention`'s drop-before form when
    * that batch has a horizon. */
  def maintain(spark: SparkSession, root: String, batchId: Long, every: Int,
               retention: Option[Retention] = None)
              (compactFn: (String, String) => Unit): Unit =
    if (every > 0 && (batchId + 1) % every == 0) {
      val dropping = retention.map(r => r -> r.horizon(batchId)).filter(_._2 != Long.MinValue)
      compact(spark, root) { (src, dest) =>
        dropping.fold(compactFn(src, dest)) { case (r, horizon) =>
          r.dropBefore(src, dest, horizon).write.mode("overwrite")
            .parquet(s"${r.outPath}_tombstones/batch=$batchId")
        }
      }
      ()
    }
}
