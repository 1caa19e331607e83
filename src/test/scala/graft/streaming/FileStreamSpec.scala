package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase

/** Feed-independence of the streaming contract entries: each file-source
  * entry (stageFileStream → one staged parquet file per micro-batch →
  * bounded sink, the shape the driver runs) must produce the SAME rows
  * as its driver-fed MemoryStream twin (addData interleaved with
  * processAllAvailable). Proof that the feed and sink mechanisms are
  * implementation details of the harness, not of the operators — and
  * that the staged-file replay advances watermarks/state identically to
  * the chunked driver feed. */
class FileStreamSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def assertTwin(entry: DataFrame, twin: DataFrame): Unit = {
    val (got, expected) = (rows(entry), rows(twin))
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("file-source sessionize entry equals the MemoryStream twin") {
    assertTwin(StreamingQueries.streamSessionize(spark, Sf),
      StreamingQueries.memoryTwins.streamSessionize(spark, Sf))
  }

  test("file-source windowed histogram entry equals the MemoryStream twin") {
    assertTwin(StreamingQueries.streamHistogram(spark, Sf),
      StreamingQueries.memoryTwins.streamHistogram(spark, Sf))
  }

  test("file-source stream-stream enrich entry (parquet sink read-back) equals the MemoryStream twin") {
    assertTwin(StreamingQueries.streamEnrich(spark, Sf),
      StreamingQueries.memoryTwins.streamEnrich(spark, Sf))
  }

  test("file-source dedup-at-ingest entry (parquet sink read-back) equals the MemoryStream twin") {
    assertTwin(StreamingQueries.streamDedup(spark, Sf),
      StreamingQueries.memoryTwins.streamDedup(spark, Sf))
  }

  test("file-source LSH near-dup entry (parquet sink read-back) equals the MemoryStream twin") {
    assertTwin(StreamingQueries.streamNearDedup(spark, Sf),
      StreamingQueries.memoryTwins.streamNearDedup(spark, Sf))
  }

  test("scanSplitFor sizes the split from the listed staged-file lengths") {
    val dir = java.nio.file.Files.createTempDirectory("graft_split").toFile
    def file(name: String, len: Long): Unit = {
      val f = new java.io.RandomAccessFile(new java.io.File(dir, name), "rw")
      try f.setLength(len) finally f.close()
    }
    val cores = math.max(1L, spark.sparkContext.defaultParallelism.toLong)
    def split(maxLen: Long) = math.min(128L << 20, math.max(1L << 20, maxLen / cores + 1))
    file("part-00000.parquet", 300L << 10)
    assert(SedStreaming.scanSplitFor(spark, dir.toString) == split(300L << 10)) // 1 MiB floor
    file("chunk-00001.parquet", 37L << 20)
    file("part-00002.parquet", 9L << 20)
    file("other.parquet", 900L << 20) // not a staged file: ignored
    assert(SedStreaming.scanSplitFor(spark, dir.toString) == split(37L << 20))
    assert(split(37L << 20) > (1L << 20))
    dir.listFiles().foreach(_.delete()); dir.delete()
  }
}
