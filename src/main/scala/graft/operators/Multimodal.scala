package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing: payloads are opaque
  * `binary` columns with typed metadata extracted by a batched
  * per-partition decode pass.
  *
  * Image decode is REAL for binary netpbm (P5 grayscale / P6 RGB — a
  * hand-rolled header parse, no codec needed) AND for every format the
  * JDK's `javax.imageio` registry handles (PNG, JPEG, BMP, GIF, WBMP):
  * pixel extraction and nearest-neighbour resampling operate on the
  * actual decoded raster. VIDEO frame extraction is REAL for
  * MJPEG-in-AVI (RIFF parse + per-frame ImageIO JPEG decode — container
  * format, no codec needed); only codec-bound formats (H.26x/VP9, which
  * the JDK cannot decode) fall back to deterministic byte-slice
  * framing, and payloads no decoder recognises (e.g. text used as a
  * stand-in blob) degrade to a size-derived deterministic fallback so
  * metadata extraction is total. Either way the pipeline shape is the production one: binary
  * column in, `mapPartitions` streaming fixed-size batches (the JVM
  * analogue of `mapInPandas` batch iteration — a native decoder takes
  * each batch in one call), typed struct schema out, no driver
  * involvement, arbitrary-scale parallelism.
  */
object Multimodal {

  /** REAL decode of binary netpbm: "P5" (1 channel) / "P6" (3 channels),
    * whitespace/#-comment tolerant header, maxval ≤ 255, raw pixels.
    * Returns (width, height, channels, row-major pixel bytes); None if
    * the payload is not a well-formed binary PNM. */
  def decodePnm(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (bytes.length < 2 || bytes(0) != 'P') return None
    val ch = bytes(1) match { case '5' => 1; case '6' => 3; case _ => return None }
    var pos = 2
    def skipWs(): Unit = {
      var go = true
      while (go && pos < bytes.length) {
        val b = bytes(pos)
        if (b == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
        else if (b == ' ' || b == '\n' || b == '\r' || b == '\t') pos += 1
        else go = false
      }
    }
    def int(): Int = {
      skipWs()
      var v = 0; var any = false
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1; any = true
      }
      if (!any) -1 else v
    }
    val w = int(); val h = int(); val maxv = int()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    pos += 1 // exactly one whitespace byte separates maxval from pixels
    val n = w.toLong * h * ch
    if (n > Int.MaxValue || bytes.length - pos < n) return None
    Some((w, h, ch, java.util.Arrays.copyOfRange(bytes, pos, pos + n.toInt)))
  }

  /** REAL decode of any format the JDK's ImageIO registry reads (PNG,
    * JPEG, BMP, GIF, WBMP). The raster is normalised to 8-bit row-major
    * bytes: 1 channel when the color model is pure grayscale, 3 (RGB)
    * otherwise — the layout [[decodePnm]] emits, so every downstream
    * consumer (resample, metadata) is format-agnostic. Returns None when
    * no registered reader recognises the payload. */
  def decodeJdk(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    // in-memory only: never let ImageIO spill its decode cache to the
    // executor's tmp dir
    javax.imageio.ImageIO.setUseCache(false)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val cm = img.getColorModel
      val ch = if (cm.getNumColorComponents == 1 && !cm.hasAlpha) 1 else 3
      val out = new Array[Byte](w * h * ch)
      if (ch == 1) {
        // raw raster samples: getRGB would push stored gray through a
        // linear-gray → sRGB conversion and skew the values
        val samples = img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int])
        var i = 0
        while (i < samples.length) { out(i) = (samples(i) & 0xff).toByte; i += 1 }
      } else {
        val argb = img.getRGB(0, 0, w, h, null, 0, w) // bulk, color-converted
        var i = 0
        while (i < argb.length) {
          val v = argb(i)
          out(i * 3) = ((v >> 16) & 0xff).toByte
          out(i * 3 + 1) = ((v >> 8) & 0xff).toByte
          out(i * 3 + 2) = (v & 0xff).toByte
          i += 1
        }
      }
      Some((w, h, ch, out))
    }
  }

  /** Decode an image payload by any available real decoder: the netpbm
    * fast path first (cheap header sniff, no ImageIO dispatch), then the
    * JDK ImageIO registry. None = not an image we can decode. */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
    decodePnm(bytes).orElse(decodeJdk(bytes))

  /** Encode a row-major 8-bit pixel matrix (1 = gray, 3 = RGB) with a JDK
    * ImageIO writer ("png", "jpg", "bmp", "gif") — the export twin of
    * [[decodeJdk]], and the fixture generator for its specs. */
  def encodeJdk(px: Array[Byte], w: Int, h: Int, ch: Int, format: String): Array[Byte] = {
    require(ch == 1 || ch == 3, s"channels must be 1 or 3, got $ch")
    val typ = if (ch == 1) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
              else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
    val img = new java.awt.image.BufferedImage(w, h, typ)
    if (ch == 1) {
      // raw raster write: setRGB would route through sRGB → linear gray
      val samples = Array.tabulate(w * h)(i => px(i) & 0xff)
      img.getRaster.setSamples(0, 0, w, h, 0, samples)
    } else {
      val argb = Array.tabulate(w * h)(i => (0xff << 24) | ((px(i * 3) & 0xff) << 16) |
        ((px(i * 3 + 1) & 0xff) << 8) | (px(i * 3 + 2) & 0xff))
      img.setRGB(0, 0, w, h, argb, 0, w)
    }
    javax.imageio.ImageIO.setUseCache(false)
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos), s"no ImageIO writer for '$format'")
    bos.toByteArray
  }

  /** REAL nearest-neighbour resample of a decoded pixel matrix. */
  def resamplePixels(px: Array[Byte], w: Int, h: Int, ch: Int,
                     tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](tw * th * ch)
    var y = 0
    while (y < th) {
      val sy = (y.toLong * h / th).toInt
      var x = 0
      while (x < tw) {
        val sx = (x.toLong * w / tw).toInt
        var c = 0
        while (c < ch) {
          out((y * tw + x) * ch + c) = px((sy * w + sx) * ch + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL decode of RIFF/WAVE audio — like MJPEG-AVI, WAV is a container
    * problem, not a codec problem: the `fmt ` chunk gives format/rate/
    * channels, the `data` chunk holds raw samples. Handles PCM (format 1,
    * 8/16/24/32-bit) and IEEE float (format 3, 32/64-bit); samples are
    * normalised to [-1, 1] doubles, channels interleaved as stored.
    * Returns (sampleRate, channels, bitsPerSample, samples); None if not
    * a parseable WAV. */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Double])] = {
    if (bytes.length < 12 ||
      bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F' ||
      bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E') return None
    def u16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    def u32(p: Int): Long =
      (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
    var fmtCode = -1; var channels = 0; var rate = 0; var bits = 0
    var dataStart = -1; var dataLen = 0
    var p = 12
    while (p + 8 <= bytes.length) {
      val cc = new String(bytes, p, 4, "US-ASCII")
      val ds = p + 8
      // Declared size is UNSIGNED 32-bit; clamp to the bytes actually
      // present so a corrupt/hostile size (>= 2^31, or past EOF) can
      // neither walk the pointer backwards nor read past the array —
      // audioMeta is documented total over arbitrary blobs.
      val sz = math.min(u32(p + 4), (bytes.length - ds).toLong).toInt
      if (cc == "fmt " && sz >= 16) { // >= 16 AFTER clamping: body fully present
        fmtCode = u16(ds); channels = u16(ds + 2)
        rate = u32(ds + 4).toInt; bits = u16(ds + 14)
      } else if (cc == "data") {
        dataStart = ds; dataLen = sz
      }
      p = ds + sz + (sz & 1) // ds > p and sz >= 0, so p strictly advances
    }
    if (channels <= 0 || rate <= 0 || dataStart < 0) return None
    val bb = java.nio.ByteBuffer.wrap(bytes, dataStart, dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val samples: Array[Double] = (fmtCode, bits) match {
      case (1, 8) => // unsigned, midpoint 128
        Array.tabulate(dataLen)(i => ((bytes(dataStart + i) & 0xff) - 128) / 128.0)
      case (1, 16) =>
        Array.tabulate(dataLen / 2)(i => bb.getShort(dataStart + i * 2) / 32768.0)
      case (1, 24) =>
        Array.tabulate(dataLen / 3) { i =>
          val o = dataStart + i * 3
          val v = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) | (bytes(o + 2) << 16)
          v / 8388608.0
        }
      case (1, 32) =>
        Array.tabulate(dataLen / 4)(i => bb.getInt(dataStart + i * 4) / 2147483648.0)
      case (3, 32) =>
        Array.tabulate(dataLen / 4)(i => bb.getFloat(dataStart + i * 4).toDouble)
      case (3, 64) =>
        Array.tabulate(dataLen / 8)(i => bb.getDouble(dataStart + i * 8))
      case _ => return None
    }
    Some((rate, channels, bits, samples))
  }

  val audioMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("size", LongType),
    StructField("sample_rate", LongType),
    StructField("channels", LongType),
    StructField("n_samples", LongType),
    StructField("duration_ms", LongType)))

  /** Batched audio metadata: REAL header+sample counts for WAV payloads,
    * nulls for everything else (audio metadata of a non-audio blob is
    * meaningless — unlike image dims there is no defensible fallback). */
  def audioMeta(docs: DataFrame, idCol: String, payloadCol: String,
                batchSize: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val rows = nonNull(docs, idCol, payloadCol).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            decodeWav(bytes) match {
              case Some((rate, ch, _, samples)) =>
                val frames = samples.length / ch
                Row(id, bytes.length.toLong, rate.toLong, ch.toLong,
                  frames.toLong, frames * 1000L / rate)
              case None => Row(id, bytes.length.toLong, null, null, null, null)
            }
          }
        }
      }
    spark.createDataFrame(rows, audioMetaSchema)
  }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("win_idx", LongType),
    StructField("rms", DoubleType),
    StructField("zcr", DoubleType)))

  /** Windowed audio feature extraction over WAV payloads — the
    * feature-extract step of an audio training-data pipeline, computed
    * on REAL decoded samples: per non-overlapping window of
    * `windowSamples` mono frames (channels averaged), RMS energy and
    * zero-crossing rate (fraction of adjacent sign changes). One payload
    * explodes into one row per complete window; non-WAV payloads yield
    * no rows. Same batched mapPartitions shape as the image passes. */
  def audioFeatures(docs: DataFrame, idCol: String, payloadCol: String,
                    windowSamples: Int, batchSize: Int = 64): DataFrame = {
    require(windowSamples > 1, "windowSamples must be > 1")
    val spark = docs.sparkSession
    val rows = nonNull(docs, idCol, payloadCol).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { r =>
            val id = r.getLong(0)
            decodeWav(r.getAs[Array[Byte]](1)).iterator.flatMap { case (_, ch, _, inter) =>
              val n = inter.length / ch
              val mono = Array.tabulate(n) { i =>
                var c = 0; var acc = 0.0
                while (c < ch) { acc += inter(i * ch + c); c += 1 }
                acc / ch
              }
              (0 until n / windowSamples).iterator.map { w =>
                val s = w * windowSamples
                var i = s; var sq = 0.0; var zc = 0
                while (i < s + windowSamples) {
                  sq += mono(i) * mono(i)
                  if (i > s && (mono(i) >= 0) != (mono(i - 1) >= 0)) zc += 1
                  i += 1
                }
                Row(id, w.toLong, math.sqrt(sq / windowSamples),
                  zc.toDouble / (windowSamples - 1))
              }
            }
          }
        }
      }
    spark.createDataFrame(rows, audioFeatureSchema)
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("size", LongType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("channels", LongType),
    StructField("fp", LongType)))

  /** Dimension extraction: REAL for every decodable image (netpbm + the
    * JDK ImageIO formats); payloads no decoder recognises get
    * deterministic size-derived dimensions so the pass is total. The
    * fingerprint is always the first 32 bits of md5, matching the SQL
    * oracle's `('0x' || substr(md5(payload), 1, 8))::BIGINT`. */
  def dimsAndFingerprint(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val d = MessageDigest.getInstance("MD5").digest(bytes)
    val fp = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    decodeImage(bytes) match {
      case Some((w, h, c, _)) => (w.toLong, h.toLong, c.toLong, fp)
      case None => (bytes.length % 640 + 1, bytes.length % 480 + 1, 3L, fp)
    }
  }

  /** Attach a binary payload column derived from text (stand-in for real
    * media bytes loaded from a blob store). */
  def withPayload(docs: DataFrame, textCol: String, payloadCol: String): DataFrame =
    docs.withColumn(payloadCol, encode(col(textCol), "UTF-8"))

  /** Attach a VALID binary P5 (grayscale PGM) payload synthesized from
    * text — the deterministic blob-store stand-in that still exercises
    * the REAL decode path: gray values are the text's bytes cycled to
    * w×h (`rpad` with the text itself as pad), so identical text ⇒
    * identical image and near-identical text ⇒ near-identical image. */
  def withPgmPayload(docs: DataFrame, textCol: String, payloadCol: String,
                     w: Int = 32, h: Int = 32): DataFrame =
    docs.withColumn(payloadCol, encode(concat(
      lit(s"P5\n$w $h\n255\n"),
      expr(s"rpad(concat($textCol, 'x'), ${w * h}, concat($textCol, 'x'))")),
      "ISO-8859-1"))

  /** 8×8 average-hash (aHash) of any decodable image: nearest-neighbour
    * downsample to an 8×8 gray grid, then one bit per cell — 1 iff the
    * cell is STRICTLY above the integer mean (the deterministic tie
    * rule). Uniform brightness shifts move the mean with the cells, so
    * the hash is robust to them; undecodable payloads return None. */
  def aHash8(bytes: Array[Byte]): Option[Long] = decodeImage(bytes).map {
    case (w, h, c, px) =>
      val g = new Array[Int](64)
      var sum = 0L
      var i = 0
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 8) {
          val sx = math.min(w - 1, gx * w / 8)
          val sy = math.min(h - 1, gy * h / 8)
          val base = (sy * w + sx) * c
          var s = 0
          var ch = 0
          while (ch < c) { s += px(base + ch) & 0xff; ch += 1 }
          g(i) = s / c; sum += g(i); i += 1; gx += 1
        }
        gy += 1
      }
      val mean = sum / 64
      var hash = 0L
      var b = 0
      while (b < 64) { if (g(b) > mean) hash |= 1L << b; b += 1 }
      hash
  }

  val dupGroupSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("is_image", BooleanType),
    StructField("phash", LongType)))

  /** Perceptual-hash image dedup groups: batched decode → [[aHash8]] per
    * payload (undecodable blobs fall back to their 32-bit content md5,
    * so the pass is total and byte-exact for non-images), then one
    * hash-key shuffle folds the corpus to
    * (is_image, phash, n_images, keeper_id) — keeper = min doc id, the
    * dedup decision table. `is_image` is part of the GROUP KEY: the
    * 64-bit aHash domain and the 32-bit md5-fallback domain can never be
    * merged into one group, so an image whose aHash lands below 2^32
    * cannot share a keeper with a non-image blob. The standard near-dup
    * image collapse (aHash buckets) at corpus scale: work is one decode
    * pass + a |distinct hash|-sized aggregation. */
  def imageDupGroups(docs: DataFrame, idCol: String, payloadCol: String,
                     batchSize: Int = 64): DataFrame =
    imageHashes(docs, idCol, payloadCol, batchSize)
      .groupBy("is_image", "phash")
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("keeper_id"))

  /** One (doc_id, is_image, phash) row per payload — the decode + aHash
    * pass shared by [[imageDupGroups]] and [[imageNearDupGraph]]. */
  def imageHashes(docs: DataFrame, idCol: String, payloadCol: String,
                  batchSize: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val rows = nonNull(docs, idCol, payloadCol).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val (isImage, hash) = aHash8(bytes) match {
              case Some(h) => (true, h)
              case None    => (false, dimsAndFingerprint(bytes)._4)
            }
            Row(id, isImage, hash)
          }
        }
      }
    spark.createDataFrame(rows, dupGroupSchema)
  }

  /** Exact Hamming near-dup graph over 64-bit perceptual hashes via
    * multi-index hashing (Norouzi, Punjani & Fleet 2012): the hash
    * splits into 4 disjoint 16-bit bands; by pigeonhole, any pair within
    * Hamming distance `maxHamming` <= 3 agrees EXACTLY on at least one
    * band, so one equality self-join per band surfaces every such pair
    * — no n² comparison, no recall loss (ImageAnnSpec pins equality with
    * the brute-force graph). Candidates collapse with `distinct` (a pair
    * can collide in several bands), verify with one bit_count(xor), and
    * each node keeps its top-`k` by (hamming ASC, id ASC). Buckets over
    * `maxBucket` (a degenerate band value — the solid-color-image
    * analogue of LSH boilerplate) are dropped, the standard skew guard.
    * Returns symmetric edges (src, dst, hamming, rank). */
  def hammingNearDupGraph(hashes: DataFrame, idCol: String, hashCol: String,
                          maxHamming: Int = 3, k: Int = 5,
                          maxBucket: Int = 100000,
                          preSpread: Boolean = true): DataFrame = {
    require(k >= 1)
    val edges = hammingEdges(hashes, idCol, hashCol, maxHamming, maxBucket,
      preSpread)
    val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"), col("hamming"))
      .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst"), col("hamming")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("hamming"), col("dst"))
    sym.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The exact Hamming candidate-pair stage behind [[hammingNearDupGraph]]
    * and [[imageDupClusters]]: `maxHamming + 1` disjoint contiguous bit
    * bands (sizes ⌊64/b⌋/⌈64/b⌉ — any partition works for the pigeonhole:
    * a pair within Hamming ≤ b−1 must agree exactly on some band), one
    * equality self-join per band, `distinct` over the collisions, one
    * bit_count(xor) verify. Radii up to 7 (8 × 8-bit bands); beyond
    * that band buckets degenerate (2^8 keys over millions of hashes)
    * and a different shape is needed. Returns (a_id, b_id, hamming)
    * with a_id < b_id. */
  def hammingEdges(hashes: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int, maxBucket: Int = 100000,
                   preSpread: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "multi-index bands thinner than 8 bits degenerate — radius capped at 7")
    val nb = maxHamming + 1
    // pre-spread before the ×nb band explode — see [[hammingEdgesWide]].
    // Callers that ALREADY hand this operator a multi-partition,
    // AQE-exempt relation (imageNearDupGraph/imageDupClusters spread the
    // raw hashes by phash BEFORE their exact-collapse groupBy, which
    // satisfies the aggregation's distribution AND parallelizes the
    // explode map side for free) pass preSpread = false and save the
    // round-robin exchange entirely — one fewer shuffle of the rep set.
    val np0 = hashes.sparkSession.sessionState.conf.numShufflePartitions
    val h0 = hashes.select(col(idCol).cast("long").as("id"), col(hashCol).as("ph"))
    val h = if (preSpread) h0.repartition(np0) else h0
    val bandCols = (0 until nb).map { b =>
      val lo = b * 64 / nb
      val hi = (b + 1) * 64 / nb
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(b).as("b"),
        shiftright(col("ph"), lo).bitwiseAND(lit(mask)).as("key"))
    }
    // EXPLICIT repartition on the join key after the explode: the band
    // rows inherit their parallelism from the pre-explode relation, which
    // AQE happily coalesces to ONE partition when the distinct-hash
    // aggregation upstream is small — and then the explode, the self-join
    // probe, and the pair expansion (the stage whose OUTPUT is orders of
    // magnitude bigger than its input — the one cardinality AQE cannot
    // see when it sizes the coalesce) all run single-threaded. A
    // user-specified partition count is exempt from AQE coalescing, and
    // hash-partitioning both sides on (b, key) co-locates the self-join
    // so it needs no further exchange.
    val np = hashes.sparkSession.sessionState.conf.numShufflePartitions
    val bands = h.select(col("id"), col("ph"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("ph"), col("bk.b").as("b"), col("bk.key").as("key"))
      .repartition(np, col("b"), col("key"))
    val ok = bands.groupBy("b", "key").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket).select("b", "key")
    val bb = bands.join(ok, Seq("b", "key"), "left_semi")
    bb.select(col("b"), col("key"), col("id").as("a_id"), col("ph").as("a_ph"))
      .join(bb.select(col("b"), col("key"), col("id").as("b_id"), col("ph").as("b_ph")),
        Seq("b", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "a_ph", "b_id", "b_ph").distinct()
      .withColumn("hamming", expr("bit_count(a_ph ^ b_ph)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** All XOR masks with at most `maxFlips` bits set within `width` bits
    * — the per-block Hamming-ball enumeration of [[hammingEdgesWide]].
    * Sizes: V(16,0)=1, V(16,1)=17, V(16,2)=137. */
  private def flipMasks(width: Int, maxFlips: Int): Array[Long] = {
    require(maxFlips >= 0 && maxFlips <= 2,
      "wide-radius enumeration needs at most 2 flips per side (radius <= 15)")
    val out = scala.collection.mutable.ArrayBuffer(0L)
    if (maxFlips >= 1)
      (0 until width).foreach(i => out += (1L << i))
    if (maxFlips >= 2)
      for (i <- 0 until width; j <- i + 1 until width)
        out += (1L << i) | (1L << j)
    out.toArray
  }

  /** Exact Hamming near-dup pairs for radii up to 15 — the WIDE-radius
    * continuation of [[hammingEdges]] (whose equality-only bands
    * degenerate past 7). Multi-index hashing with per-block Hamming-ball
    * query expansion (Norouzi, Punjani & Fleet 2012: enumerate the
    * ball of radius ⌊r/m⌋ around each substring), with the enumeration
    * SPLIT across the self-join's two sides: the hash splits into m = 4
    * disjoint 16-bit blocks; by pigeonhole a pair within Hamming ≤ r
    * agrees within f = ⌊r/4⌋ on some block; and two block keys within
    * Hamming f always share a midpoint z on their geodesic with
    * d(a,z) ≤ ⌊f/2⌋ and d(z,b) ≤ ⌈f/2⌉ — so side A emits each block
    * key's ≤ ⌊f/2⌋-flip variants, side B its ≤ ⌈f/2⌉-flip variants
    * (z collides in the join for either ordering of the unordered
    * pair, and the a_id < b_id filter keeps exactly one), and ONE
    * equality join per block surfaces every pair with NO recall loss
    * (ImageAnnSpec pins brute-force equality).
    *
    * SCALE HONESTY: unlike the radius-3 graph, the candidate volume
    * here is governed by the block-collision rate — a pair of UNIFORM
    * 64-bit codes has some block within Hamming f with probability
    * ≈ 4·V(16,f)/2^16 (≈ 4% at f = 3), so on high-entropy inputs the
    * candidate stage approaches that fraction of ALL pairs; no
    * equality-join scheme avoids this (it is the pigeonhole bound
    * itself). The wide radius is therefore for (a) moderate-n inputs
    * and (b) the REP level of a hierarchical pass — exact collapse +
    * radius-3 clustering first, then wide edges across the surviving
    * representatives (orders of magnitude fewer rows), which is how
    * [[imageDupClusters]] at maxHamming > 7 should be deployed at
    * 100 TB. HammingBench receipts the practical envelope.
    *
    * Splitting the enumeration halves the emission blow-up: at r = 15
    * each code emits 4·(17 + 137) = 616 rows instead of the
    * single-sided 4·697 = 2788. Verify is one bit_count(xor); buckets
    * over `maxBucket` per (block, variant) are dropped (the standard
    * degenerate-key skew guard). The shuffle carries (block, 16-bit
    * key, id, 64-bit hash) only — never payloads. Returns
    * (a_id, b_id, hamming) with a_id < b_id. */
  def hammingEdgesWide(hashes: DataFrame, idCol: String, hashCol: String,
                       maxHamming: Int, maxBucket: Int = 100000,
                       preSpread: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      "radius capped at 15: per-block enumeration beyond 3 flips blows up " +
        "— shrink the radius or move to bit-sampled sketches")
    val f = maxHamming / 4
    val fa = f / 2
    val fb = f - fa
    // pre-spread the (small) hash relation BEFORE the ×V(16,f) variant
    // explode: its one-partition aggregation output would otherwise run
    // the whole enumeration + shuffle write in a single task (measured
    // 2–6 s per side at sf0.1) — a cheap round-robin shuffle of the
    // input rows buys a 32-way explode. preSpread = false when the
    // caller already hands a multi-partition AQE-exempt relation (see
    // [[hammingEdges]]).
    val np0 = hashes.sparkSession.sessionState.conf.numShufflePartitions
    val h0 = hashes.select(col(idCol).cast("long").as("id"), col(hashCol).as("ph"))
    val h = if (preSpread) h0.repartition(np0) else h0
    // the (block, mask) pairs ride ONE typedlit constant and the variant
    // key is per-row shift/xor algebra — building 4·V(16,f) struct
    // columns inline instead (the first cut) generated ~15k lines of
    // Java and blew past Janino's method limits, silently dropping the
    // whole stage to interpreted mode (measured 17×)
    def emitted(flips: Int): DataFrame = {
      val masks = flipMasks(16, flips)
      // (block, mask) packed into one long (block << 16 | mask; masks are
      // 16-bit) — a Seq[Long] literal, since product-typed literals are
      // unsupported and per-variant struct columns blow up codegen
      val table: Array[Long] =
        (for { b <- 0 until 4; m <- masks } yield (b.toLong << 16) | m).toArray
      h.select(col("id"), col("ph"), explode(typedlit(table)).as("bm"))
        .select(col("id"), col("ph"),
          expr("CAST(shiftright(bm, 16) AS INT)").as("b"),
          expr("(shiftright(ph, shiftright(bm, 16) * 16) & 65535) ^ (bm & 65535)")
            .as("key"))
    }
    // EXPLICIT repartition on the join key after the variant explode —
    // same reason as [[hammingEdges]]: the emitted rows inherit the
    // pre-explode relation's partitioning, which AQE coalesces to ONE
    // partition when the distinct-hash input is small, and then the
    // ×V(16,f) explode, the equality-join probe, and the candidate-pair
    // expansion all run in a single task (measured: the whole stage
    // single-threaded at ~20 s vs ~2 s across 32 tasks — bimodal run to
    // run because the mode flips on AQE's near-threshold broadcast
    // estimate). A user-specified partition count is exempt from AQE
    // coalescing, and hash-partitioning both sides on (b, key)
    // co-locates the join with no further exchange.
    val np = hashes.sparkSession.sessionState.conf.numShufflePartitions
    val aSide = emitted(fa).repartition(np, col("b"), col("key"))
    val bSide = emitted(fb).repartition(np, col("b"), col("key"))
    val ok = bSide.groupBy("b", "key").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket).select("b", "key")
    aSide.join(ok, Seq("b", "key"), "left_semi")
      .select(col("b"), col("key"), col("id").as("a_id"), col("ph").as("a_ph"))
      .join(bSide.join(ok, Seq("b", "key"), "left_semi")
        .select(col("b"), col("key"), col("id").as("b_id"), col("ph").as("b_ph")),
        Seq("b", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "a_ph", "b_id", "b_ph").distinct()
      .withColumn("hamming", expr("bit_count(a_ph ^ b_ph)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Deterministic bit-sample positions for [[hammingEdgesSketch]]:
    * `tables` samples of `bits` distinct positions from 0..63, each
    * drawn by a Fisher–Yates shuffle seeded from md5(seed:table) — pure
    * arithmetic on (seed, table index), so the SAME positions can be
    * inlined into an engine-portable SQL oracle. */
  def sketchPositions(bits: Int, tables: Int, seed: String): Array[Array[Int]] = {
    // bits 11..16 serve the asymmetric LOOKUP path only (wider keys for
    // corpus-scale bucket spread — round 17); the self-join operator's
    // 6-bit-per-position packing caps at 10 and guards itself
    require(bits >= 1 && bits <= 16 && tables >= 1)
    Array.tabulate(tables) { t =>
      val d = MessageDigest.getInstance("MD5")
        .digest(s"$seed:$t".getBytes("UTF-8"))
      var st = java.nio.ByteBuffer.wrap(d).getLong // 64-bit stream state
      def next(bound: Int): Int = { // splitmix64 step, top bits
        st += 0x9e3779b97f4a7c15L
        var z = st
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        ((z >>> 33) % bound).toInt
      }
      val pool = Array.range(0, 64)
      (0 until bits).map { i =>
        val j = i + next(64 - i)
        val tmp = pool(i); pool(i) = pool(j); pool(j) = tmp
        pool(i)
      }.toArray
    }
  }

  /** Expected recall of an `s`-bit × `t`-table sketch for a pair at
    * EXACTLY Hamming distance `radius` (closer pairs do better): one
    * table collides iff all s sampled positions avoid the r differing
    * bits — hypergeometric p = Π_{i<s} (64−r−i)/(64−i) — and the tables
    * are independent samples, so recall = 1 − (1−p)^t. */
  def sketchRecall(radius: Int, bits: Int, tables: Int): Double = {
    val p = (0 until bits).map(i => (64.0 - radius - i) / (64.0 - i)).product
    1.0 - math.pow(1.0 - p, tables)
  }

  /** Smallest table count whose [[sketchRecall]] at `radius` meets
    * `targetRecall` — the sizing dial callers use instead of guessing. */
  def sketchTablesFor(radius: Int, bits: Int, targetRecall: Double): Int = {
    val p = (0 until bits).map(i => (64.0 - radius - i) / (64.0 - i)).product
    require(p > 0, s"radius $radius with $bits sampled bits can never collide")
    math.ceil(math.log1p(-targetRecall) / math.log1p(-p)).toInt.max(1)
  }

  private def combD(n: Int, k: Int): Double =
    if (k < 0 || k > n) 0.0
    else (1 to k).foldLeft(1.0)((acc, i) => acc * (n - k + i) / i)

  /** Per-table collision probability of an `bits`-bit sample for a pair
    * at EXACTLY Hamming distance `radius`, when the join probes the
    * key's Hamming ball of radius `probe` (multiprobe, Lv et al. VLDB
    * 2007): the pair collides iff at most `probe` of the sampled
    * positions differ — hypergeometric sum
    * Σ_{j<=probe} C(r,j)·C(64−r,s−j)/C(64,s). `probe = 0` equals the
    * plain [[sketchRecall]] construction. */
  def sketchCollisionP(radius: Int, bits: Int, probe: Int): Double =
    (0 to probe).map(j =>
      combD(radius, j) * combD(64 - radius, bits - j)).sum / combD(64, bits)

  /** [[sketchRecall]] generalized to multiprobe: recall at exactly
    * `radius` with `tables` tables each probed to key-distance `probe`.
    * The coverage is EXACT by the split-enumeration midpoint argument
    * (each join side emits its key's ≤⌈probe/2⌉-flip variants; two keys
    * within `probe` always share a variant), so this closed form is the
    * operator's true per-pair recall, not a bound. Holds under the
    * `maxBucket` guard too: the guard counts the 0-flip (true) key
    * population — never the variant-expanded rows — so multiprobe
    * does not change which buckets drop. */
  def sketchRecallMultiprobe(radius: Int, bits: Int, tables: Int,
                             probe: Int): Double =
    1.0 - math.pow(1.0 - sketchCollisionP(radius, bits, probe), tables)

  /** Smallest multiprobe table count meeting `targetRecall` at `radius`
    * — the probe-1 neighborhood multiplies per-table collision ~(1 +
    * s·r/(64−r−s)) and probe-2 ~another C(r,2)-factor, cutting the
    * table count ~6× / ~18× at s = 10, r = 18 vs probe 0. */
  def sketchTablesForMultiprobe(radius: Int, bits: Int, targetRecall: Double,
                                probe: Int): Int = {
    val p = sketchCollisionP(radius, bits, probe)
    require(p > 0, s"radius $radius with $bits sampled bits can never collide")
    math.ceil(math.log1p(-targetRecall) / math.log1p(-p)).toInt.max(1)
  }

  /** APPROXIMATE Hamming near-dup pairs for radii PAST 15 — where
    * [[hammingEdgesWide]]'s exact per-block enumeration ends (beyond 3
    * flips per block it blows up, and its own pigeonhole bound says no
    * exact equality-join scheme does better). Bit-sampled sketches
    * (index-style LSH for Hamming space): `tables` independent samples
    * of `bits` of the 64 positions ([[sketchPositions]] — deterministic
    * from `seed`); a pair is a candidate iff some table's sampled bits
    * agree exactly (one equality self-join per table, all tables in ONE
    * shuffle keyed (table, key)); verify is one bit_count(xor). MISSES
    * pairs by design — recall for a pair at distance r is
    * [[sketchRecall]](r, bits, tables) (size with [[sketchTablesFor]];
    * HammingSketchSpec gates ≥ 0.95 planted recall at radius 18 with
    * the default s=10/t=110 and pins determinism) — but everything it
    * RETURNS is an exact (a_id, b_id, hamming ≤ maxHamming) pair, and
    * the emitted pair set is a pure function of (inputs, seed, params),
    * which is what lets q_image_clusters_sketch replay it in a SQL
    * oracle.
    *
    * SCALE HONESTY, continued from [[hammingEdgesWide]]: at r = 18 of
    * 64 bits (28% of the code differing) LSH theory prices the lookup
    * at ~n^1.5 work — on UNIFORM codes the candidate stage approaches
    * (t / 2^bits) of all pairs (~11% at the defaults), so like the wide
    * operator this deploys at the REP level of a hierarchical pass
    * (exact collapse → radius-3 → wide → sketch across surviving reps),
    * receipted by HammingBench. Buckets whose TRUE (0-flip) key
    * population exceeds `maxBucket` drop (degenerate-key guard — at
    * probe >= 1 the guard counts base keys, not the variant-expanded
    * join rows, so multiprobe never changes which buckets drop); the
    * shuffle carries
    * (table, 10-bit key, id, hash) only. Returns (a_id, b_id, hamming)
    * with a_id < b_id. */
  def hammingEdgesSketch(hashes: DataFrame, idCol: String, hashCol: String,
                         maxHamming: Int, bits: Int = 10, tables: Int = 110,
                         seed: String = "sketch",
                         maxBucket: Int = 100000,
                         preSpread: Boolean = true,
                         probe: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63)
    // probe <= 2 keeps the per-side enumeration at <= 1 flip (s+1
    // variants); past that the variant volume erodes the table savings
    require(probe >= 0 && probe <= 2, "multiprobe supports key-distance 0..2")
    // this operator's packed-long key (6 bits/position) caps at 10
    // sampled positions; wider keys live on the asymmetric lookup path
    require(bits <= 10, "hammingEdgesSketch supports bits <= 10")
    val pos = sketchPositions(bits, tables, seed)
    val np = hashes.sparkSession.sessionState.conf.numShufflePartitions
    val h0 = hashes.select(col(idCol).cast("long").as("id"), col(hashCol).as("ph"))
    // pre-spread before the ×tables explode (see wide); false when the
    // caller's relation is already multi-partition and AQE-exempt
    val h = if (preSpread) h0.repartition(np) else h0
    // ALL table keys in one native loop (SketchKeys — r17: the former
    // per-(row × table) interpreted aggregate() fold dominated the scan
    // at 110 tables), posexploded back to the identical (t, key0) rows
    val base = h
      .select(col("id"), col("ph"),
        posexplode(org.apache.spark.sql.graft.SketchKeys(col("ph"), pos))
          .as(Seq("t", "key0")))
    // MULTIPROBE (Lv et al. 2007), split across the self-join's sides
    // like the wide operator's enumeration: flipping sampled position i
    // is flipping BIT i of the packed key — position-independent — so
    // each side emits its key's <= f-flip variants from one tiny
    // typedlit and two keys within `probe` always share a variant
    // (midpoint). Collision becomes key-distance <= probe EXACTLY,
    // which is what lets sketchRecallMultiprobe stay a closed form and
    // the SQL oracle replay it as bit_count(xor & mask) <= probe.
    def flips(f: Int): Array[Long] =
      if (f == 0) Array(0L) else 0L +: Array.tabulate(bits)(1L << _)
    // Degenerate-key guard on the TRUE (0-flip) key population. At
    // probe >= 1 the spread rows are variant-expanded ~(bits+1)x, so
    // counting THEM would drop buckets ~11x early and silently undercut
    // sketchRecallMultiprobe in dense regions. Guard BEFORE the variant
    // spread instead: a row whose (t, key0) base population exceeds
    // maxBucket leaves that table entirely — variants included, because
    // an oversized bucket's variants would otherwise just relocate the
    // quadratic blowup into its <= bits neighbor buckets. Semantics
    // match probe 0 per table ("pairs whose endpoint key is degenerate
    // in table t drop from table t"), and every surviving bucket's join
    // traffic is bounded by (bits+1)*maxBucket rows per side.
    val fa = probe / 2
    val fb = probe - fa
    val guarded =
      if (probe == 0) base
      else {
        val big = base.groupBy("t", "key0").agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBucket).select("t", "key0")
        base.join(big, Seq("t", "key0"), "left_anti")
      }
    def spread(fm: Array[Long]): DataFrame =
      (if (fm.length == 1) guarded.select(col("id"), col("ph"), col("t"),
        col("key0").as("key"))
      else guarded.select(col("id"), col("ph"), col("t"), col("key0"),
        explode(typedlit(fm)).as("fm"))
        .select(col("id"), col("ph"), col("t"),
          col("key0").bitwiseXOR(col("fm")).as("key")))
        .repartition(np, col("t"), col("key"))
        .localCheckpoint(true) // join side(s) + the probe-0 bucket guard
    val bSide = spread(flips(fb))
    val aSide = if (fa == fb) bSide else spread(flips(fa))
    val (aa, bb) =
      if (probe == 0) {
        // at probe 0 the spread rows ARE the 0-flip rows — keep the
        // checkpointed-side semi-join (identical semantics, no extra
        // pass, and the contract entry's gated plan fingerprint stays
        // byte-stable)
        val ok = bSide.groupBy("t", "key").agg(count(lit(1)).as("n"))
          .filter(col("n") <= maxBucket).select("t", "key")
        val a2 = aSide.join(ok, Seq("t", "key"), "left_semi")
        (a2, a2)
      } else (aSide, bSide)
    aa.select(col("t"), col("key"), col("id").as("a_id"), col("ph").as("a_ph"))
      .join(bb.select(col("t"), col("key"), col("id").as("b_id"), col("ph").as("b_ph")),
        Seq("t", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "a_ph", "b_id", "b_ph").distinct()
      .withColumn("hamming", expr("bit_count(a_ph ^ b_ph)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** ASYMMETRIC multiprobe Hamming LOOKUP — query-batch-vs-corpus, the
    * INDEX shape where multiprobe finally wins (round 16; the SELF-join
    * A/B receipt in SURVEY.md §2, MULTIPROBE entry, measured it losing
    * there — candidate volume dominates a near-dup-heavy self-join —
    * so [[hammingEdgesSketch]] keeps probe 0 and THIS operator carries
    * the probe): the corpus
    * emits exactly ONE row per (table, key) per hash — no variants ever
    * ride the big side — while each query emits its key's FULL
    * ≤`probe`-flip ball (1 + s + C(s,2) = 56 variants at s = 10,
    * probe = 2) on the small side only. A (query, corpus) pair collides
    * iff some table's sampled positions differ in ≤ `probe` bits —
    * the same exact key-distance semantics as the split-enumeration
    * self-join, so [[sketchRecallMultiprobe]] is this operator's true
    * per-pair recall and [[sketchTablesForMultiprobe]] its sizing dial:
    * at radius 18 / 0.95 recall the corpus shuffles 6 rows per hash
    * instead of probe-0's 110 — an 18× cut of the dominant (corpus
    * emission) term that the variant ball never touches, because it
    * multiplies only the |Q|-sized side (receipt: SURVEY.md §2,
    * `q_image_query` entry).
    * Degenerate corpus buckets over `maxBucket` TRUE population drop
    * (same guard semantics as the self-join). Everything returned is an
    * exact verified pair, and the emitted set is a pure function of
    * (inputs, seed, params) — replayable in SQL as
    * `bit_count(xor(qh, ch) & table_mask) <= probe` over the inlined
    * position masks, which is how q_image_query's oracle certifies it.
    * Returns (query_id, match_id, hamming); self-pairs are returned
    * (a query present in the corpus matches itself at 0) — callers
    * filter by id. */
  def hammingLookupSketch(corpus: DataFrame, queries: DataFrame,
                          idCol: String, hashCol: String,
                          maxHamming: Int, bits: Int = 10, tables: Int = 6,
                          seed: String = "sketch", probe: Int = 2,
                          maxBucket: Int = 100000): DataFrame = {
    val c = sketchKeyed(corpus, idCol, hashCol, bits, tables, seed)
      .repartition(
        corpus.sparkSession.sessionState.conf.numShufflePartitions,
        col("t"), col("key0"))
      .localCheckpoint(true) // guard + join probe side share it
    lookupJoin(c, queries, idCol, hashCol, maxHamming, bits, tables, seed,
      probe, maxBucket)
  }

  /** One row per (table, sampled-key) per input hash — the relation both
    * the inline lookup and the persisted index share. Up to 10 sampled
    * positions ride the self-join operator's packed-long literal; bits
    * 11..16 (wider keys: 2^bits buckets cut corpus-scale random-
    * collision tails 16–64× — round 17, §8 item 2) carry each table's
    * positions as an array literal instead, same key0 arithmetic. */
  private def sketchKeyed(df: DataFrame, idCol: String, hashCol: String,
                          bits: Int, tables: Int, seed: String): DataFrame = {
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.select(col(idCol).cast("long").as("id"), col(hashCol).as("ph"))
      .repartition(np) // pre-spread before the ×tables explode
    // ALL table keys in one native loop (SketchKeys — r17; replaces the
    // per-(row × table) interpreted aggregate() fold on BOTH the packed
    // (bits <= 10) and array-literal (11..16) paths — key0 arithmetic
    // unchanged, so the persisted-index layout and every oracle replay
    // are bit-identical)
    base.select(col("id"), col("ph"),
      posexplode(org.apache.spark.sql.graft.SketchKeys(
        col("ph"), sketchPositions(bits, tables, seed))).as(Seq("t", "key0")))
  }

  /** The query-ball-vs-keyed-corpus join shared by [[hammingLookupSketch]]
    * and [[hammingLookupIndexed]]. `corpusKeyed` carries
    * (id, ph, t, key0). `preGuarded` skips the degenerate-bucket
    * recount for an index that [[buildHammingSketchIndex]] already
    * guarded at build time (same `maxBucket`) — without it every query
    * batch pays a full index scan + aggregate before the probe.
    * `broadcastQueries` broadcasts the |Q|·tables·ball variant relation
    * so the CORPUS side never shuffles — the asymmetric shape this
    * operator exists for (round-17 receipt, SURVEY.md §2
    * `q_image_query_wide` entry: the unbroadcast plan shuffled the full
    * 4M×t-row index per batch, and the planner cannot know the derived
    * ball is small); pass false only when the
    * query batch itself is too large to broadcast (|Q|·tables·ball
    * rows), and chunk the batch instead at scale. */
  private def lookupJoin(corpusKeyed: DataFrame, queries: DataFrame,
                         idCol: String, hashCol: String, maxHamming: Int,
                         bits: Int, tables: Int, seed: String,
                         probe: Int, maxBucket: Int,
                         preGuarded: Boolean = false,
                         broadcastQueries: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63)
    require(probe >= 0 && probe <= 2, "lookup multiprobe supports 0..2 flips")
    // TRUE-population degenerate-key guard (only the corpus can be
    // degenerate at scale; the query ball multiplies rows AFTER this)
    val guarded =
      if (preGuarded) corpusKeyed
      else {
        val ok = corpusKeyed.groupBy("t", "key0").agg(count(lit(1)).as("n"))
          .filter(col("n") <= maxBucket).select("t", "key0")
        corpusKeyed.join(ok, Seq("t", "key0"), "left_semi")
      }
    val cOk = guarded
      .select(col("t"), col("key0").as("key"),
        col("id").as("match_id"), col("ph").as("c_ph"))
    // the query ball: XOR masks for every ≤probe-subset of the key bits
    val ball: Array[Long] = {
      val singles = Array.tabulate(bits)(1L << _)
      val pairs = for {
        i <- 0 until bits; j <- (i + 1) until bits
      } yield (1L << i) | (1L << j)
      probe match {
        case 0 => Array(0L)
        case 1 => 0L +: singles
        case _ => (0L +: singles) ++ pairs
      }
    }
    val qv0 = sketchKeyed(queries, idCol, hashCol, bits, tables, seed)
      .select(col("id").as("query_id"), col("ph").as("q_ph"), col("t"),
        col("key0"), explode(typedlit(ball)).as("fm"))
      .select(col("query_id"), col("q_ph"), col("t"),
        col("key0").bitwiseXOR(col("fm")).as("key"))
    val qv = if (broadcastQueries) broadcast(qv0) else qv0
    qv.join(cOk, Seq("t", "key"))
      .filter(expr("bit_count(q_ph ^ c_ph)") <= maxHamming)
      .select("query_id", "match_id", "q_ph", "c_ph").distinct()
      .withColumn("hamming", expr("bit_count(q_ph ^ c_ph)").cast("long"))
      .select("query_id", "match_id", "hamming")
  }

  /** PERSIST the lookup corpus as a sketch index — where the asymmetric
    * multiprobe sizing is a pure, config-independent win: the index
    * holds `tables` rows per hash, so probe-2 sizing (6 tables at 0.95
    * recall / radius 18) writes, stores, and — at query time — SCANS
    * 18× less than probe-0's 110 tables. At 100 TB the index artifact
    * IS the cost of this shape (build I/O, disk, per-query scan);
    * SURVEY.md §2 (`q_image_query` entry) receipts bytes + build +
    * indexed-query wall side by side.
    * Layout: parquet (id, ph, t, key0) exchanged once on (t, key0) so
    * each bucket lands contiguously; readers re-shuffle only the tiny
    * query side. */
  def buildHammingSketchIndex(corpus: DataFrame, idCol: String,
                              hashCol: String, path: String,
                              bits: Int = 10, tables: Int = 6,
                              seed: String = "sketch",
                              maxBucket: Int = 100000): Unit = {
    // TRUE-population degenerate-bucket guard applied at BUILD time
    // (round 17): rows in (t, key0) buckets over `maxBucket` never
    // land in the artifact, so readers skip the per-batch full-scan
    // recount ([[hammingLookupIndexed]] preGuarded) — the guard is a
    // pure function of the corpus, identical whenever it runs.
    val keyed = sketchKeyed(corpus, idCol, hashCol, bits, tables, seed)
      .localCheckpoint(true) // guard count + filtered write share it
    val ok = keyed.groupBy("t", "key0").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket).select("t", "key0")
    keyed.join(ok, Seq("t", "key0"), "left_semi")
      .repartition(
        corpus.sparkSession.sessionState.conf.numShufflePartitions,
        col("t"), col("key0"))
      .write.mode("overwrite").parquet(path)
  }

  /** Probe a query batch against a [[buildHammingSketchIndex]] artifact.
    * (bits, tables, seed, probe, maxBucket) must match the build's
    * sizing — results are then identical to [[hammingLookupSketch]] on
    * the same corpus (the spec pins it). The build already dropped
    * degenerate buckets, so the probe is one map-side index scan into a
    * broadcast of the query ball — the corpus never shuffles (pass
    * `broadcastQueries = false` and chunk the batch when
    * |Q|·tables·ball is itself too large to broadcast). */
  def hammingLookupIndexed(spark: org.apache.spark.sql.SparkSession,
                           path: String, queries: DataFrame,
                           idCol: String, hashCol: String,
                           maxHamming: Int, bits: Int = 10, tables: Int = 6,
                           seed: String = "sketch", probe: Int = 2,
                           maxBucket: Int = 100000,
                           broadcastQueries: Boolean = true): DataFrame =
    lookupJoin(spark.read.parquet(path), queries, idCol, hashCol,
      maxHamming, bits, tables, seed, probe, maxBucket,
      preGuarded = true, broadcastQueries = broadcastQueries)

  /** Image near-dup CLUSTERS — the q_dedup_clusters shape in the image
    * domain: decode → aHash → exact collapse → [[hammingEdges]] within
    * `maxHamming` → connected components (min-label) → one row per
    * cluster (cluster_label, n_reps, n_images) where n_images counts
    * exact copies through their representative. Edge-untouched reps are
    * their own singleton cluster. */
  def imageDupClusters(docs: DataFrame, idCol: String, payloadCol: String,
                       maxHamming: Int = 3, batchSize: Int = 64): DataFrame = {
    // phash-keyed spread BEFORE the collapse — satisfies the groupBy's
    // distribution, is AQE-coalesce-exempt, and parallelizes the band /
    // variant / table explode downstream without the edge operators'
    // round-robin pre-spread (preSpread = false): one fewer exchange
    // per entry (see [[imageNearDupGraph]])
    val np = docs.sparkSession.sessionState.conf.numShufflePartitions
    val reps = imageHashes(docs, idCol, payloadCol, batchSize)
      .filter(col("is_image"))
      .repartition(np, col("phash"))
      .groupBy("phash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_exact"))
    // past the equality bands' radius-7 guarantee, route through the
    // wide-radius query-expansion operator (exact to 15); past THAT,
    // bit-sampled sketches (approximate — recall per sketchRecall,
    // deterministic, every returned pair exact)
    val edges =
      if (maxHamming <= 7)
        hammingEdges(reps, "doc_id", "phash", maxHamming, preSpread = false)
      else if (maxHamming <= 15)
        hammingEdgesWide(reps, "doc_id", "phash", maxHamming, preSpread = false)
      else
        // probe-0 sketch, 110 tables — MEASURED choice (SURVEY.md §2
        // MULTIPROBE entry, round
        // 15, real 10× rep set: probe0/t110 5.5 s, probe1/t18 7.3 s,
        // probe2/t6 11 s warm): multiprobe cuts t·n emission but
        // inflates the bucket self-join by v_a·v_b/p-lift (≈7.8× at
        // probe 2), and on near-dup image corpora the key mass is
        // concentrated enough that candidates, not shuffle rows,
        // dominate. Multiprobe stays a library capability
        // (probe = 1|2 + sketchTablesForMultiprobe) for spread-key
        // corpora where the emission term wins.
        hammingEdgesSketch(reps, "doc_id", "phash", maxHamming,
          preSpread = false)
    val comps = graft.operators.Dedup.connectedComponentsAuto(
      edges.select("a_id", "b_id"))
    reps.join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(coalesce(col("label"), col("doc_id")).as("cluster_label"),
        col("n_exact"))
      .groupBy("cluster_label")
      .agg(count(lit(1)).as("n_reps"), sum("n_exact").as("n_images"))
  }

  /** Image near-dup graph over a payload column: decode → aHash → exact
    * collapse (distance-0 copies share one representative) → the
    * [[hammingNearDupGraph]] over distinct hashes → one NODE row per
    * representative image (n_exact, n_neighbors, nearest_id,
    * nearest_hamming; NULLs when isolated) — the per-image near-dup
    * decision table, robust to brightness shifts like aHash itself. */
  def imageNearDupGraph(docs: DataFrame, idCol: String, payloadCol: String,
                        maxHamming: Int = 3, k: Int = 5,
                        batchSize: Int = 64): DataFrame = {
    // phash-keyed spread BEFORE the collapse: satisfies the groupBy's
    // required distribution (no second exchange for the agg), is exempt
    // from AQE's coalesce (the round-13 single-task-explode pathology),
    // and leaves the rep relation multi-partition — so the band explode
    // downstream needs NO round-robin pre-spread (preSpread = false),
    // one fewer exchange end to end. Raw hash rows are 24 bytes fixed
    // width, so forgoing map-side combine on this exchange is noise.
    val np = docs.sparkSession.sessionState.conf.numShufflePartitions
    val reps = imageHashes(docs, idCol, payloadCol, batchSize)
      .filter(col("is_image"))
      .repartition(np, col("phash"))
      .groupBy("phash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_exact"))
    val g = hammingNearDupGraph(reps, "doc_id", "phash", maxHamming, k,
      preSpread = false)
    val per = g.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("n_neighbors"),
        min(struct(col("hamming"), col("dst"))).as("__nn"))
      .select(col("doc_id"), col("n_neighbors"),
        col("__nn.dst").as("nearest_id"), col("__nn.hamming").as("nearest_hamming"))
    reps.select(col("doc_id"), col("n_exact"))
      .join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_neighbors"))
  }

  /** Frame-sampled video dedup THROUGH the CDC chunker: sampled frames
    * ([[sampleFrames]] — real decode for MJPEG-AVI/GIF, deterministic
    * slicing for codec-bound payloads) hash to 8-hex tokens, each
    * video's token sequence concatenates in frame order into one string,
    * and [[Dedup.cdcDedup]] chunks THAT with content-defined boundaries
    * — so two videos sharing a frame run (a clip, a re-post with an
    * inserted intro) share chunks even though fixed-width chunking would
    * shift every boundary after the insertion. Returns per video
    * (idCol, n_frames, n_chunks, n_dup_chunks, dup_chars) with dup_chars
    * in token characters (8 per sampled frame). */
  def videoCdcDedup(docs: DataFrame, idCol: String, payloadCol: String,
                    frameBytes: Int, stride: Int,
                    w: Int = 16, div: Int = 32, batchSize: Int = 64): DataFrame = {
    val seqs = frameTokenSeqs(docs, idCol, payloadCol, frameBytes, stride, batchSize)
      .localCheckpoint(true) // feeds the chunker AND the final join
    graft.operators.Dedup.cdcDedup(seqs, "doc_id", "__fstr", w, div)
      .join(seqs.select(col("doc_id"), col("n_frames")), Seq("doc_id"))
      .select(col("doc_id"), col("n_frames"), col("n_chunks"),
        col("n_dup_chunks"), col("dup_chars"))
  }

  /** Each video's sampled-frame token sequence — (doc_id, n_frames,
    * __fstr) with __fstr = 8-hex md5 tokens concatenated in frame order.
    * Shared by [[videoCdcDedup]] and the streaming ingest twin so the
    * chunk domain cannot drift. */
  def frameTokenSeqs(docs: DataFrame, idCol: String, payloadCol: String,
                     frameBytes: Int, stride: Int,
                     batchSize: Int = 64): DataFrame =
    sampleFrames(docs, idCol, payloadCol, frameBytes, stride, batchSize)
      .select(col("doc_id"), col("frame_idx"),
        substring(md5(col("frame")), 1, 8).as("__tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        concat_ws("", transform(
          array_sort(collect_list(struct(col("frame_idx"), col("__tok")))),
          p => p("__tok"))).as("__fstr"))

  /** Rows with a NULL payload carry nothing to decode — drop them before
    * the batch pass (a null would NPE inside the per-batch dereference). */
  private def nonNull(docs: DataFrame, idCol: String, payloadCol: String): DataFrame =
    docs.select(col(idCol).cast("long"), col(payloadCol))
      .filter(col(payloadCol).isNotNull)

  val resizedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("pixels", BinaryType)))

  /** Resize to `targetW`×`targetH`: REAL nearest-neighbour resampling for
    * every decodable image (netpbm + JDK ImageIO formats; output =
    * targetW*targetH*channels pixel bytes); undecodable payloads keep the
    * deterministic stand-in ("pixels" = payload bytes cyclically
    * resampled to targetW*targetH — the schema/size contract of a real
    * resizer applied to a non-image blob). */
  def resize(docs: DataFrame, idCol: String, payloadCol: String,
             targetW: Int, targetH: Int, batchSize: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val n = targetW * targetH
    val rows = nonNull(docs, idCol, payloadCol).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val bytes = r.getAs[Array[Byte]](1)
            val out = decodeImage(bytes) match {
              case Some((w, h, c, px)) => resamplePixels(px, w, h, c, targetW, targetH)
              case None => Array.tabulate[Byte](n)(i =>
                if (bytes.isEmpty) 0 else bytes(i % bytes.length))
            }
            Row(r.getLong(0), targetW.toLong, targetH.toLong, out)
          }
        }
      }
    spark.createDataFrame(rows, resizedSchema)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", LongType),
    StructField("frame", BinaryType)))

  /** REAL multi-frame decode of animated GIF payloads via the JDK's
    * ImageIO reader API (`getNumImages` / per-index `read`). Each frame
    * is normalised to the same row-major byte layout as [[decodeJdk]].
    * Frames are returned as independently-decoded rasters (no disposal
    * compositing — each is what the format stores for that index).
    * None when the payload is not a GIF. */
  private def packRgb(img: java.awt.image.BufferedImage): (Int, Int, Int, Array[Byte]) = {
    val w = img.getWidth; val h = img.getHeight
    val argb = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Byte](w * h * 3)
    var j = 0
    while (j < argb.length) {
      val v = argb(j)
      out(j * 3) = ((v >> 16) & 0xff).toByte
      out(j * 3 + 1) = ((v >> 8) & 0xff).toByte
      out(j * 3 + 2) = (v & 0xff).toByte
      j += 1
    }
    (w, h, 3, out)
  }

  def decodeGifFrames(bytes: Array[Byte]): Option[Seq[(Int, Int, Int, Array[Byte])]] = {
    if (bytes.length < 4 || bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F') return None
    javax.imageio.ImageIO.setUseCache(false)
    val in = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    val readers = javax.imageio.ImageIO.getImageReaders(in)
    if (!readers.hasNext) { in.close(); return None }
    val reader = readers.next()
    try {
      reader.setInput(in)
      val n = reader.getNumImages(true)
      Some((0 until n).map(i => packRgb(reader.read(i))))
    } catch { case _: Exception => None }
    finally { reader.dispose(); in.close() }
  }

  /** REAL video frame extraction for MJPEG-in-AVI — the one mainstream
    * video container that needs no codec: each frame is an ordinary JPEG
    * in a `##dc`/`##db` chunk of the RIFF `movi` list, decodable by the
    * JDK's own ImageIO. Parses the RIFF structure directly (fourcc +
    * little-endian sizes, even-byte padding, nested `rec ` lists);
    * anything that isn't a RIFF/AVI or holds no decodable frames returns
    * None and the caller falls back. */
  def decodeAviMjpegFrames(bytes: Array[Byte]): Option[Seq[(Int, Int, Int, Array[Byte])]] = {
    if (bytes.length < 12 ||
      bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F' ||
      bytes(8) != 'A' || bytes(9) != 'V' || bytes(10) != 'I' || bytes(11) != ' ') return None
    def u32(p: Int): Long =
      (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
    def fourcc(p: Int): String = new String(bytes, p, 4, "US-ASCII")
    val raw = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(p0: Int, end: Int, inMovi: Boolean): Unit = {
      var p = p0
      while (p + 8 <= end) {
        val cc = fourcc(p)
        val dataStart = p + 8
        // Declared size is UNSIGNED 32-bit; clamp to the enclosing extent so
        // a corrupt/hostile size (>= 2^31, or past EOF) can neither walk the
        // pointer backwards (infinite loop) nor read past the array.
        val sz = math.min(u32(p + 4), (end - dataStart).toLong).toInt
        val dataEnd = dataStart + sz
        if (cc == "LIST" && dataEnd >= dataStart + 4)
          walk(dataStart + 4, dataEnd,
            inMovi || { val t = fourcc(dataStart); t == "movi" || t == "rec " })
        else if (inMovi && cc(0).isDigit && cc(1).isDigit &&
          cc(2) == 'd' && (cc(3) == 'c' || cc(3) == 'b') && dataEnd > dataStart)
          raw += java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
        p = dataStart + sz + (sz & 1) // chunks pad to even; strictly advances
      }
    }
    walk(12, bytes.length, inMovi = false)
    if (raw.isEmpty) return None
    try {
      javax.imageio.ImageIO.setUseCache(false)
      val frames = raw.toSeq.map { fb =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
        if (img == null) return None
        packRgb(img)
      }
      Some(frames)
    } catch { case _: Exception => None }
  }

  /** Frame sampling: every `stride`-th frame, one output row per sampled
    * frame — REAL decoded rasters for animated GIF payloads AND
    * MJPEG-in-AVI video (RIFF parse + per-frame ImageIO JPEG decode, see
    * [[decodeAviMjpegFrames]] — no codec needed); any other payload is
    * treated as a "video" of fixed-size `frameBytes` slices — the
    * row-explosion shape (1 payload → N frame rows) of a sampler for
    * codec-bound formats (the JDK ships no H.26x/VP9 decoder), batch
    * iteration preserved. */
  def sampleFrames(docs: DataFrame, idCol: String, payloadCol: String,
                   frameBytes: Int, stride: Int, batchSize: Int = 64): DataFrame = {
    require(frameBytes > 0 && stride > 0)
    val spark = docs.sparkSession
    val rows = nonNull(docs, idCol, payloadCol).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            decodeGifFrames(bytes).orElse(decodeAviMjpegFrames(bytes)) match {
              case Some(frames) =>
                (0 until frames.size by stride).iterator.map { f =>
                  Row(id, f.toLong, frames(f)._4)
                }
              case None =>
                val nFrames = bytes.length / frameBytes
                (0 until nFrames by stride).iterator.map { f =>
                  Row(id, f.toLong, bytes.slice(f * frameBytes, (f + 1) * frameBytes))
                }
            }
          }
        }
      }
    spark.createDataFrame(rows, frameSchema)
  }

  /** Batched metadata extraction over the payload column. */
  def decodeMeta(docs: DataFrame, idCol: String, payloadCol: String,
                 batchSize: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val rows = nonNull(docs, idCol, payloadCol).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // one "batch" = one native-decoder invocation in a real pipeline
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val (w, h, c, fp) = dimsAndFingerprint(bytes)
            Row(id, bytes.length.toLong, w, h, c, fp)
          }
        }
      }
    spark.createDataFrame(rows, metaSchema)
  }
}
