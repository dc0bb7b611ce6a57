package graft.llm

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed per-partition in batches (the Scala analog
  * of `mapInPandas`).
  *
  * The decode step is REAL for the formats the JVM ships codecs for:
  * PNG/JPEG/BMP/GIF via `javax.imageio` (JDK java.desktop, headless-safe)
  * and WAV/PCM via a RIFF parse — no external libraries. Payloads in any
  * other format fall back to a deterministic stub (documented; a
  * production build swaps in a JNI codec without touching the plan). All
  * decoding runs inside `mapPartitions`, so the executor JVM decodes its
  * whole partition batch with no per-row driver round trips.
  */
object Multimodal {

  /** Output schema of the decode stage. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false)))

  /** Stub decode for payloads with no JVM codec: derives fake dimensions
    * from the byte payload deterministically (kept for plumbing tests and
    * as the documented unknown-format fallback). */
  private def fakeDecode(bytes: Array[Byte]): (Int, Int, Int) = {
    val n = bytes.length
    (n % 640 + 1, (n * 7) % 480 + 1, 3)
  }

  /** Magic-byte sniff: does this payload CLAIM to be a decodable image? */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b(0) == 0xff.toByte && b(1) == 0xd8.toByte) || // JPEG
      (b(0) == 'B' && b(1) == 'M') ||                 // BMP
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F'))    // GIF

  /** Real image decode via the JDK codec; None when the payload doesn't
    * parse. ImageIO signals corrupt-after-the-magic payloads BOTH ways —
    * null for unrecognized streams and IIOException for damaged ones —
    * and a bad row must never fail the partition, so both become None. */
  private def imageDecode(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] =
    if (!looksLikeImage(bytes)) None
    else try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes)))
    catch { case _: java.io.IOException | _: RuntimeException => None }

  /** Decode a binary media column per partition (batched, no per-row JVM
    * boundary crossings; the partition is the batch). Image payloads get
    * their REAL dimensions/band count; anything else the stub. */
  def decode(df: DataFrame, id: String, media: String): DataFrame = {
    df.select(col(id), col(media)).mapPartitions { (it: Iterator[Row]) =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val (w, h, c) = imageDecode(bytes) match {
          case Some(img) =>
            (img.getWidth, img.getHeight, img.getRaster.getNumBands)
          case None => fakeDecode(bytes)
        }
        Row(r.getLong(0), bytes.length, w, h, c)
      }
    }(Encoders.row(decodedSchema))
  }

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false)))

  /** Image feature extraction (real decode): dimensions + per-channel
    * mean intensity. Rows whose payload is not a decodable image are
    * dropped — the curation-filter contract. */
  def imageFeatures(df: DataFrame, id: String, media: String): DataFrame = {
    df.select(col(id), col(media)).mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        imageDecode(r.getAs[Array[Byte]](1)).map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff
              sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          Row(r.getLong(0), w, h, img.getRaster.getNumBands,
            sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
        }
      }
    }(Encoders.row(imageFeatureSchema))
  }

  /** Encode `frames` as one ANIMATED GIF (the multi-frame container the
    * JDK can both write and read headlessly — the honest video stand-in:
    * real frame enumeration, decode, and per-frame features with zero
    * native codec dependencies). */
  def makeAnimatedGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  val frameFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_no", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false)))

  /** REAL multi-frame decode: enumerate every frame of an animated GIF
    * (ImageReader.getNumImages + per-frame read) and emit per-frame RGB
    * means — one row per (doc, frame). Executor-side; undecodable rows
    * are skipped (same contract as [[imageFeatures]]). */
  def gifFrames(df: DataFrame, id: String, media: String): DataFrame = {
    df.select(col(id), col(media)).mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) { iis.close(); Iterator.empty }
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = try reader.getNumImages(true) catch { case _: Throwable => 0 }
            // A corrupt/truncated frame stops enumeration at that frame
            // rather than failing the job (skip contract, as documented).
            val rows = Vector.newBuilder[Row]
            var f = 0
            var ok = true
            while (f < n && ok) {
              try {
                val img = reader.read(f)
                val (w, h) = (img.getWidth, img.getHeight)
                var sr = 0L; var sg = 0L; var sb = 0L
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val rgb = img.getRGB(x, y)
                    sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff
                    sb += rgb & 0xff
                    x += 1
                  }
                  y += 1
                }
                val cnt = w.toLong * h
                rows += Row(r.getLong(0), f, w, h,
                  sr.toDouble / cnt, sg.toDouble / cnt, sb.toDouble / cnt)
              } catch { case _: Exception => ok = false }
              f += 1
            }
            rows.result().iterator
          } finally {
            reader.dispose(); iis.close()
          }
        }
      }
    }(Encoders.row(frameFeatureSchema))
  }

  /** Nearest-neighbor thumbnail resize (real decode): re-encodes each
    * image as a `tw`x`th` PNG. Executor-side, batch = partition. */
  def resize(df: DataFrame, id: String, media: String,
             tw: Int, th: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("thumb", BinaryType, nullable = false)))
    df.select(col(id), col(media)).mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        imageDecode(r.getAs[Array[Byte]](1)).map { img =>
          val out = new java.awt.image.BufferedImage(tw, th,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < th) {
            var x = 0
            while (x < tw) {
              out.setRGB(x, y, img.getRGB(
                x * img.getWidth / tw, y * img.getHeight / th))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          Row(r.getLong(0), bos.toByteArray)
        }
      }
    }(Encoders.row(schema))
  }

  val wavSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("rms", DoubleType, nullable = false)))

  /** Parse a RIFF/WAVE header + 16-bit PCM data chunk: (sampleRate,
    * channels, bits, nFrames, rms of normalized samples). */
  private def wavDecode(bytes: Array[Byte])
      : Option[(Int, Int, Int, Long, Double)] = {
    if (bytes.length < 44 || bytes(0) != 'R' || bytes(1) != 'I' ||
      bytes(2) != 'F' || bytes(3) != 'F' || bytes(8) != 'W' ||
      bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E') return None
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var p = 12
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var out: Option[(Int, Int, Int, Long, Double)] = None
    while (p + 8 <= bytes.length && out.isEmpty) {
      val cid = new String(bytes, p, 4, "US-ASCII")
      val sz = b.getInt(p + 4)
      // a corrupt size field must DROP the row, not hang the scan (sz < 0
      // would stall the cursor) or overrun the array (truncated payloads)
      if (sz < 0 || p + 8 + sz > bytes.length) return None
      cid match {
        case "fmt " =>
          if (sz < 16) return None
          fmt = Some((b.getShort(p + 10).toInt, b.getInt(p + 12),
            b.getShort(p + 22).toInt))
        case "data" =>
          val (ch, rate, bits) = fmt.getOrElse(return None)
          if (bits != 16) return None // PCM16 is the supported subset
          val nSamp = sz / 2
          var ss = 0.0
          var i = 0
          while (i < nSamp) {
            val v = b.getShort(p + 8 + i * 2) / 32768.0
            ss += v * v
            i += 1
          }
          out = Some((rate, ch, bits, nSamp.toLong / math.max(ch, 1),
            math.sqrt(ss / math.max(nSamp, 1))))
        case _ => ()
      }
      p += 8 + sz + (sz & 1)
    }
    out
  }

  /** Real audio decode: RIFF/WAVE PCM16 header + sample statistics.
    * Non-WAV payloads are dropped. */
  def decodeWav(df: DataFrame, id: String, media: String): DataFrame = {
    df.select(col(id), col(media)).mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        wavDecode(r.getAs[Array[Byte]](1)).map { case (sr, ch, bits, n, rms) =>
          Row(r.getLong(0), sr, ch, bits, n, rms)
        }
      }
    }(Encoders.row(wavSchema))
  }

  /** Audio frame features over decoded PCM16: per non-overlapping
    * `frameLen`-sample frame, the MEAN SQUARE energy (Σ s² div n —
    * exact integer on the raw sample grid; rms = sqrt(meansq)/32768
    * whenever a float view is wanted) and the zero-crossing rate
    * (adjacent sign products < 0) — the two classic VAD/segmentation
    * features. Trailing partial frames are dropped (fixed batch shape).
    * Executor-side decode, one row per frame — the q190/q191 decode
    * contract extended to real per-frame DSP. */
  def wavFrameFeatures(df: DataFrame, id: String, media: String,
                       frameLen: Int): DataFrame = {
    require(frameLen > 0, s"frameLen must be positive: $frameLen")
    df.select(col(id), col(media)).mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val docId = r.getLong(0)
        samplesPcm16(bytes) match {
          case None => Iterator.empty
          case Some(samples) =>
            val nFrames = samples.length / frameLen
            (0 until nFrames).iterator.map { f =>
              var ss = 0L
              var zc = 0L
              var j = f * frameLen
              val end = j + frameLen
              while (j < end) {
                val s = samples(j).toLong
                ss += s * s
                if (j + 1 < end &&
                  samples(j).toLong * samples(j + 1) < 0) zc += 1
                j += 1
              }
              Row(docId, f.toLong, frameLen.toLong, ss / frameLen, zc)
            }
        }
      }
    }(Encoders.row(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("frame_no",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("meansq",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("zcr",
        org.apache.spark.sql.types.LongType, nullable = false)))))
  }

  /** PCM16 sample extraction from a RIFF/WAVE payload (mono stream
    * view: channels interleave untouched); None on non-WAV. */
  private def samplesPcm16(bytes: Array[Byte]): Option[Array[Short]] = {
    if (bytes.length < 44 || bytes(0) != 'R' || bytes(1) != 'I' ||
      bytes(2) != 'F' || bytes(3) != 'F' || bytes(8) != 'W' ||
      bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E') return None
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var p = 12
    var bits = -1
    while (p + 8 <= bytes.length) {
      val cid = new String(bytes, p, 4, "US-ASCII")
      val sz = b.getInt(p + 4)
      if (sz < 0 || p + 8 + sz > bytes.length) return None
      cid match {
        case "fmt " =>
          if (sz < 16) return None
          bits = b.getShort(p + 22).toInt
        case "data" =>
          if (bits != 16) return None
          val n = sz / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = b.getShort(p + 8 + i * 2); i += 1 }
          return Some(out)
        case _ => ()
      }
      p += 8 + sz + (sz & 1)
    }
    None
  }

  /** Frame sampling: emit every `stride`-th fixed-size chunk of the
    * payload as a "frame" — the raw-stream (e.g. RGB24 video) chunking
    * contract; schema/partitioning identical to container-aware
    * extraction. */
  def frameSample(df: DataFrame, id: String, media: String,
                  frameBytes: Int, stride: Int): DataFrame =
    df.select(col(id), posexplode(split_binaryChunks(col(media), frameBytes))
      .as(Seq("frame_no", "frame")))
      .filter(col("frame_no") % stride === 0)

  /** Chunk a binary column into fixed-size pieces (expression-only). */
  private def split_binaryChunks(media: org.apache.spark.sql.Column, n: Int) =
    transform(
      sequence(lit(0), greatest(((length(media) - 1) / n).cast("int"), lit(0))),
      i => substring(media, (i * n + 1).cast("int"), lit(n)))

  // ------------------------------------------------------------------
  // Perceptual-hash near-dup (dHash): the image counterpart of the text
  // near-dup family. Every step is DETERMINISTIC integer arithmetic so
  // an external engine can replay the hash from a known pixel function:
  // gray = (299R + 587G + 114B) div 1000; 9x8 box-average pool with
  // floor(X*W/9)-boundary cells and floor-div means; bit(x,y) =
  // pooled(x+1,y) > pooled(x,y); the 64 bits pack as FOUR 16-bit band
  // values (two pooled rows each) — the banding is the hash layout, so
  // LSH-style candidate blocking is a plain equi-join on (band, value).
  // ------------------------------------------------------------------

  val dhashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("b0", IntegerType, nullable = false),
    StructField("b1", IntegerType, nullable = false),
    StructField("b2", IntegerType, nullable = false),
    StructField("b3", IntegerType, nullable = false)))

  /** 4x16-bit dHash bands per decodable image (rows with no decodable
    * payload drop out, the [[imageFeatures]] contract). */
  def dHashBands(df: DataFrame, id: String, media: String): DataFrame = {
    df.select(col(id), col(media)).mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        imageDecode(r.getAs[Array[Byte]](1)).map { img =>
          val w = img.getWidth; val h = img.getHeight
          val pooled = Array.ofDim[Long](9, 8)
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 9) {
              val x0 = xx * w / 9; val x1 = (xx + 1) * w / 9
              val y0 = yy * h / 8; val y1 = (yy + 1) * h / 8
              var s = 0L; var n = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  val rgb = img.getRGB(x, y)
                  s += (299L * ((rgb >> 16) & 0xff) +
                    587L * ((rgb >> 8) & 0xff) +
                    114L * (rgb & 0xff)) / 1000L
                  n += 1; x += 1
                }
                y += 1
              }
              pooled(xx)(yy) = if (n == 0) 0L else s / n
              xx += 1
            }
            yy += 1
          }
          val bands = new Array[Int](4)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (pooled(x + 1)(y) > pooled(x)(y))
                bands(y / 2) |= 1 << ((y % 2) * 8 + x)
              x += 1
            }
            y += 1
          }
          Row(r.getLong(0), bands(0), bands(1), bands(2), bands(3))
        }
      }
    }(Encoders.row(dhashSchema))
  }

  /** Near-dup image pairs from [[dHashBands]] output: candidates share
    * at least one band value (equi-join per band, bucket-capped at
    * `maxBucket` — the 100 TB knob that bounds any band-value hub);
    * survivors verified by full Hamming distance ≤ `maxHamming` over
    * the XOR bit counts. Returns (doc_a, doc_b, hamming), a < b. */
  def phashNearDupPairs(bands: DataFrame, id: String,
                        maxHamming: Int, maxBucket: Int = 10000)
      : DataFrame = {
    val b = graft.util.QueryCache.persist(bands)
    val spark = bands.sparkSession
    import spark.implicits._
    val bandIdx = Seq(0, 1, 2, 3).toDF("bi")
    val keyed = b.join(bandIdx, lit(true))
      .select(col(id).as("d"), col("bi"),
        element_at(array(col("b0"), col("b1"), col("b2"), col("b3")),
          col("bi") + 1).as("bv"))
    val capped = keyed.groupBy(col("bi"), col("bv"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") <= maxBucket)
      .select(col("bi"), col("bv"))
    val inCap = keyed.join(capped, Seq("bi", "bv"))
    val cands = inCap.as("x").join(inCap.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.d") < col("y.d"))
      .select(col("x.d").as("a"), col("y.d").as("b")).distinct()
    cands
      .join(b.select(col(id).as("a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), "a")
      .join(b.select(col(id).as("b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), "b")
      .withColumn("hamming",
        expr("""bit_count(a0 ^ c0) + bit_count(a1 ^ c1)
                + bit_count(a2 ^ c2) + bit_count(a3 ^ c3)""")
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("hamming"))
  }

  val spectralSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_no", IntegerType, nullable = false),
    StructField("dominant_bin", LongType, nullable = false),
    StructField("centroid6", DoubleType, nullable = true)))

  /** Spectral centroid per audio frame — a REAL DFT over decoded PCM16
    * frames (music/speech/noise discrimination, the frequency-domain
    * companion of [[wavFrameFeatures]]' energy/ZCR). Determinism: the
    * trig table is INTEGERIZED at e8 the moment libm produces it
    * (cos8 = round(cos((2π)·k·n/N)·1e8), likewise sin), so the rfft
    * accumulators re_e8/im_e8 are pure LONG sums any engine replays;
    * magnitudes take one sqrt in double rounded to a 4-dp e4 integer,
    * and the centroid (in BIN units) is one integer ratio rounded at
    * 6 dp. `dominant_bin` = argmax magnitude, lowest bin on ties.
    * Frames cap at `maxFrames` per doc (the scoring-prefix contract —
    * the full-stream sweep is the same plan per frame). */
  def spectralCentroid(df: DataFrame, id: String, media: String,
                       frameLen: Int, maxFrames: Int): DataFrame = {
    require(frameLen >= 4 && frameLen % 2 == 0, s"frameLen $frameLen")
    val nBins = frameLen / 2 + 1
    // e8 trig table, shared across rows (driver-computed, tiny)
    val cos8 = Array.tabulate(nBins, frameLen)((k, n) =>
      math.round(math.cos((2.0 * math.Pi) * k * n / frameLen) * 1e8))
    val sin8 = Array.tabulate(nBins, frameLen)((k, n) =>
      math.round(math.sin((2.0 * math.Pi) * k * n / frameLen) * 1e8))
    df.select(col(id), col(media)).mapPartitions { (it: Iterator[Row]) =>
      it.flatMap { r =>
        samplesPcm16(r.getAs[Array[Byte]](1)).toSeq.flatMap { xs =>
          val nf = math.min(maxFrames, xs.length / frameLen)
          (0 until nf).map { f =>
            val m4 = new Array[Long](nBins)
            var k = 0
            while (k < nBins) {
              var re = 0L; var im = 0L
              var n = 0
              while (n < frameLen) {
                val x = xs(f * frameLen + n).toLong
                re += x * cos8(k)(n)
                im -= x * sin8(k)(n)
                n += 1
              }
              val rd = re.toDouble / 1e8; val idd = im.toDouble / 1e8
              m4(k) = math.round(
                BigDecimal.valueOf(math.sqrt(rd * rd + idd * idd))
                  .setScale(4, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble * 1e4)
              k += 1
            }
            var num = 0L; var den = 0L; var best = 0
            var kk = 0
            while (kk < nBins) {
              num += kk.toLong * m4(kk); den += m4(kk)
              if (m4(kk) > m4(best)) best = kk
              kk += 1
            }
            val centroid =
              if (den == 0L) null
              else java.lang.Double.valueOf(
                BigDecimal.valueOf(num.toDouble / den.toDouble)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble + 0.0)
            Row(r.getLong(0), f, best.toLong, centroid)
          }
        }
      }
    }(Encoders.row(spectralSchema))
  }

  /** Synthetic PNG fixture: one REAL 18x16 PNG per input id, pixel
    * gray g = (t² + 3t) mod 251 over t = (f mod 251 + 31x + 577y)
    * mod 251 with f = d div 10 — a NONLINEAR per-family surface, so
    * distinct families land ~32 bits apart in Hamming space (a linear
    * gradient shares its difference structure across families and
    * makes the near-dup pair count quadratic in corpus size),
    * plus a one-pixel +97 (mod 251) perturbation at
    * ((d%10)·3 mod 18, (d%10)·5 mod 16) for members d%10 > 0 — ten-doc
    * FAMILIES of planted near-duplicates whose dHash an external engine
    * derives from the same closed-form pixel function (PNG is lossless,
    * so the encode/decode round trip preserves every value). */
  def syntheticPngs(ids: DataFrame, id: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("png", BinaryType, nullable = false)))
    ids.select(col(id)).mapPartitions { (it: Iterator[Row]) =>
      it.map { r =>
        val d = r.getLong(0)
        val f = d / 10; val m = d % 10
        val img = new java.awt.image.BufferedImage(18, 16,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 18) {
            val t = ((f % 251) + x * 31 + y * 577).toInt % 251
            var g = (t * t + 3 * t) % 251
            if (m > 0 && x == (m * 3) % 18 && y == (m * 5) % 16)
              g = ((g + 97) % 251).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(d, bos.toByteArray)
      }
    }(Encoders.row(schema))
  }
}
