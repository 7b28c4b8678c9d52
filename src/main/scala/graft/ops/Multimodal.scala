package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
 * columns with typed metadata, plus batch decode / feature-extract stages.
 *
 * The Spark-side mechanics (schema, partitioning, batch shape) are real.
 * The PGM and WAV stages below really decode; for other formats, which
 * have no codec here, `decodeBatched` stands in with a deterministic
 * md5-derived decoder. A production deployment swaps its per-row body for
 * a real codec; nothing else changes.
 *
 * Scale notes: payloads travel as `BinaryType` cells (Tungsten off-heap,
 * spillable); per-partition batch processing via `mapPartitions` keeps
 * decoder init (model load, codec contexts) amortized per-partition, the
 * same shape a pandas-UDF/Arrow path has in PySpark. Feature outputs are
 * fixed-width arrays so downstream ANN (Similarity) composes directly.
 */
object Multimodal {

  /** The engine-neutral md5(text#block) byte grid, cut at `n` — ONE
    * definition of the content-addressing scheme every encode stage
    * (PGM pixels, WAV samples) and every oracle replays; a divergent
    * copy here would silently hash-split the rows that share it. */
  private def md5Grid(md: java.security.MessageDigest, t: String,
                      n: Int): Array[Byte] = {
    // block cursor walks by offset, never by b*16 (which wraps Int for
    // n near Int.MaxValue and would loop wrongly instead of failing)
    require(n >= 0 && n <= Int.MaxValue - 16, s"md5Grid: bad size $n")
    val out = new Array[Byte](n)
    var off = 0
    var b = 0
    while (off < n) {
      md.reset()
      val dig = md.digest((t + "#" + b)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 16 && off + j < n) { out(off + j) = dig(j); j += 1 }
      b += 1
      off += 16
    }
    out
  }

  /** Exact integer (Σv, Σv²) over unsigned payload bytes — the moment
    * pair every quality gate consumes. */
  private def byteMoments(s: Array[Byte]): (Long, Long) = {
    var a = 0L; var sq = 0L; var i = 0
    while (i < s.length) {
      val v = (s(i) & 0xff).toLong
      a += v; sq += v * v; i += 1
    }
    (a, sq)
  }

  /** Declarative metadata extraction over the opaque payload — byte length
    * and a content digest; pure projections, no decode needed. */
  def withPayloadMeta(df: DataFrame, payloadCol: String): DataFrame =
    df.withColumn("n_bytes", octet_length(col(payloadCol)).cast("long"))
      .withColumn("digest", md5(col(payloadCol)))

  /** Per-partition batched "decode" over a TYPED Dataset — the batch shape a
    * real decoder needs: expensive init (codec context, model load — here a
    * reusable MessageDigest) happens ONCE per partition, rows stream through
    * in bounded batches, and the Encoder keeps rows in Tungsten binary form
    * (no GenericRow round-trip; the `df.rdd` form this replaces dropped out
    * of Tungsten and killed codegen downstream).
    *
    * The stand-in "decoder" is md5-derived — f0 = bytes/1024, f1..f3 = 60-bit
    * md5 prefix mod {997, 251, 127} — deliberately, because any SQL engine
    * with md5() can replay it exactly: this makes the whole mapPartitions
    * path externally verifiable, not just spec-tested. A production
    * deployment swaps the per-row body for a real codec; the partition/batch
    * plumbing is unchanged. Output: (idCol, f0, f1, f2, f3). */
  def decodeBatched(df: DataFrame, idCol: String, payloadCol: String,
                    batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      // expensive-decoder-init goes HERE, once per partition
      val md = java.security.MessageDigest.getInstance("MD5")
      it.grouped(batchSize).flatMap { batch =>
        batch.map { case (id, p) =>
          if (p == null) (id, 0.0, 0.0, 0.0, 0.0)
          else {
            md.reset()
            val hex = md.digest(p).map("%02x".format(_)).mkString.take(15)
            val h = java.lang.Long.parseLong(hex, 16)
            (id, p.length / 1024.0, (h % 997L).toDouble,
              (h % 251L).toDouble, (h % 127L).toDouble)
          }
        }
      }
    }.toDF(idCol, "f0", "f1", "f2", "f3")
  }

  /** Deterministic REAL image payloads from a text column: per doc, w·h
    * gray pixels drawn from md5(text#block) digests (16 bytes per block —
    * any engine with md5 can derive the same pixel grid), serialized
    * through [[Pgm.encode]] into actual P5 bytes. This is the corpus
    * generator for the m-family's real-codec rows: the payloads are
    * genuine images a netpbm tool would open, and the downstream decode /
    * resize rows are checked against an oracle that re-derives the pixels
    * relationally — so [[Pgm.decode]] parsing THESE bytes back to the same
    * grid proves the encode→decode roundtrip on every row of the corpus.
    * Per-partition MessageDigest init, same batch shape as
    * [[decodeBatched]]. */
  def encodePgmFromText(df: DataFrame, idCol: String, textCol: String,
                        w: Int = 16, h: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")).cast("string")).as[(Long, String)]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, t) =>
        (id, Pgm.encode(Pgm.Image(w, h, 255, md5Grid(md, t, w * h))))
      }
    }.toDF(idCol, "payload")
  }

  /** [[encodePgmFromText]] with PER-ROW dimensions supplied as columns —
    * the variable-size corpus shape (real image collections never share
    * one geometry). Pixel fill is the same engine-neutral md5 grid
    * (digest bytes of `text#block`), just cut at w×h, so an external
    * engine re-derives any row's raster from (text, w, h) alone. Dims
    * are caller-provided columns precisely so they can be
    * content-addressed with the SAME hash family the oracle replays
    * (Dedup.md5Hash) instead of a second JVM-side hash path. */
  def encodePgmSized(df: DataFrame, idCol: String, textCol: String,
                     wCol: Column, hCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")).cast("string"),
      wCol.cast("int"), hCol.cast("int")).as[(Long, String, Int, Int)]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, t, w, h) =>
        require(w >= 1 && h >= 1, s"encodePgmSized: bad dims ${w}x$h")
        (id, Pgm.encode(Pgm.Image(w, h, 255, md5Grid(md, t, w * h))))
      }
    }.toDF(idCol, "payload")
  }

  /** REAL per-partition batched decode: [[Pgm.decode]] parses each
    * payload's actual bytes (header tokens, comment skipping, raster) and
    * the row's features are computed from the DECODED pixel grid —
    * dimensions and maxval from the header, integer-exact pixel stats,
    * and the full grid as a csv string ready for a cross-engine md5
    * digest. Malformed payloads throw (loud, per the codec contract).
    * Same partition/batch shape as [[decodeBatched]]; a JPEG/PNG
    * deployment swaps the codec behind the same signature. */
  def decodePgmBatched(df: DataFrame, idCol: String,
                       payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val img = Pgm.decode(bytes)
        pixelStats(id, img)
      }
    }.toDF(idCol, "width", "height", "maxval", "px_sum", "px_min", "px_max",
      "px_csv")
  }

  /** REAL resize stage: decode → [[Pgm.resizeNearest]] on the pixel grid →
    * RE-ENCODE → decode again — the second decode proves the re-encoded
    * bytes are a valid image (the full codec roundtrip rides every row) —
    * then the same stats/csv surface as [[decodePgmBatched]]. */
  def resizePgmBatched(df: DataFrame, idCol: String, payloadCol: String,
                       tw: Int, th: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val rs = Pgm.decode(Pgm.encode(
          Pgm.resizeNearest(Pgm.decode(bytes), tw, th)))
        pixelStats(id, rs)
      }
    }.toDF(idCol, "width", "height", "maxval", "px_sum", "px_min", "px_max",
      "px_csv")
  }

  /** The cross-modal IMAGE TOWER fused into ONE per-partition pass that
    * CARRIES the source key (the [[videoGateRows]] move, image-tower
    * edition): encode the row's actual PGM bytes at its (w, h) spec,
    * decode them, nearest-neighbor resize to tw×th, re-encode and decode
    * AGAIN (the full codec roundtrip rides every row — identical
    * arithmetic to [[encodePgmSized]] → [[resizePgmBatched]]), then emit
    * the resized grid as csv. Carrying source makes the tower a pure
    * stateless per-row map, so the SAME call runs on a document STREAM
    * (the s24 ingest gate) and the batch tower needs no back-join to
    * recover source. Output: (id, src, px_csv). */
  def imageTowerRows(df: DataFrame, idCol: String, srcCol: String,
                     textCol: String, wCol: Column, hCol: Column,
                     tw: Int, th: Int): DataFrame =
    imageTowerRows(df, idCol, srcCol, textCol, wCol, hCol, lit(255), tw, th)

  /** [[imageTowerRows]] with a PER-ROW maxval column: the generator
    * clamps every md5-grid pixel at the row's maxval before encoding
    * (pixel values above maxval are illegal P5, so a real encoder
    * clamps) and the PGM header carries that maxval through the full
    * decode → resize → re-encode roundtrip. mv = 255 is the identity
    * (md5 bytes are already ≤ 255) — every pre-existing consumer sits
    * on that overload. A LOWER maxval is the near-duplicate generator
    * the cross-modal evals use: same text seed + same geometry with
    * only the clamped (bright) pixels moved slightly, so the tower
    * vector lands at cosine 1−ε of the original's — a genuinely
    * different image file whose difference is at score-resolution
    * level. Oracle twin: least(pixel, mv). */
  def imageTowerRows(df: DataFrame, idCol: String, srcCol: String,
                     textCol: String, wCol: Column, hCol: Column,
                     mvCol: Column, tw: Int, th: Int): DataFrame = {
    require(tw >= 1 && th >= 1, s"imageTowerRows: bad target $tw x $th")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(srcCol).cast("string"),
      coalesce(col(textCol), lit("")).cast("string"),
      wCol.cast("int"), hCol.cast("int"), mvCol.cast("int"))
      .as[(Long, String, String, Int, Int, Int)]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, src, t, w, h, mv) =>
        require(w >= 1 && h >= 1, s"imageTowerRows: bad dims ${w}x$h")
        require(mv >= 1 && mv <= 255, s"imageTowerRows: bad maxval $mv")
        val px = md5Grid(md, t, w * h)
        var j = 0
        while (j < px.length) {
          if ((px(j) & 0xff) > mv) px(j) = mv.toByte
          j += 1
        }
        val enc = Pgm.encode(Pgm.Image(w, h, mv, px))
        val rs = Pgm.decode(Pgm.encode(
          Pgm.resizeNearest(Pgm.decode(enc), tw, th)))
        val sb = new java.lang.StringBuilder(rs.pixels.length * 4)
        var i = 0
        while (i < rs.pixels.length) {
          if (i > 0) sb.append(',')
          sb.append(rs.pixels(i) & 0xff)
          i += 1
        }
        (id, src, sb.toString)
      }
    }.toDF(idCol, srcCol, "px_csv")
  }

  /** REAL half-resolution thumbnail per row: decode → nearest-neighbor
    * resize to (w/2, h/2) → re-encode. The classic perceptual near-dup
    * (same content, different resolution) built through the actual
    * codec; requires even source dims (the integer-ratio case where
    * nearest-neighbor pyramids compose exactly — see [[aHash64Batched]]'s
    * collapse contract). */
  def halfPayload(df: DataFrame, idCol: String, payloadCol: String)
  : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val img = Pgm.decode(bytes)
        require(img.width % 2 == 0 && img.height % 2 == 0,
          s"halfPayload: odd dims ${img.width}x${img.height}")
        (id, Pgm.encode(
          Pgm.resizeNearest(img, img.width / 2, img.height / 2)))
      }
    }.toDF(idCol, "payload")
  }

  /** 64-bit average hash (aHash — the classic perceptual image
    * fingerprint): decode → nearest-neighbor resample to 8×8 → bit k set
    * iff pixel_k · 64 > Σ pixels (strict integer mean compare, no
    * float). Published as two unsigned 32-bit halves (ahash_lo bits
    * 0–31, ahash_hi bits 32–63) so a SQL twin never shifts into the
    * BIGINT sign bit. Because [[Pgm.resizeNearest]] maps by
    * floor(i·src/dst), resamples COMPOSE EXACTLY for integer ratios —
    * an image and its [[halfPayload]] thumbnail sample the identical
    * source pixels and collapse to the SAME hash, which is precisely
    * the near-dup the fingerprint exists to catch. Per-partition
    * batched like every codec stage; emits (id, tag, width, height,
    * ahash_lo, ahash_hi) with the VARIANT's decoded dims. */
  def aHash64Batched(df: DataFrame, idCol: String, tagCol: String,
                     payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(tagCol).cast("string"),
      col(payloadCol).cast("binary")).as[(Long, String, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, tag, bytes) =>
        val img = Pgm.decode(bytes)
        val small = Pgm.resizeNearest(img, 8, 8)
        var sum = 0L
        var k = 0
        while (k < 64) { sum += (small.pixels(k) & 0xff).toLong; k += 1 }
        var lo = 0L
        var hi = 0L
        k = 0
        while (k < 64) {
          if ((small.pixels(k) & 0xff).toLong * 64L > sum) {
            if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
          }
          k += 1
        }
        (id, tag, img.width.toLong, img.height.toLong, lo, hi)
      }
    }.toDF(idCol, tagCol, "width", "height", "ahash_lo", "ahash_hi")
  }

  private def pixelStats(id: Long, img: Pgm.Image)
  : (Long, Long, Long, Long, Long, Long, Long, String) = {
    var sum = 0L; var min = 255L; var max = 0L
    val sb = new java.lang.StringBuilder(img.pixels.length * 4)
    var i = 0
    while (i < img.pixels.length) {
      val v = img.pixels(i) & 0xff
      sum += v
      if (v < min) min = v
      if (v > max) max = v
      if (i > 0) sb.append(',')
      sb.append(v)
      i += 1
    }
    (id, img.width.toLong, img.height.toLong, img.maxVal.toLong,
      sum, min, max, sb.toString)
  }

  /** Decode + the exact integer moments an image-quality gate needs:
    * (id, width, height, px_sum, px_sq) with Σp and Σp² as exact Longs
    * (255²·Int.MaxValue pixels still fits), so mean/contrast/flatness
    * downstream are single IEEE expressions over exact integers — the
    * d85 determinism contract, image edition. Per-row projection, no
    * shuffle; the m07 gate builds on it. */
  def qualityStatsBatched(df: DataFrame, idCol: String,
                          payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val img = Pgm.decode(bytes)
        val (s, sq) = byteMoments(img.pixels)
        (id, img.width.toLong, img.height.toLong, s, sq)
      }
    }.toDF(idCol, "width", "height", "px_sum", "px_sq")
  }

  /** Deterministic REAL audio payloads from a text column — the audio
    * twin of [[encodePgmSized]]: per doc, `nCol` 8-bit PCM samples drawn
    * from the SAME engine-neutral md5(text#block) grid (16 digest bytes
    * per block, cut at n), serialized through [[Wav.encode]] into actual
    * RIFF/WAVE bytes any audio tool would open. Variable per-row length
    * (real clip collections never share one duration) with the length
    * content-addressed by the caller, so an external engine re-derives
    * any row's samples from (text, n) alone. Per-partition MessageDigest
    * init, same batch shape as [[decodeBatched]]. */
  def encodeWavFromText(df: DataFrame, idCol: String, textCol: String,
                        nCol: Column, sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")).cast("string"),
      nCol.cast("int")).as[(Long, String, Int)]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, t, n) =>
        require(n >= 1, s"encodeWavFromText: bad sample count $n")
        (id, Wav.encode(Wav.Clip(sampleRate, md5Grid(md, t, n))))
      }
    }.toDF(idCol, "payload")
  }

  /** Decode + the exact integer moments an AUDIO quality gate needs —
    * [[qualityStatsBatched]]'s audio twin: [[Wav.decode]] parses each
    * payload's actual RIFF bytes (magic, fmt chunk, data chunk) and
    * emits (id, sample_rate, n_samples, amp_sum, amp_sq) with Σs and Σs²
    * as exact Longs, so loudness/flatness downstream are single IEEE
    * expressions over exact integers. Per-row projection, no shuffle;
    * the m08 gate builds on it. */
  def audioStatsBatched(df: DataFrame, idCol: String,
                        payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val clip = Wav.decode(bytes)
        val (s, sq) = byteMoments(clip.samples)
        (id, clip.sampleRate.toLong, clip.samples.length.toLong, s, sq)
      }
    }.toDF(idCol, "sample_rate", "n_samples", "amp_sum", "amp_sq")
  }

  /** [[encodeWavFromText]] + [[audioStatsBatched]] fused into ONE
    * per-partition pass that CARRIES the source key: encode the clip's
    * actual RIFF bytes, decode them back (the full container roundtrip
    * rides every row — a codec regression on either side breaks the
    * moments), then the exact integer moments. Fusing matters twice:
    * the m08 gate needs no join to recover `source` (a pure projection
    * plan instead of a shuffle), and a per-row map with no join is
    * exactly what can run UNCHANGED on a STREAM of documents — the s18
    * gate is this function + a keyed aggregate in complete mode.
    * Output: (id, source, sample_rate, n_samples, amp_sum, amp_sq). */
  def audioGateRows(df: DataFrame, idCol: String, srcCol: String,
                    textCol: String, nCol: Column,
                    sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(srcCol).cast("string"),
      coalesce(col(textCol), lit("")).cast("string"),
      nCol.cast("int")).as[(Long, String, String, Int)]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, src, t, n) =>
        require(n >= 1, s"audioGateRows: bad sample count $n")
        val clip = Wav.decode(Wav.encode(
          Wav.Clip(sampleRate, md5Grid(md, t, n))))
        val (s, sq) = byteMoments(clip.samples)
        (id, src, clip.sampleRate.toLong, clip.samples.length.toLong, s, sq)
      }
    }.toDF(idCol, srcCol, "sample_rate", "n_samples", "amp_sum", "amp_sq")
  }

  /** REAL sample-rate conversion — [[resizePgmBatched]]'s audio twin:
    * decode → integer-factor boxcar decimation (out(j) = floor-mean of
    * the factor-block — the anti-alias averaging filter in its
    * exact-integer form; the trailing partial block is dropped, so
    * n_out = n_in div factor) → RE-ENCODE at sampleRate/factor → decode
    * AGAIN (the full codec roundtrip rides every row, the m03
    * discipline) → exact integer stats plus the sample CSV for
    * digesting. Rate normalization is the first stage of any audio
    * featurizer (a 16 kHz corpus feeding an 8 kHz model); per-row
    * codec work, no shuffle. Output: (id, sample_rate, n_in, n_out,
    * amp_sum, amp_min, amp_max, samp_csv). */
  def resampleWavBatched(df: DataFrame, idCol: String, payloadCol: String,
                         factor: Int): DataFrame = {
    require(factor >= 1, s"resampleWavBatched: bad factor $factor")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val in = Wav.decode(bytes)
        require(in.sampleRate % factor == 0,
          s"resampleWavBatched: rate ${in.sampleRate} not divisible " +
            s"by $factor (clip $id)")
        val nOut = in.samples.length / factor
        require(nOut >= 1,
          s"resampleWavBatched: clip $id shorter than factor $factor")
        val out = new Array[Byte](nOut)
        var j = 0
        while (j < nOut) {
          // Long accumulator: a block sum wraps Int past factor ~2^23
          var s = 0L
          var i = j * factor
          val end = i + factor
          while (i < end) { s += in.samples(i) & 0xff; i += 1 }
          out(j) = (s / factor).toByte
          j += 1
        }
        val rs = Wav.decode(Wav.encode(
          Wav.Clip(in.sampleRate / factor, out)))
        val (su, _) = byteMoments(rs.samples)
        var mn = 255L
        var mx = 0L
        rs.samples.foreach { b =>
          val v = (b & 0xff).toLong
          if (v < mn) mn = v
          if (v > mx) mx = v
        }
        (id, rs.sampleRate.toLong, in.samples.length.toLong,
          rs.samples.length.toLong, su, mn, mx,
          rs.samples.map(b => (b & 0xff).toString).mkString(","))
      }
    }.toDF(idCol, "sample_rate", "n_in", "n_out", "amp_sum", "amp_min",
      "amp_max", "samp_csv")
  }

  /** REAL silence-padding stage: decode → append `pCol` trailing
    * silence samples (128 = 8-bit PCM silence) → RE-ENCODE — the audio
    * analogue of [[halfPayload]]'s variant construction (the full codec
    * roundtrip rides every row). Trailing silence is the canonical
    * same-recording near-dup class (a recorder that stops late), which
    * is exactly what [[audioFingerprintBatched]]'s trim-invariant
    * fingerprint must collapse. */
  def padSilence(df: DataFrame, idCol: String, payloadCol: String,
                 pCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary"), pCol.cast("int"))
      .as[(Long, Array[Byte], Int)]
    ds.mapPartitions { it =>
      it.map { case (id, bytes, p) =>
        require(p >= 0, s"padSilence: negative pad $p")
        val clip = Wav.decode(bytes)
        require(clip.samples.length.toLong + p <= Int.MaxValue - 45,
          s"padSilence: padded clip overflows RIFF (id=$id)")
        val out = new Array[Byte](clip.samples.length + p)
        System.arraycopy(clip.samples, 0, out, 0, clip.samples.length)
        java.util.Arrays.fill(out, clip.samples.length, out.length,
          128.toByte)
        (id, Wav.encode(Wav.Clip(clip.sampleRate, out)))
      }
    }.toDF(idCol, "payload")
  }

  /** Trim-invariant perceptual audio fingerprint: decode → strip
    * TRAILING silence (samples == 128) → cut the trimmed clip into 8
    * frames by `frame(i) = i·8 div L` (the integer mapping both engines
    * replay exactly; empty frames of a short clip contribute 0) → exact
    * integer frame energies Σ(v−128)² — the envelope signature that is
    * IDENTICAL for a clip and its silence-padded variant, which is the
    * collapse [[padSilence]]'s near-dup class needs (the m06 aHash
    * move, audio edition). Emits (id, tag, trim_len, energy_csv);
    * callers digest the csv (md5) into the bucket key. Per-partition
    * batched codec work, no shuffle. */
  def audioFingerprintBatched(df: DataFrame, idCol: String,
                              tagCol: String, payloadCol: String)
  : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(tagCol).cast("string"),
      col(payloadCol).cast("binary")).as[(Long, String, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, tag, bytes) =>
        val clip = Wav.decode(bytes)
        var l = clip.samples.length
        while (l > 0 && (clip.samples(l - 1) & 0xff) == 128) l -= 1
        val e = new Array[Long](8)
        var i = 0
        while (i < l) {
          val d = (clip.samples(i) & 0xff) - 128
          // Long arithmetic for the frame index: i*8 wraps Int at
          // 2^28 samples (~9.3h at 8 kHz) — the oracle's BIGINT map
          e((i.toLong * 8 / l).toInt) += (d * d).toLong
          i += 1
        }
        (id, tag, l.toLong, e.mkString(","))
      }
    }.toDF(idCol, tagCol, "trim_len", "energy_csv")
  }

  /** Deterministic REAL video payloads from a text column — the video
    * member of the encode family ([[encodePgmSized]], [[encodeWavFromText]]):
    * per doc, `fCol` frames of w×h mono luma serialized through
    * [[Y4m.encode]] into actual YUV4MPEG2 bytes. Frame content is
    * addressed by SEGMENT — frame f draws its pixels from the
    * engine-neutral md5(text#block) grid at block offset
    * `(f div segLen)·(w·h/16)` — so `segLen = 1` gives every frame
    * unique content (the frame-sampling corpus) and `segLen > 1` gives
    * runs of IDENTICAL frames with hard content changes at segment
    * boundaries (the scene-cut corpus: real videos are exactly
    * still-ish runs separated by cuts). An external engine re-derives
    * any frame's plane from (text, f) alone. */
  def encodeY4mFromText(df: DataFrame, idCol: String, textCol: String,
                        fCol: Column, segLen: Int, w: Int = 16,
                        h: Int = 8): DataFrame = {
    require(segLen >= 1, s"encodeY4mFromText: bad segLen $segLen")
    require((w * h) % 16 == 0, "plane size must be a whole md5-block count")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")).cast("string"),
      fCol.cast("int")).as[(Long, String, Int)]
    val blocksPerFrame = (w * h) / 16
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, t, nf) =>
        require(nf >= 1, s"encodeY4mFromText: bad frame count $nf")
        val frames = Array.tabulate(nf) { f =>
          val px = new Array[Byte](w * h)
          val key = f / segLen
          var b = 0
          while (b < blocksPerFrame) {
            md.reset()
            // Long block address: key·blocks wraps Int past ~2^28
            // frames; the rendered string (and so the pixels) is
            // unchanged for every in-range value
            val dig = md.digest((t + "#" + (key.toLong * blocksPerFrame + b))
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            System.arraycopy(dig, 0, px, b * 16, 16)
            b += 1
          }
          px
        }
        (id, Y4m.encode(Y4m.Video(w, h, 25, 1, frames)))
      }
    }.toDF(idCol, "payload")
  }

  /** REAL frame sampling — the "grab k key frames" stage of a video
    * ingest: [[Y4m.decode]] parses the actual container bytes, k frames
    * are sampled at the evenly-spaced indices `j·(F−1) div (k−1)` (first
    * and last always included — the standard thumbnail-strip rule), and
    * each sampled frame emits exact integer stats plus its full plane
    * as a csv ready for a cross-engine digest. One input row fans out
    * to k output rows inside the partition — no shuffle. */
  def videoFrameSampleBatched(df: DataFrame, idCol: String,
                              payloadCol: String, k: Int): DataFrame = {
    require(k >= 2, s"videoFrameSampleBatched: k=$k needs first+last")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val v = Y4m.decode(bytes)
        val nf = v.frames.length
        // a header-only stream is container-valid but unsampleable —
        // loud error, not an index crash (the codec contract)
        require(nf >= 1, s"videoFrameSampleBatched: zero frames (id=$id)")
        val durMs = nf.toLong * 1000L * v.fpsDen / v.fpsNum
        (0 until k).map { j =>
          // Long product: j·(nf−1) wraps Int for ~2^28-frame streams
          val idx = (j.toLong * (nf - 1) / (k - 1)).toInt
          val fr = v.frames(idx)
          var sum = 0L; var min = 255L; var max = 0L
          val sb = new java.lang.StringBuilder(fr.length * 4)
          var i = 0
          while (i < fr.length) {
            val p = (fr(i) & 0xff).toLong
            sum += p
            if (p < min) min = p
            if (p > max) max = p
            if (i > 0) sb.append(',')
            sb.append(p)
            i += 1
          }
          (id, nf.toLong, durMs, j.toLong, idx.toLong, sum, min, max,
            sb.toString)
        }
      }
    }.toDF(idCol, "n_frames", "duration_ms", "j", "frame_idx",
      "px_sum", "px_min", "px_max", "px_csv")
  }

  /** REAL thumbnail-strip generation — [[resizePgmBatched]]'s video
    * member, completing resize across the modality matrix (m03 image
    * resize, m13 audio resample, this for video): decode the actual
    * YUV4MPEG2 bytes, sample the k standard strip frames
    * (j·(F−1) div (k−1), first/last included — the
    * [[videoFrameSampleBatched]] rule), nearest-neighbor resize each to
    * tw×th (dst(x,y) = src(⌊x·W/tw⌋, ⌊y·H/th⌋) — the m03 arithmetic),
    * RE-ENCODE the strip as a real tw×th Y4M and decode it back (the
    * full codec roundtrip rides every row), then exact per-thumbnail
    * integer stats plus the plane csv for a cross-engine digest. One
    * input row fans out to k thumbnail rows; per-row codec work, no
    * shuffle. */
  def videoThumbnailsBatched(df: DataFrame, idCol: String,
                             payloadCol: String, k: Int, tw: Int,
                             th: Int): DataFrame = {
    require(k >= 2, s"videoThumbnailsBatched: k=$k needs first+last")
    require(tw >= 1 && th >= 1, s"videoThumbnailsBatched: bad $tw x $th")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val v = Y4m.decode(bytes)
        val nf = v.frames.length
        require(nf >= 1, s"videoThumbnailsBatched: zero frames (id=$id)")
        require(tw <= v.width && th <= v.height,
          s"videoThumbnailsBatched: upscale $tw x $th from " +
            s"${v.width} x ${v.height} (id=$id)")
        val idxs = (0 until k).map(j => (j.toLong * (nf - 1) / (k - 1)).toInt)
        val thumbs = idxs.map { fi =>
          val src = v.frames(fi)
          val out = new Array[Byte](tw * th)
          var y = 0
          while (y < th) {
            // Long index arithmetic (the Pgm.resizeNearest rule): y·H
            // wraps Int for tall-and-narrow planes; the final offset is
            // always a valid Int (< W·H <= Int.MaxValue)
            val sy = (y.toLong * v.height / th) * v.width
            var x = 0
            while (x < tw) {
              out(y * tw + x) =
                src((sy + x.toLong * v.width / tw).toInt)
              x += 1
            }
            y += 1
          }
          out
        }
        val strip = Y4m.decode(Y4m.encode(
          Y4m.Video(tw, th, v.fpsNum, v.fpsDen, thumbs.toArray)))
        idxs.zipWithIndex.map { case (fi, j) =>
          val fr = strip.frames(j)
          var sum = 0L; var min = 255L; var max = 0L
          val sb = new java.lang.StringBuilder(fr.length * 4)
          var i = 0
          while (i < fr.length) {
            val p = (fr(i) & 0xff).toLong
            sum += p
            if (p < min) min = p
            if (p > max) max = p
            if (i > 0) sb.append(',')
            sb.append(p)
            i += 1
          }
          (id, nf.toLong, j.toLong, fi.toLong, sum, min, max, sb.toString)
        }
      }
    }.toDF(idCol, "n_frames", "j", "frame_idx", "px_sum", "px_min",
      "px_max", "px_csv")
  }

  /** [[videoThumbnailsBatched]] aggregated to ONE row per clip INSIDE
    * the partition — the m17 packing substrate: the same full decode →
    * sample k strip frames (j·(F−1) div (k−1)) → nearest-neighbor
    * resize to tw×th → re-encode-as-Y4M roundtrip, but the published
    * row is the per-clip summary (n_frames from the REAL decoded
    * header, Σ strip pixels, the strip csv for a digest) rather than k
    * thumbnail rows. A downstream token-budget pack therefore never
    * sees — let alone shuffles — per-frame rows; its only exchange is
    * the pack-assignment window. Output: (id, n_frames, px_sum,
    * px_csv). */
  def videoStripSummaryBatched(df: DataFrame, idCol: String,
                               payloadCol: String, k: Int, tw: Int,
                               th: Int): DataFrame = {
    require(k >= 2, s"videoStripSummaryBatched: k=$k needs first+last")
    require(tw >= 1 && th >= 1, s"videoStripSummaryBatched: bad $tw x $th")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val v = Y4m.decode(bytes)
        val nf = v.frames.length
        require(nf >= 1, s"videoStripSummaryBatched: zero frames (id=$id)")
        require(tw <= v.width && th <= v.height,
          s"videoStripSummaryBatched: upscale $tw x $th from " +
            s"${v.width} x ${v.height} (id=$id)")
        val idxs = (0 until k).map(j => (j.toLong * (nf - 1) / (k - 1)).toInt)
        val thumbs = idxs.map { fi =>
          val src = v.frames(fi)
          val out = new Array[Byte](tw * th)
          var y = 0
          while (y < th) {
            val sy = (y.toLong * v.height / th) * v.width
            var x = 0
            while (x < tw) {
              out(y * tw + x) =
                src((sy + x.toLong * v.width / tw).toInt)
              x += 1
            }
            y += 1
          }
          out
        }
        val strip = Y4m.decode(Y4m.encode(
          Y4m.Video(tw, th, v.fpsNum, v.fpsDen, thumbs.toArray)))
        var sum = 0L
        val sb = new java.lang.StringBuilder(k * tw * th * 4)
        var j = 0
        while (j < k) {
          val fr = strip.frames(j)
          var i = 0
          while (i < fr.length) {
            val p = (fr(i) & 0xff).toLong
            sum += p
            if (j > 0 || i > 0) sb.append(',')
            sb.append(p)
            i += 1
          }
          j += 1
        }
        (id, nf.toLong, sum, sb.toString)
      }
    }.toDF(idCol, "n_frames", "px_sum", "px_csv")
  }

  /** REAL frame-rate shift: decode → show every frame `r` times at
    * r× the declared rate → RE-ENCODE (full codec roundtrip rides the
    * row). Wall-clock content is IDENTICAL — the canonical same-video
    * near-dup class (a transcoder that resamples 25→50 fps), the video
    * analogue of [[padSilence]]'s trailing-silence variant and
    * [[halfPayload]]'s thumbnail. Exactly what
    * [[videoFingerprintBatched]]'s rate-invariant fingerprint must
    * collapse. */
  def duplicateFramesBatched(df: DataFrame, idCol: String,
                             payloadCol: String, r: Int): DataFrame = {
    require(r >= 1, s"duplicateFramesBatched: bad factor $r")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val v = Y4m.decode(bytes)
        require(v.fpsNum <= Int.MaxValue / r,
          s"duplicateFramesBatched: fps ${v.fpsNum}x$r overflows (id=$id)")
        val frames = v.frames.flatMap(f => Array.fill(r)(f))
        (id, Y4m.encode(Y4m.Video(v.width, v.height, v.fpsNum * r,
          v.fpsDen, frames)))
      }
    }.toDF(idCol, "payload")
  }

  /** Frame-rate-invariant perceptual video fingerprint — the m06 aHash
    * move, video edition, composing m14's thumbnail strip with m06's
    * average hash: decode → sample k frames at `j·F div k` → nearest-
    * neighbor resize each to tw×th (m03 arithmetic) → RE-ENCODE the
    * strip as a real Y4M and decode it back (codec roundtrip) → ONE
    * 64-bit aHash over the concatenated k·tw·th strip pixels (bit set
    * iff pixel · (k·tw·th) > Σ strip pixels — strict integer compare).
    *
    * The sampling rule is `j·F div k` — NOT m14's thumbnail rule
    * `j·(F−1) div (k−1)` — deliberately: floor(floor(j·rF/k)/r) =
    * floor(j·F/k), so a clip and its r×-frame-duplicated re-encode
    * ([[duplicateFramesBatched]]) sample pixel-identical frames at ANY
    * integer rate factor and collapse to the SAME hash. The strip rule
    * trades last-frame inclusion for that exact invariance (a
    * fingerprint must be stable under transcode; a thumbnail strip must
    * show the ending). Requires k·tw·th == 64 so the hash fills exactly
    * one 64-bit word, published as two unsigned halves like
    * [[aHash64Batched]]. Per-row codec work, no shuffle; callers bucket
    * on (ahash_hi, ahash_lo) — the d01 exact-dedup plan, video edition.
    * Output: (id, tag, n_frames, ahash_lo, ahash_hi). */
  def videoFingerprintBatched(df: DataFrame, idCol: String, tagCol: String,
                              payloadCol: String, k: Int, tw: Int,
                              th: Int): DataFrame = {
    require(k >= 1 && tw >= 1 && th >= 1 && k * tw * th == 64,
      s"videoFingerprintBatched: k*tw*th must be 64, got $k*$tw*$th")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(tagCol).cast("string"),
      col(payloadCol).cast("binary")).as[(Long, String, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, tag, bytes) =>
        val v = Y4m.decode(bytes)
        val nf = v.frames.length
        require(nf >= 1, s"videoFingerprintBatched: zero frames (id=$id)")
        require(tw <= v.width && th <= v.height,
          s"videoFingerprintBatched: upscale $tw x $th from " +
            s"${v.width} x ${v.height} (id=$id)")
        val thumbs = Array.tabulate(k) { j =>
          // Long index: j·nf is small, but the rule must match the
          // oracle's BIGINT division exactly for any frame count
          val src = v.frames((j.toLong * nf / k).toInt)
          val out = new Array[Byte](tw * th)
          var y = 0
          while (y < th) {
            val sy = (y.toLong * v.height / th) * v.width
            var x = 0
            while (x < tw) {
              out(y * tw + x) =
                src((sy + x.toLong * v.width / tw).toInt)
              x += 1
            }
            y += 1
          }
          out
        }
        val strip = Y4m.decode(Y4m.encode(
          Y4m.Video(tw, th, v.fpsNum, v.fpsDen, thumbs)))
        var sum = 0L
        var i = 0
        while (i < 64) {
          sum += (strip.frames(i / (tw * th))(i % (tw * th)) & 0xff).toLong
          i += 1
        }
        var lo = 0L
        var hi = 0L
        i = 0
        while (i < 64) {
          val p = (strip.frames(i / (tw * th))(i % (tw * th)) & 0xff).toLong
          if (p * 64L > sum) {
            if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
          }
          i += 1
        }
        (id, tag, nf.toLong, lo, hi)
      }
    }.toDF(idCol, tagCol, "n_frames", "ahash_lo", "ahash_hi")
  }

  /** [[encodeY4mFromText]] + decode + gate moments fused into ONE
    * per-partition pass that CARRIES the source and variant keys — the
    * [[audioGateRows]] move, video edition: encode the clip's actual
    * YUV4MPEG2 bytes (segment length per ROW, so one corpus can mix
    * fully-static and per-frame-unique clips), decode them back (the
    * full container roundtrip rides every row), then the exact integer
    * moments a video-quality gate needs — Σv and Σv² over ALL frames'
    * luma, plus the exact inter-frame MOTION term Σ SAD over
    * consecutive frame pairs (a static clip's SAD is exactly 0: the
    * frozen-feed reject every real video gate carries). Fusing keeps
    * the gate projection-only (no join to recover source) and lets the
    * SAME call run on a document STREAM — the s23 gate is this function
    * + a keyed aggregate in complete mode. Output: (id, src, tag,
    * n_frames, duration_ms, px_sum, px_sq, sad_sum). */
  def videoGateRows(df: DataFrame, idCol: String, srcCol: String,
                    tagCol: String, textCol: String, fCol: Column,
                    segCol: Column, w: Int = 16, h: Int = 8): DataFrame = {
    require((w * h) % 16 == 0, "plane size must be a whole md5-block count")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(srcCol).cast("string"),
      col(tagCol).cast("string"),
      coalesce(col(textCol), lit("")).cast("string"),
      fCol.cast("int"), segCol.cast("int"))
      .as[(Long, String, String, String, Int, Int)]
    val blocksPerFrame = (w * h) / 16
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, src, tag, t, nf, seg) =>
        // nf >= 2, not 1: the gate's motion term divides by (nf - 1)
        // pixel-pairs, so a 1-frame clip would score 0/0 = NaN and
        // silently fail the keep instead of failing loudly here
        // (ADVICE r15)
        require(nf >= 2 && seg >= 1,
          s"videoGateRows: bad frames/segLen $nf/$seg — motion needs " +
            s"a frame pair (id=$id)")
        val frames = Array.tabulate(nf) { f =>
          val px = new Array[Byte](w * h)
          val key = f / seg
          var b = 0
          while (b < blocksPerFrame) {
            md.reset()
            val dig = md.digest((t + "#" + (key.toLong * blocksPerFrame + b))
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            System.arraycopy(dig, 0, px, b * 16, 16)
            b += 1
          }
          px
        }
        val v = Y4m.decode(Y4m.encode(Y4m.Video(w, h, 25, 1, frames)))
        var s = 0L; var sq = 0L; var sad = 0L
        var f = 0
        while (f < v.frames.length) {
          val fr = v.frames(f)
          val prev = if (f > 0) v.frames(f - 1) else null
          var i = 0
          while (i < fr.length) {
            val p = (fr(i) & 0xff).toLong
            s += p; sq += p * p
            if (prev != null)
              sad += math.abs((fr(i) & 0xff) - (prev(i) & 0xff)).toLong
            i += 1
          }
          f += 1
        }
        val durMs = v.frames.length.toLong * 1000L * v.fpsDen / v.fpsNum
        (id, src, tag, v.frames.length.toLong, durMs, s, sq, sad)
      }
    }.toDF(idCol, srcCol, tagCol, "n_frames", "duration_ms",
      "px_sum", "px_sq", "sad_sum")
  }

  /** REAL scene-cut detection — the shot-segmentation stage of a video
    * pipeline: decode, then per consecutive frame pair the exact integer
    * SAD (sum of absolute luma differences, the classic cut metric).
    * Identical frames give SAD 0; a content change at a segment boundary
    * gives a large SAD — the caller thresholds into cut flags. One input
    * row fans out to F−1 pair rows inside the partition — no shuffle. */
  def sceneCutsBatched(df: DataFrame, idCol: String,
                       payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val v = Y4m.decode(bytes)
        (1 until v.frames.length).map { f =>
          val a = v.frames(f - 1); val b = v.frames(f)
          var sad = 0L; var i = 0
          while (i < a.length) {
            sad += math.abs((a(i) & 0xff) - (b(i) & 0xff)).toLong
            i += 1
          }
          (id, f.toLong, sad)
        }
      }
    }.toDF(idCol, "f", "sad")
  }

  /** [[encodeWavFromText]] with SPEECH/SILENCE structure — the VAD
    * corpus generator: `lensCol` (array of per-segment sample counts)
    * speech bursts drawn from the engine-neutral md5(text#block) grid
    * (block index runs over ACTIVE samples only, so an external engine
    * re-derives sample i from (text, segment layout) alone), separated
    * by `gap` exact-silence samples (128). Real clips are exactly this:
    * utterances separated by pauses. */
  def encodeWavSegmented(df: DataFrame, idCol: String, textCol: String,
                         lensCol: Column, gap: Int,
                         sampleRate: Int = 8000): DataFrame = {
    require(gap >= 1, s"encodeWavSegmented: bad gap $gap")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")).cast("string"),
      lensCol.cast("array<int>")).as[(Long, String, Seq[Int])]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, t, lens) =>
        require(lens.nonEmpty && lens.forall(_ >= 1),
          s"encodeWavSegmented: bad segment lengths $lens")
        // Long total: segment sums wrap Int before the RIFF bound bites
        val totalL = lens.map(_.toLong).sum + gap.toLong * (lens.size - 1)
        require(totalL <= Int.MaxValue - 45,
          s"encodeWavSegmented: $totalL samples overflow RIFF")
        val total = totalL.toInt
        val smp = new Array[Byte](total)
        java.util.Arrays.fill(smp, 128.toByte)
        var pos = 0
        var a = 0 // active-sample index, continuous across segments
        var blk = -1
        var dig: Array[Byte] = null
        lens.zipWithIndex.foreach { case (l, k) =>
          if (k > 0) pos += gap
          var j = 0
          while (j < l) {
            if (a / 16 != blk) {
              blk = a / 16
              md.reset()
              dig = md.digest((t + "#" + blk)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            smp(pos) = dig(a % 16)
            pos += 1; a += 1; j += 1
          }
        }
        (id, Wav.encode(Wav.Clip(sampleRate, smp)))
      }
    }.toDF(idCol, "payload")
  }

  /** REAL voice-activity segmentation — the VAD stage of an audio
    * ingest: decode, mark each sample silent iff |v−128| ≤ `tol`, and
    * split the clip at silence RUNS of at least `minSilence` samples
    * (short dips inside speech do not split — the standard hangover
    * rule). Emits one row per detected ACTIVE segment: (id, seg,
    * start, len, energy) with energy the exact integer Σ(v−128)² over
    * the segment. Detection is genuine — a speech-adjacent sample that
    * happens to fall inside the tolerance band joins the silence run
    * and shifts the boundary, which is exactly what the oracle replays
    * sample-by-sample. One mapPartitions pass, per-segment fan-out
    * in-partition; no shuffle. */
  def vadSegmentsBatched(df: DataFrame, idCol: String, payloadCol: String,
                         tol: Int, minSilence: Int): DataFrame = {
    require(tol >= 0 && minSilence >= 1, s"bad VAD params $tol/$minSilence")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      col(payloadCol).cast("binary")).as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val s = Wav.decode(bytes).samples
        def silent(i: Int): Boolean = math.abs((s(i) & 0xff) - 128) <= tol
        val segs = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long)]
        var i = 0
        var segStart = -1
        var lastActive = -1
        def close(): Unit = if (segStart >= 0) {
          var e = 0L
          var j = segStart
          while (j <= lastActive) {
            val d = (s(j) & 0xff) - 128
            e += (d * d).toLong
            j += 1
          }
          segs += ((id, segs.size.toLong, segStart.toLong,
            (lastActive - segStart + 1).toLong, e))
        }
        while (i < s.length) {
          if (silent(i)) {
            // measure the run; split only when it reaches minSilence
            var r = i
            while (r < s.length && silent(r)) r += 1
            if (r - i >= minSilence) { close(); segStart = -1 }
            i = r
          } else {
            if (segStart < 0) segStart = i
            lastActive = i
            i += 1
          }
        }
        close()
        segs
      }
    }.toDF(idCol, "seg", "seg_start", "seg_len", "energy")
  }

  /** The TEXT tower of the cross-modal pair scorer (c05) — the
    * deterministic stand-in for a learned text encoder: maps a document's
    * text into the SAME 16-dim shared space the image tower lands in, by
    * re-deriving the 4×4-thumbnail sample coordinates of the image the
    * generation spec associates with this text (md5(text#block) bytes at
    * positions ((y·h) div 4)·w + (x·w) div 4) — DIRECTLY, with no codec.
    * Deliberately a separate code path from the image tower
    * (encodePgmSized → Pgm.decode → resizeNearest → re-encode): an
    * aligned (image, text) pair scores cosine 1 ONLY while both paths
    * agree, so a codec regression desynchronizes the towers and fails
    * the pair gate instead of hiding. Stateless per-row map (runs
    * unchanged on a document STREAM — the s22 serving shape). Output:
    * (id, tvec: array<long> of 16 unsigned bytes). */
  def textTowerBatched(df: DataFrame, idCol: String, textCol: String,
                       wCol: Column, hCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"),
      coalesce(col(textCol), lit("")).cast("string"),
      wCol.cast("int"), hCol.cast("int")).as[(Long, String, Int, Int)]
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, t, w, h) =>
        require(w >= 4 && h >= 4, s"textTowerBatched: dims ${w}x$h < 4x4")
        val vec = new Array[Long](16)
        var k = 0
        while (k < 16) {
          val pos = ((k / 4) * h / 4) * w + ((k % 4) * w / 4)
          md.reset()
          val dig = md.digest((t + "#" + (pos / 16))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          vec(k) = (dig(pos % 16) & 0xff).toLong
          k += 1
        }
        (id, vec)
      }
    }.toDF(idCol, "tvec")
  }

  /** Executor-side export of one FILE per row — the write half of a media
    * repository: each partition writes its own rows' payloads directly
    * (no driver collect, no shuffle), the layout a real corpus of
    * image/audio assets has on object storage.
    *
    * Paths go through the Hadoop FileSystem API, so `dir` may be
    * file://, hdfs:// or s3a:// — on a real cluster it MUST be a shared
    * filesystem (a bare local path would scatter files across
    * executor-local disks where neither the read side nor cleanup ever
    * sees them). The target is cleared first (overwrite semantics, like
    * every other sink here — stale files from a crashed prior run would
    * otherwise be swept into the next scan), and NULL payloads are
    * skipped: a file cannot hold SQL NULL, so the read side defines the
    * corpus as "rows that have bytes" (filter nulls upstream if they
    * must be accounted). Pair with [[readBinaryFiles]]. */
  def exportPayloadFiles(df: DataFrame, idCol: String, payloadCol: String,
                         dir: String, ext: String = "bin"): Unit = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(dir)
    val dfs = target.getFileSystem(hconf)
    dfs.delete(target, true)
    dfs.mkdirs(target)
    // Ship the DRIVER's resolved Hadoop conf to the tasks: a bare
    // `new Configuration()` on the executor drops every `spark.hadoop.*`
    // session setting (s3a credentials, endpoints, kerberos) — fine in
    // local mode, wrong on a cluster. SerializableConfiguration is the
    // standard @DeveloperApi wrapper Spark's own sources use for exactly
    // this (Configuration itself is not Serializable).
    val confBc = df.sparkSession.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .filter(col(payloadCol).isNotNull && col(idCol).isNotNull)
      .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(confBc.value.value)
        it.foreach { r =>
          val out = fs.create(new org.apache.hadoop.fs.Path(dir,
            s"doc_${r.getLong(0)}.$ext"), true)
          try out.write(r.getAs[Array[Byte]](1)) finally out.close()
        }
      }
  }

  /** The `binaryFile` source (service-registered in Spark 4): one row per
    * file with (path, modificationTime, length, content) — THE ingest
    * path for raw media directories; content arrives as BinaryType cells
    * ready for the decode stages above. Never select modificationTime
    * into a deterministic pipeline. */
  def readBinaryFiles(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
}
