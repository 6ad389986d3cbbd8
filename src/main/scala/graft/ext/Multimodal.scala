package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY J5): media payloads as opaque
  * BinaryType columns with typed metadata alongside.
  *
  * Round 5: the decode kernel is REAL for the formats the JDK ships codecs
  * for — [[decodeImages]] runs `javax.imageio` (headless, pure-JDK) over
  * PNG/JPEG/BMP/GIF payloads in the batched per-partition path, falling
  * back to the deterministic stub only for byte streams no JDK codec
  * recognizes (the container has no native codec libs for video/audio).
  * [[pngFixture]] synthesizes real PNG payloads whose pixel content is a
  * closed-form function of doc_id, so the decoded width/height/channel/
  * pixel-sum stats are DuckDB-oracle-checkable end to end (PNG is
  * lossless: encode → decode must reproduce every pixel exactly).
  */
object Multimodal {
  /** Attach a binary payload + metadata columns (expression form, codegen). */
  def withPayload(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("payload", $"text".cast("binary"))
      .select($"doc_id",
        length($"payload").cast("long").as("n_bytes"),
        md5($"payload").as("payload_md5"),
        conv(substring(md5($"payload"), 1, 4), 16, 10).cast("long").as("stub_feature"))
  }

  /** Video-style frame sampling plumbing: a deterministic fake frame count
    * per payload (stub for container metadata), strided frame indices via
    * sequence+explode, and a per-frame md5-derived feature (stub for a real
    * frame decode). The explode/stride shape, schema, and per-frame feature
    * join surface are the real thing — swap the fake count/feature for a
    * codec call when the runtime has one. */
  def frameSample(docs: DataFrame, stride: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("payload", $"text".cast("binary"))
      .withColumn("n_frames", (length($"payload") % 24 + 1).cast("long"))
      .select($"doc_id", $"n_frames",
        explode(sequence(lit(0L), $"n_frames" - 1, lit(stride.toLong))).as("frame_idx"))
      .withColumn("frame_feature",
        conv(substring(md5(concat($"doc_id", lit(":"), $"frame_idx").cast("binary")), 1, 8), 16, 10)
          .cast("long"))
  }

  /** Aspect-preserving resize metadata (fit into a box x box frame):
    * fake source dims derived from the payload md5 (decode stub), target
    * dims in exact integer arithmetic — the metadata/bookkeeping half of a
    * resize operator, oracle-checkable; the pixel transform itself would
    * live in the decode kernel. */
  def resizeMeta(docs: DataFrame, box: Int = 224): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("payload", $"text".cast("binary"))
      .withColumn("src_w", (conv(substring(md5($"payload"), 1, 4), 16, 10) % 1920 + 1).cast("long"))
      .withColumn("src_h", (conv(substring(md5($"payload"), 5, 4), 16, 10) % 1080 + 1).cast("long"))
      .select($"doc_id", $"src_w", $"src_h",
        // integer floor division (div) keeps the arithmetic exact in both engines
        when($"src_w" >= $"src_h", lit(box.toLong))
          .otherwise(expr(s"src_w * $box div src_h")).cast("long").as("out_w"),
        when($"src_w" >= $"src_h", expr(s"src_h * $box div src_w"))
          .otherwise(lit(box.toLong)).cast("long").as("out_h"))
  }

  /** Minimal deterministic PNG writer: 8-bit RGB (color type 2), one
    * STORED (uncompressed) deflate block, fixed chunk layout — so the
    * payload byte LENGTH has the closed form h*(3w+1) + 68 (8 signature
    * + 25 IHDR + [12 + 2 zlib header + 5 stored-block header + raw +
    * 4 adler] IDAT + 12 IEND, raw = h scanlines of 1 filter byte + 3w
    * samples). That closed form is what lets the oracle grade
    * byte-derived columns (the keep-best bytes-per-pixel key);
    * ImageIO.write's deflate output is implementation-defined — pixels
    * would match but lengths would not. Requires raw <= 65535 (one
    * stored block), far above the fixture's w <= 15, h <= 8. */
  private def storedPng(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val raw = new Array[Byte](h * (1 + 3 * w))
    var i = 0
    var y = 0
    while (y < h) {
      raw(i) = 0 // filter type None
      i += 1
      var x = 0
      while (x < w) {
        val (r, g, b) = rgb(x, y)
        raw(i) = r.toByte; raw(i + 1) = g.toByte; raw(i + 2) = b.toByte
        i += 3
        x += 1
      }
      y += 1
    }
    require(raw.length <= 65535, s"fixture image too large for one stored block: ${raw.length}")
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    def chunk(tag: String, body: Array[Byte]): Unit = {
      dos.writeInt(body.length)
      val tb = tag.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(body)
      dos.write(tb); dos.write(body); dos.writeInt(crc.getValue.toInt)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte)             // bit depth 8, truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter 0, no interlace
    chunk("IHDR", ihdr.array())
    val z = java.nio.ByteBuffer.allocate(2 + 5 + raw.length + 4)
    z.put(0x78.toByte).put(0x01.toByte)        // zlib CMF/FLG ((120*256+1) % 31 == 0)
    z.put(1.toByte)                            // BFINAL=1, BTYPE=00 (stored)
    z.put((raw.length & 0xff).toByte).put(((raw.length >> 8) & 0xff).toByte)
    z.put(((~raw.length) & 0xff).toByte).put((((~raw.length) >> 8) & 0xff).toByte)
    z.put(raw)
    val ad = new java.util.zip.Adler32()
    ad.update(raw)
    z.putInt(ad.getValue.toInt)
    chunk("IDAT", z.array())
    chunk("IEND", Array.emptyByteArray)
    dos.flush()
    bos.toByteArray
  }

  /** Synthetic PNG payloads: per doc, a (doc_id%13+3) × (doc_id%7+2) RGB
    * image whose channel-c pixel at (x, y) is (doc_id + 7x + 13y + 29c) mod
    * 256, encoded with [[storedPng]] per partition. Both the pixel formula
    * AND the byte length h*(3w+1) + 68 are oracle contracts — DuckDB
    * recomputes the expected stats from doc_id alone (see ExtQueries
    * `j5_decode` / `j5_keep_best`). */
  def pngFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // fan the id column out to the session's shuffle parallelism before the
    // encode: the harness docs scan is one unsplittable parquet partition,
    // so without this every PNG encode+decode chain downstream runs on ONE
    // task (guide §2.5 input skew — repartition right after the read). The
    // shuffle moves only the 8-byte ids; partition count follows the
    // session conf, so a cluster-sized session scales it.
    docs.select($"doc_id")
      .repartition(spark.sessionState.conf.numShufflePartitions, $"doc_id")
      .as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (id % 13 + 3).toInt
        val h = (id % 7 + 2).toInt
        def v(x: Int, y: Int, c: Int): Int =
          (((id + 7L * x + 13L * y + 29L * c) % 256).toInt + 256) % 256
        (id, storedPng(w, h, (x, y) => (v(x, y, 0), v(x, y, 1), v(x, y, 2))))
      }
    }.toDF("doc_id", "payload")
  }

  /** True when a pure-JDK ImageIO codec exists for the payload's magic
    * bytes (PNG / JPEG / BMP / GIF). */
  private def jdkDecodable(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && {
      val b0 = bytes(0) & 0xff; val b1 = bytes(1) & 0xff
      (b0 == 0x89 && b1 == 'P' && bytes(2) == 'N' && bytes(3) == 'G') || // PNG
        (b0 == 0xff && b1 == 0xd8) ||                                    // JPEG
        (b0 == 'B' && b1 == 'M') ||                                      // BMP
        (b0 == 'G' && b1 == 'I' && bytes(2) == 'F' && bytes(3) == '8')   // GIF
    }

  /** REAL batched per-partition decode: `javax.imageio` over every payload
    * a JDK codec recognizes (one decoder instance pipeline per partition —
    * the Scala analog of a mapInPandas batch), deterministic stub metadata
    * otherwise. Emits width / height / band count / exact per-pixel RGB sum
    * per document. */
  def decodeImages(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select($"doc_id", $"payload").as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, bytes) =>
        if (jdkDecodable(bytes)) {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val w = img.getWidth; val h = img.getHeight
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              x += 1
            }
            y += 1
          }
          (id, w.toLong, h.toLong, img.getRaster.getNumBands.toLong, sum,
            bytes.length.toLong, "imageio")
        } else {
          val w = (bytes.length % 64) + 1
          (id, w.toLong, (bytes.length / w + 1).toLong, 1L, bytes.length.toLong,
            bytes.length.toLong, "stub")
        }
      }
    }.toDF("doc_id", "width", "height", "channels", "pixel_sum",
      "payload_bytes", "decoder")
  }

  /** J5 — image survivor selection within perceptual-hash clusters
    * (round-13 verdict #4, parity with the text family's `j2_keep_best`):
    * within each near-dup image cluster keep the member with the largest
    * DECODED pixel area, ties to the HIGHEST bytes-per-pixel (the
    * least-compressed member — the full published production key, graded
    * since round 15: [[storedPng]] gives the payload length a closed form
    * the oracle recomputes, so the MEASURED byte count from ingest is a
    * hash-graded column), final tie to min doc_id. `groups` is the
    * image-cluster frame (`j5_phash_groups`), `decoded` the
    * [[decodeImages]] output — REAL decoded dimensions and the real
    * payload byte count, so a codec defect that mis-reads dimensions OR
    * a writer defect that changes the encoded length flips survivor
    * choices and breaks the hash against the closed-form oracle.
    *
    * Scale posture: one doc_id-grain join plus one cluster-grain argmin —
    * both on frames the image family already bounds. */
  def keepBestImages(groups: DataFrame, decoded: DataFrame): DataFrame = {
    import groups.sparkSession.implicits._
    val g = groups.select($"doc_id", $"cluster_id")
      .join(decoded.select($"doc_id",
        ($"width" * $"height").cast("long").as("pixel_area"),
        $"payload_bytes"), Seq("doc_id"))
      .withColumn("bpp_e6", expr("(payload_bytes * 1000000) div pixel_area"))
    val best = g.groupBy($"cluster_id")
      .agg(min(struct((-$"pixel_area").as("na"), (-$"bpp_e6").as("nb"), $"doc_id")).as("m"))
      .select($"cluster_id", $"m.doc_id".as("best_doc_id"))
    g.join(best, Seq("cluster_id"))
      .select($"doc_id", $"cluster_id", $"pixel_area", $"payload_bytes",
        $"bpp_e6", $"best_doc_id",
        ($"doc_id" === $"best_doc_id").cast("long").as("kept_best"))
  }

  /** REAL feature extraction over the decoded pixels: adaptive mean-pooling
    * to a p x p grid (the downsample/embedding-stem step of an image
    * pipeline). Cell (py, px) covers rows [py*h/p, (py+1)*h/p) and columns
    * [px*w/p, (px+1)*w/p) (integer bounds — the torch AdaptiveAvgPool
    * convention), and pools the channel-SUMMED value of each pixel; the
    * emitted mean is floored to an exact integer so the closed-form DuckDB
    * oracle reproduces it bit-for-bit. Same per-partition batched decode
    * as [[decodeImages]]; payloads without a JDK codec emit no rows (the
    * stub path has no pixels to pool). */
  def poolImages(payloads: DataFrame, p: Int = 2): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select($"doc_id", $"payload").as[(Long, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        if (!jdkDecodable(bytes)) Iterator.empty
        else {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val w = img.getWidth; val h = img.getHeight
          for {
            py <- (0 until p).iterator
            px <- 0 until p
          } yield {
            val y0 = py * h / p; val y1 = (py + 1) * h / p
            val x0 = px * w / p; val x1 = (px + 1) * w / p
            var sum = 0L
            var n = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val q = img.getRGB(x, y)
                sum += ((q >> 16) & 0xff) + ((q >> 8) & 0xff) + (q & 0xff)
                n += 1
                x += 1
              }
              y += 1
            }
            (id, py.toLong, px.toLong, if (n == 0) 0L else sum / n)
          }
        }
      }
    }.toDF("doc_id", "pool_y", "pool_x", "pooled")
  }

  /** [[aHashPairs]] bucket cap — same quadratic-blowup guard as every
    * bucketed candidate generator ([[Dedup.BucketCap]] rationale). */
  val AHashBucketCap = 1000

  /** J5 — PERCEPTUAL image signature (average hash): bit(py,px) = pooled
    * cell value > the image's floor-mean pooled value, packed little-
    * endian by cell index — the tiny-image 2x2 variant of the published
    * 8x8 aHash (the pHash-family primitive behind every image-dedup /
    * known-content-matching pass). Built on the REAL imageio decode +
    * adaptive mean-pool grid ([[poolImages]]), so codec or color-mapping
    * defects break the closed-form oracle; the hash itself is exact
    * integer arithmetic. Row-local per image after the pool. */
  def aHash(payloads: DataFrame, p: Int = 2): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val pooled = poolImages(payloads, p)
    val mn = pooled.groupBy($"doc_id")
      .agg(expr("sum(pooled) div count(1)").as("mean_pooled"))
    pooled.join(mn, Seq("doc_id"))
      .groupBy($"doc_id")
      .agg(
        sum(when($"pooled" > $"mean_pooled",
          expr(s"shiftleft(1L, cast(pool_y * $p + pool_x as int))")).otherwise(0L))
          .as("ahash"),
        max($"mean_pooled").as("mean_pooled"))
      .select($"doc_id", $"ahash", $"mean_pooled",
        bit_count($"ahash").cast("long").as("n_bits"))
  }

  /** J5 — image NEAR-DUP pairs: equality-bucketed on the aHash signature
    * (hamming 0 at this grid size), bucket-capped like every candidate
    * generator. At 100 TB this is the known-content / exact-duplicate
    * image pass: one shuffle on the 2^(p*p)-value hash key. */
  def aHashPairs(payloads: DataFrame, p: Int = 2,
                 cap: Int = AHashBucketCap): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val h = aHash(payloads, p).select($"doc_id", $"ahash")
    val ok = h.groupBy($"ahash").agg(count(lit(1)).as("n"))
      .filter($"n" >= 2 && $"n" <= cap).select($"ahash")
    val hok = h.join(ok, Seq("ahash"), "left_semi")
    hok.select($"ahash", $"doc_id".as("doc_a"))
      .join(hok.select($"ahash", $"doc_id".as("doc_b")), Seq("ahash"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"ahash")
  }

  /** Pigeonhole block count for [[aHashHammingPairs]] — 4 x 16-bit
    * blocks over the 64-bit hash cover hamming <= 3 exactly (the Manku
    * bound: k+1 blocks cover distance k). */
  val AHashHamMaxHamming = 3

  /** [[aHashHammingPairs]] bucket cap. TIGHTER than [[AHashBucketCap]]:
    * a 16-bit block key concentrates far more docs than the full 64-bit
    * hash (small images leave most grid cells empty, so block values
    * repeat heavily), and the harness image field is mod-periodic in
    * doc_id — measured pair growth at this cap is LINEAR across
    * sf0.001 -> sf0.1 (3.4k -> 37k for 100x docs) where cap 1000 went
    * quadratic (360k). Hot blocks carry the least signal, the standard
    * banded-candidate trade. */
  val AHashHamBucketCap = 100

  /** J5 — image near-dup pairs at hamming <= k over the FULL 64-bit 8x8
    * aHash (the published pHash-family radius, not the hamming-0
    * equality bucket of [[aHashPairs]]): re-encoded / slightly
    * re-compressed copies of an image flip a few threshold bits, so the
    * radius is what an image-dedup pass actually needs. Candidate
    * generation is the same Manku pigeonhole as [[Dedup.simhashPairs]]
    * — two hashes within hamming 3 MUST agree on one of the 4 16-bit
    * blocks — then one codegen'd bit_count(xor) verifies the exact
    * distance. No false negatives except documented hot-block pruning.
    *
    * 100 TB posture: 4 small rows per image, one equi-shuffle on the
    * (block, value) key, verification touches candidates only; the
    * dial is blocks-vs-radius, the cap bounds any hot block. */
  /** `hashes` is the (doc_id, ahash) frame of the FUSED row-local kernel
    * [[aHashLocal]] (bit-identical to the aHash chain — ExtSpec pins row
    * equality), staged or tracked. */
  def aHashHammingPairs(hashes: DataFrame,
                        maxHamming: Int = AHashHamMaxHamming,
                        cap: Int = AHashHamBucketCap): DataFrame = {
    import hashes.sparkSession.implicits._
    val bands = hashes.select($"doc_id", $"ahash",
        explode(sequence(lit(0), lit(3))).as("blk"))
      .select($"doc_id", $"ahash", $"blk",
        // arithmetic vs logical shift is mask-invisible here: & 65535
        // keeps bits 0..15 and sign extension only touches bits >= 16
        expr("shiftright(ahash, blk * 16) & 65535").as("val"))
    val ok = bands.groupBy($"blk", $"val").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2 && $"c" <= cap).select($"blk", $"val")
    val pruned = bands.join(ok, Seq("blk", "val"), "left_semi")
    pruned.select($"doc_id".as("doc_a"), $"ahash".as("ha"), $"blk", $"val")
      .join(pruned.select($"doc_id".as("doc_b"), $"ahash".as("hb"), $"blk", $"val"),
        Seq("blk", "val"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        bit_count($"ha".bitwiseXOR($"hb")).cast("long").as("hamming"))
      // verify BEFORE dedup (the simhashPairs discipline): a pair can
      // arrive from up to 4 shared blocks
      .filter($"hamming" <= maxHamming)
      .distinct()
  }

  /** FUSED single-pass aHash: decode + adaptive pool + threshold + bit-pack
    * inside ONE mapPartitions batch — (doc_id, ahash) with zero shuffles,
    * bit-identical to the [[aHash]] chain (integer-exact pooling: per-cell
    * floor(sum/n), floor-mean over all p*p cells, bit per cell above the
    * mean; ExtSpec pins row equality). The incremental image family runs
    * on this form because the probe side must be per-doc ROW-LOCAL: the
    * streaming twin ([[graft.streaming.StreamOps.imgProbeStream]]) cannot
    * carry [[aHash]]'s 64-rows-per-doc groupBy in append mode, and at
    * 100 TB the fused form spares the pooled-grain exchange entirely.
    * Payloads without a JDK codec emit no row (the [[poolImages]]
    * convention). */
  private[graft] def aHashLocal(payloads: DataFrame, p: Int = 8): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select($"doc_id", $"payload").as[(Long, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        if (!jdkDecodable(bytes)) Iterator.empty
        else {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val w = img.getWidth; val h = img.getHeight
          val pooled = new Array[Long](p * p)
          var meanSum = 0L
          var py = 0
          while (py < p) {
            var px = 0
            while (px < p) {
              val y0 = py * h / p; val y1 = (py + 1) * h / p
              val x0 = px * w / p; val x1 = (px + 1) * w / p
              var sum = 0L; var n = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  val q = img.getRGB(x, y)
                  sum += ((q >> 16) & 0xff) + ((q >> 8) & 0xff) + (q & 0xff)
                  n += 1
                  x += 1
                }
                y += 1
              }
              val cell = if (n == 0) 0L else sum / n
              pooled(py * p + px) = cell
              meanSum += cell
              px += 1
            }
            py += 1
          }
          val mean = meanSum / (p * p)
          var hash = 0L
          var i = 0
          while (i < p * p) {
            if (pooled(i) > mean) hash |= (1L << i)
            i += 1
          }
          Iterator.single((id, hash))
        }
      }
    }.toDF("doc_id", "ahash")
  }

  /** Manku 16-bit block rows (doc_id, ahash, blk, val) over a hash frame —
    * the [[aHashHammingPairs]] candidate key, factored so the incremental
    * probe, the index builder, and the upserts share one spelling. */
  private[graft] def aHashBlockRows(hashes: DataFrame): DataFrame = {
    import hashes.sparkSession.implicits._
    hashes.select($"doc_id", $"ahash",
        explode(sequence(lit(0), lit(3))).as("blk"))
      .select($"doc_id", $"ahash", $"blk".cast("long").as("blk"),
        expr("shiftright(ahash, cast(blk * 16 as int)) & 65535").as("val"))
  }

  /** The STANDING image index: cap-gated block rows of the corpus side's
    * hashes — (doc_c, hb, blk, val, cgated), where `cgated[b] = 1` iff the
    * doc's block-b bucket was cap-gated OUT. The mask is dead weight for
    * the batch probe (it dedups candidates with `distinct`) but is what
    * keeps the streaming twin's smallest-matching-block witness exact
    * (the [[Dedup.corpusProbeIndex]] round-14 rule): an earlier block that
    * agrees by value but was gated never produced an index row, so it must
    * not suppress the later cap-passing hit. ONE persisted relation serves
    * the state probe, the upsert write, and the stream-static probe. */
  private[graft] def imgIndex(corpusHashes: DataFrame,
                              cap: Int = AHashHamBucketCap): DataFrame = {
    import corpusHashes.sparkSession.implicits._
    val bl = graft.Pinned.track(aHashBlockRows(corpusHashes))
    val ok = bl.groupBy($"blk", $"val").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" <= cap).select($"blk", $"val")
    val gmask = bl.join(ok.withColumn("pass", lit(1)), Seq("blk", "val"), "left")
      .select($"doc_id", $"blk",
        when($"pass".isNull, 1L).otherwise(0L).as("g"))
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"blk", $"g"))).as("bg"))
      .select($"doc_id", transform($"bg", x => x.getField("g")).as("cgated"))
    bl.join(ok, Seq("blk", "val"), "left_semi")
      .join(gmask, Seq("doc_id"))
      .select($"doc_id".as("doc_c"), $"ahash".as("hb"), $"blk", $"val", $"cgated")
  }

  /** The shared image probe tail ([[Dedup.incProbeTail]] mirror): incoming
    * block rows equi-join the standing cap-gated index, one codegen'd
    * bit_count(xor) per DISTINCT candidate pair verifies the exact
    * distance (the hash rides on both sides, so — unlike the lexical
    * family — no separate verify relation is needed), best match per
    * incoming doc (min hamming, ties to the smallest standing id),
    * keep/drop at the [[AHashHamMaxHamming]] radius. `999` is the
    * no-candidate hamming (> any real 64-bit distance). */
  private[graft] def imgProbeTail(incIds: DataFrame, incBlocks: DataFrame,
                                  idx: DataFrame,
                                  maxHamming: Int = AHashHamMaxHamming): DataFrame = {
    import incIds.sparkSession.implicits._
    val cand = incBlocks.select($"doc_id".as("doc_n"), $"ahash".as("ha"), $"blk", $"val")
      .join(idx.select($"doc_c", $"hb", $"blk", $"val"), Seq("blk", "val"))
      .select($"doc_n", $"doc_c",
        bit_count($"ha".bitwiseXOR($"hb")).cast("long").as("hamming"))
      .distinct()
    val best = cand
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_n")
          .orderBy($"hamming", $"doc_c")))
      .filter($"rn" === 1)
    incIds
      .join(best.select($"doc_n".as("doc_id"), $"doc_c", $"hamming"),
        Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"doc_c", lit(-1L)).as("match_doc_id"),
        coalesce($"hamming", lit(999L)).as("hamming"),
        when(coalesce($"hamming", lit(999L)) <= maxHamming, "drop")
          .otherwise("keep").as("verdict"))
  }

  /** J5 — INCREMENTAL image near-dup lookup (the image family joins the
    * read–probe–write conventions the lexical/Bloom/semantic families
    * established): a new batch (doc_id % `mod` == 0) probes the standing
    * corpus's cap-gated 16-bit-block aHash index at the hamming-3 radius;
    * per-batch cost scales with the batch (one batch decode + one
    * banded equi-join), not the corpus. `hashes` is the (doc_id, ahash)
    * frame over ALL docs, sliced to the batch; `idx` the standing
    * [[imgIndex]] to probe. */
  def incrementalImages(docs: DataFrame, hashes: DataFrame, idx: DataFrame,
                        mod: Int = 10,
                        maxHamming: Int = AHashHamMaxHamming): DataFrame = {
    import docs.sparkSession.implicits._
    val batchHashes = hashes.filter($"doc_id" % mod === 0)
    imgProbeTail(docs.filter($"doc_id" % mod === 0).select($"doc_id"),
      aHashBlockRows(batchHashes), idx, maxHamming)
  }

  /** The image family's persisted state ([[StateStore]], the
    * `j2_incremental_state` convention): ONE table, `ahash_index` — the
    * cap-gated standing block rows with hashes and the gated-block mask —
    * shared by the state probe, the upsert, and the streaming twin, so no
    * two paths can persist diverging state for one dataset. */
  private[graft] def imgStateTables(s: org.apache.spark.sql.SparkSession,
                                    key: String, idx: DataFrame): Seq[DataFrame] =
    StateStore.tables(s, "graft_j5_imgstate", key, Seq("ahash_index"))(Seq(idx))

  /** J5 — the STATE-TABLE form of the incremental image lookup: the
    * standing aHash index is read from its persisted parquet table and the
    * graded query only decodes/hashes the incoming batch — the production
    * nightly shape whose per-run cost scales with the batch. Hash-equal to
    * [[incrementalImages]] (shared probe tail + shared oracle; ExtSpec
    * pins row equality). */
  def incrementalImagesState(s: org.apache.spark.sql.SparkSession, key: String,
                             docs: DataFrame, hashes: DataFrame, idx: DataFrame,
                             mod: Int = 10,
                             maxHamming: Int = AHashHamMaxHamming): DataFrame = {
    import docs.sparkSession.implicits._
    val Seq(stateIdx) = imgStateTables(s, key, idx)
    val batch = docs.filter($"doc_id" % mod === 0)
    val batchHashes = hashes.filter($"doc_id" % mod === 0)
    imgProbeTail(batch.select($"doc_id"), aHashBlockRows(batchHashes), stateIdx,
      maxHamming)
  }

  /** J5 — the image state UPSERT: the aHash-index WRITE step. Emits the
    * post-ingest index at the (doc_id, blk, val, ahash, is_new) grain —
    * the standing cap-gated rows (is_new = 0) plus every block row of the
    * batch docs the probe KEEPS (is_new = 1; dropped near-duplicates never
    * enter the index). Graded against the same probe chain as the verdict
    * twin, so read and write paths cannot disagree about index contents. */
  def incrementalImagesUpsert(docs: DataFrame, hashes: DataFrame, idx: DataFrame,
                              mod: Int = 10,
                              maxHamming: Int = AHashHamMaxHamming): DataFrame = {
    import docs.sparkSession.implicits._
    val batchBlocks = aHashBlockRows(hashes.filter($"doc_id" % mod === 0))
    val verdicts = imgProbeTail(docs.filter($"doc_id" % mod === 0).select($"doc_id"),
      batchBlocks, idx, maxHamming)
    val keptIds = verdicts.filter($"verdict" === "keep").select($"doc_id")
    idx.select($"doc_c".as("doc_id"), $"blk", $"val", $"hb".as("ahash"),
        lit(0L).as("is_new"))
      .unionByName(batchBlocks
        .join(keptIds, Seq("doc_id"), "left_semi")
        .select($"doc_id", $"blk", $"val", $"ahash", lit(1L).as("is_new")))
  }

  /** J5 — TWO-consecutive-ingest evolution of the image index (the
    * `j2_incremental_upsert2` convention applied to the image family):
    * batch 1 (doc_id % 2`mod` == `mod`) probes the cap-gated corpus index
    * v0 and its kept docs' block rows are appended; batch 2 (% 2`mod` ==
    * 0) probes v1 = v0 ∪ batch-1 inserts with the bucket cap re-applied
    * over the GROWN buckets — so a batch-2 near-duplicate of a
    * batch-1-KEPT image is caught across the ingest boundary (ExtSpec
    * pins it on a crafted exact-copy payload fixture). One row per
    * post-ingest index entry, `batch_no` ∈ {0 standing, 1, 2}.
    *
    * 100 TB posture: ONE decode/hash pass sliced three ways, two
    * block-grain equi-join probe rounds, cap gates as bounded (blk, val)
    * aggregates — per-ingest cost is the single-step family's plan twice.
    * `hashes` is the (doc_id, ahash) frame over ALL docs. */
  def incrementalImagesUpsert2(docs: DataFrame, hashes: DataFrame, mod: Int = 10,
                               cap: Int = AHashHamBucketCap,
                               maxHamming: Int = AHashHamMaxHamming): DataFrame = {
    import docs.sparkSession.implicits._
    val blocks = graft.Pinned.track(aHashBlockRows(hashes))
    def gate(bl: DataFrame): DataFrame = {
      val ok = bl.groupBy($"blk", $"val").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" <= cap).select($"blk", $"val")
      bl.join(ok, Seq("blk", "val"), "left_semi")
    }
    val v0 = graft.Pinned.track(gate(blocks.filter($"doc_id" % mod =!= 0)))
    def idxShape(bl: DataFrame): DataFrame =
      bl.select($"doc_id".as("doc_c"), $"ahash".as("hb"), $"blk", $"val")
    val b1Ids = docs.filter($"doc_id" % (2L * mod) === mod.toLong).select($"doc_id")
    val b2Ids = docs.filter($"doc_id" % (2L * mod) === 0L).select($"doc_id")
    val b1B = blocks.join(b1Ids, Seq("doc_id"), "left_semi")
    val b2B = blocks.join(b2Ids, Seq("doc_id"), "left_semi")
    val v1 = imgProbeTail(b1Ids, b1B, idxShape(v0), maxHamming)
    val kept1 = graft.Pinned.track(
      v1.filter($"verdict" === "keep").select($"doc_id"))
    val b1Kept = b1B.join(kept1, Seq("doc_id"), "left_semi")
    val idx2 = gate(v0.unionByName(b1Kept))
    val v2 = imgProbeTail(b2Ids, b2B, idxShape(idx2), maxHamming)
    val kept2 = v2.filter($"verdict" === "keep").select($"doc_id")
    def out(bl: DataFrame, batchNo: Long): DataFrame =
      bl.select($"doc_id", $"blk", $"val", $"ahash", lit(batchNo).as("batch_no"))
    out(v0, 0L)
      .unionByName(out(b1Kept, 1L))
      .unionByName(out(b2B.join(kept2, Seq("doc_id"), "left_semi"), 2L))
  }

  /** The image family's CLUSTER state: the converged phash cluster labels
    * (doc_id, cluster_id, is_canonical) persisted via [[StateStore]] — the
    * artifact the composed five-gate audit's image leg reads, so the
    * state-read form of that audit ([[Pipeline.ingestAuditStateMm]])
    * consults a TABLE like every other gate, not a session cache. */
  private[graft] def imgGroupsTable(s: org.apache.spark.sql.SparkSession,
                                    key: String, groups: DataFrame): DataFrame =
    StateStore.tables(s, "graft_j5_imggroups", key, Seq("cluster_labels"))(
      Seq(groups)).head

  /** Samples per energy window for [[audioEnergy]]. */
  val AudioWindow = 64

  /** AUDIO plumbing with a REAL binary round trip: synthesize a PCM16-LE
    * payload whose samples are a closed form of doc_id (the codec stub —
    * this runtime ships no audio libs), then decode the BYTES back
    * (substring + hex little-endian reassembly with two's-complement sign
    * handling, all built-in expressions) and reduce to windowed energy
    * (sum of squared samples per [[AudioWindow]]-sample window — the RMS
    * numerator every VAD / silence-trim / loudness-normalize stage
    * computes). The oracle computes the same windows straight from the
    * closed form WITHOUT touching bytes, so an endianness, sign, or
    * offset defect in the encode/decode path breaks the hash — the same
    * stub-the-codec / keep-the-plumbing-real discipline as the PNG path.
    * Row-local end to end: zero shuffles, payload grain never leaves its
    * row. */
  def audioEnergy(docs: DataFrame, window: Int = AudioWindow): DataFrame = {
    import docs.sparkSession.implicits._
    val enc = docs
      .select($"doc_id", ((pmod($"doc_id", lit(4L)) + 1L) * window).as("n"))
      .withColumn("payload", unhex(expr(
        s"""concat_ws('', transform(sequence(0L, n - 1), i -> concat(
           |  lpad(hex(pmod(doc_id * 31 + i * 17, 65536) % 256), 2, '0'),
           |  lpad(hex(pmod(doc_id * 31 + i * 17, 65536) div 256), 2, '0'))))""".stripMargin)))
    enc
      .select($"doc_id", $"n", $"payload",
        explode(expr(s"sequence(0L, n div $window - 1)")).as("window_idx"))
      .withColumn("energy", expr(
        s"""aggregate(
           |  transform(sequence(0, $window - 1), k ->
           |    CAST(conv(hex(substring(payload, CAST(2 * (window_idx * $window + k) + 1 AS INT), 1)), 16, 10) AS BIGINT)
           |    + 256 * CAST(conv(hex(substring(payload, CAST(2 * (window_idx * $window + k) + 2 AS INT), 1)), 16, 10) AS BIGINT)),
           |  CAST(0 AS BIGINT),
           |  (acc, r) -> acc + (CASE WHEN r >= 32768 THEN r - 65536 ELSE r END)
           |            * (CASE WHEN r >= 32768 THEN r - 65536 ELSE r END))""".stripMargin))
      .select($"doc_id", $"window_idx".cast("long").as("window_idx"),
        $"n".as("n_samples"), $"energy")
  }
}
