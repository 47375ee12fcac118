package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.mm.Multimodal

/** Multimodal plumbing: binary payload columns, stub decode, batched
  * mapPartitions frame sampling.
  */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("media table carries payloads as opaque binary with typed metadata") {
    val mt = Multimodal.mediaTable(spark, sf)
    assert(mt.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val meta = Multimodal.mm1MediaMeta(spark, sf).collect()
    assert(meta.nonEmpty)
    // stub-decoded dims stay in the declared [64, 512) range
    assert(meta.forall { r =>
      val (w, h) = (r.getInt(2), r.getInt(3))
      w >= 64 && w < 512 && h >= 64 && h < 512
    })
  }

  test("mm3 frame sampling: batched typed kernel, framesPer rows per media item") {
    val frames = Multimodal.mm3FrameSample(spark, sf, framesPer = 4).collect()
    val n = Multimodal.mediaTable(spark, sf).count()
    assert(frames.length == n * 4)
    val byMedia = frames.groupBy(_.media_id)
    assert(byMedia.values.forall(_.map(_.frame_idx).sorted.sameElements(0 until 4)))
    // deterministic: same payload + idx -> same hash on rerun
    val again = Multimodal.mm3FrameSample(spark, sf, framesPer = 4).collect()
    assert(frames.map(f => (f.media_id, f.frame_idx, f.frame_hash)).toSet ==
      again.map(f => (f.media_id, f.frame_idx, f.frame_hash)).toSet)
  }

  test("mm3 oracle precondition: the corpus is ASCII (byte == char ord)") {
    // The DuckDB oracle walks CHARACTERS (ord(substr(text, p+1, 1)))
    // where the Scala kernel walks payload BYTES. Those coincide iff
    // every byte is < 0x80 — i.e. one byte per char and ord == signed
    // byte value. Pin it, so a future non-ASCII corpus fails HERE with
    // a named cause instead of as an opaque oracle hash mismatch.
    import org.apache.spark.sql.functions.{col, length, octet_length}
    val nonAscii = graft.lake.Tables.documents(spark, sf)
      .filter(octet_length(col("text")) =!= length(col("text")))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii docs have multi-byte chars; mm3's SQL oracle is invalid for them")
  }

  test("image payloads decode to REAL pixels via javax.imageio (r5 verdict #7)") {
    import spark.implicits._
    // generate PNG fixtures in-memory: 8x8 images with known per-pixel
    // colors, round-tripped through the JDK's PNG encoder
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 8; y <- 0 until 8)
        img.setRGB(x, y, (seed * 1000003 + x * 131 + y * 31) & 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.Media(1L, png(1)),
      Multimodal.Media(2L, png(2)),
      Multimodal.Media(3L, "plain text payload, no codec".getBytes("UTF-8")))
    val frames = Multimodal.frameSample(media.toDS(), framesPer = 2)
      .collect().map(f => (f.media_id, f.frame_idx) -> f.frame_hash).toMap
    assert(frames.size == 6)
    // the pixel kernel saw the REAL raster: recompute the expected hash
    // from the known pixel values, independent of the PNG byte stream
    def expected(seed: Int, idx: Int): Long = {
      var h = 1125899906842597L
      var i = idx
      while (i < 64) {
        val (x, y) = (i % 8, i / 8)
        h = 31 * h + (0xFF000000 |
          ((seed * 1000003 + x * 131 + y * 31) & 0xFFFFFF))
        i += math.max(1, 64 / 16)
      }
      h
    }
    assert(frames((1L, 0)) == expected(1, 0) && frames((1L, 1)) == expected(1, 1),
      "decoded pixels don't match the pixels that were encoded")
    assert(frames((2L, 0)) == expected(2, 0))
    assert(frames((1L, 0)) != frames((2L, 0)), "different images must differ")
    // pixel identity: a re-encode of the SAME raster (fresh encoder run)
    // hashes identically — the hash is over pixels, not container bytes
    val reenc = Multimodal.frameSample(
      Seq(Multimodal.Media(9L, png(1))).toDS(), framesPer = 1).collect()
    assert(reenc.head.frame_hash == frames((1L, 0)))
    // non-image payloads fall back to the byte stub
    val stubbed = Multimodal.decodeFrameStub(media(2), 0)
    assert(frames((3L, 0)) == stubbed.frame_hash)
    // and the sniff rejects text without invoking ImageIO
    assert(!Multimodal.looksLikeImage(media(2).payload))
    assert(Multimodal.looksLikeImage(media(0).payload))
  }

  test("mm2 features are ANN-ready: 8-dim doubles in [0,1)") {
    val rows = Multimodal.mm2FeatureVectors(spark, sf).collect()
    assert(rows.forall { r =>
      val v = r.getSeq[Double](1)
      v.length == 8 && v.forall(x => x >= 0.0 && x < 1.0)
    })
    // the query surface is the exploded scalar form (array columns are
    // unhashable in the driver's compare — r2 verdict #1): same values,
    // 8 rows per media item, i in 0..7
    val exploded = Multimodal.mm2FakeFeatures(spark, sf).collect()
    assert(exploded.length == rows.length * 8)
    val byMedia = exploded.groupBy(_.getLong(0))
    val vecs = rows.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    byMedia.foreach { case (id, rs) =>
      val vals = rs.sortBy(_.getLong(1)).map(_.getDouble(2))
      assert(rs.map(_.getLong(1)).sorted.sameElements(0L until 8L))
      assert(vals.sameElements(vecs(id)))
    }
  }

  test("mm4 thumbnail: real bilinear resize for images, byte pooling for opaque payloads") {
    import spark.implicits._
    def png(seed: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (seed * 1000003 + x * 131 + y * 31) & 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // a FLAT gray image resizes to the same gray at any size: bilinear
    // interpolation of a constant is that constant -> every bin = gray
    def flat(rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.Media(1L, flat(0x646464, 40, 24)),     // gray 100, non-square
      Multimodal.Media(2L, png(7, 33, 17)),             // varied, odd dims
      Multimodal.Media(3L, "ten bytes!".getBytes("UTF-8")),
      Multimodal.Media(4L, Array.empty[Byte]))
    val out = Multimodal.thumbnail(media.toDS(), bins = 16)
      .collect().groupBy(_.media_id)
    // image leg: 16 rows, flat image pools to its own gray everywhere
    assert(out(1L).length == 16)
    assert(out(1L).forall(_.value == 100L),
      s"flat-gray resize drifted: ${out(1L).map(_.value).toSeq}")
    // varied image: 16 bounded rows, not all equal (the raster is real)
    assert(out(2L).length == 16 && out(2L).forall(p => p.value >= 0 && p.value <= 255))
    assert(out(2L).map(_.value).distinct.length > 1)
    // determinism: a second run produces identical pooled values
    val again = Multimodal.thumbnail(media.toDS(), bins = 16)
      .collect().groupBy(_.media_id)
    assert(again(2L).sortBy(_.bin).map(_.value).toSeq ==
      out(2L).sortBy(_.bin).map(_.value).toSeq)
    // stub leg: 10 ASCII bytes over 16 bins -> 10 occupied bins, each the
    // byte itself (bins with no positions are absent, single-byte bins exact)
    val stub = out(3L).sortBy(_.bin)
    assert(stub.length == 10)
    val bytes = "ten bytes!".getBytes("UTF-8")
    val wantBins = bytes.indices.map(p => (p * 16) / 10)
    assert(stub.map(_.bin).toSeq == wantBins,
      "stub bin assignment must be p*bins/len")
    assert(stub.map(_.value).toSeq == bytes.map(b => (b & 0xff).toLong).toSeq)
    // empty payloads emit nothing instead of dividing by zero
    assert(!out.contains(4L))
  }

  test("mm5: dHash recovers planted near-identical images; unrelated images stay out") {
    import spark.implicits._
    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def gradient(shift: Int, invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) {
        // 2x+y <= 189, +shift stays < 255: NO saturation, so a uniform
        // brightness shift preserves every gradient sign exactly
        val v0 = 2 * x + y
        val v = (if (invert) 189 - v0 else v0) + shift
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      encode(img)
    }
    val base = gradient(0, invert = false)
    val brighter = gradient(8, invert = false)  // near-dup: +8 brightness
    val inverted = gradient(0, invert = true)   // different content
    // lossless re-encode of the SAME raster (fresh encoder pass)
    val reenc = encode(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(base)))
    val media = Seq(
      Multimodal.Media(1L, base),
      Multimodal.Media(2L, brighter),
      Multimodal.Media(3L, inverted),
      Multimodal.Media(4L, reenc),
      Multimodal.Media(5L, "an opaque text payload, stub leg".getBytes("UTF-8")))

    val pairs = Multimodal.imageNearDupPairs(media.toDS())
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brightness shift: gradient signs identical -> Hamming 0, recovered
    assert(pairs.get((1L, 2L)).contains(0L),
      s"near-identical pair not recovered at distance 0: $pairs")
    // re-encode: pixel-identical -> Hamming 0
    assert(pairs.get((1L, 4L)).contains(0L), s"re-encode pair missing: $pairs")
    // rep-grain contract (r12): 2 and 4 are both members of 1's clone
    // group — they relate THROUGH the representative, not pairwise
    assert(!pairs.contains((2L, 4L)),
      s"clone members must pair via their rep only: $pairs")
    // the inverted image shares no near-dup pair with anything
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated image leaked into the near-dup set: $pairs")

    // and the threshold genuinely bites: inverted's hash is FAR from
    // base's (every interior gradient sign flips)
    val h = Multimodal.perceptualHashes(media.take(3).toDS())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) > Multimodal.MaxHamming,
      "inverted image unexpectedly close in Hamming space")
    assert(h(1L) == h(2L), "brightness shift must not move the dHash")
  }

  test("band cap: hot structural buckets drop, clone mass and cool-band twins survive") {
    import spark.implicits._
    val spark2 = spark
    import org.apache.spark.sql.functions.col
    // synthetic hash table drives bandedHammingPairs directly:
    //  - 100 IDENTICAL hashes (ids 1000-1099): a mass-cloned image —
    //    every band bucket it touches is over any cap, but the clone
    //    contraction must still emit all 99 rep->member pairs at 0
    //  - 70 DISTINCT hashes (ids 1-70) sharing band 0's bits (low 16
    //    bits equal) but differing everywhere else: a hot STRUCTURAL
    //    bucket (70 > 64) -> its band-0 pairs must drop
    //  - a planted twin among them (ids 1,2) that ALSO shares band 3
    //    (a cool bucket of 2) -> must survive via that band
    val cloneHash = 0x1234567812345678L
    def structured(i: Long): Long = {
      // shared low 16 bits (band 0) = 0xBEEF; bands 1-2 unique per id
      val unique = (i << 16) | (i << 32)
      0xBEEFL | unique
    }
    val twinA = structured(1) | (0x7AL << 48) // band 3 = 0x007A
    val twinB = structured(2) | (0x7AL << 48) // same band 3
    val rows =
      (1000L to 1099L).map(id => (id, cloneHash)) ++
      Seq((1L, twinA), (2L, twinB)) ++
      (3L to 70L).map(i => (i, structured(i)))
    val hashes = rows.toDF("media_id", "phash")
    val got = Multimodal.bandedHammingPairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // clone mass: exactly 99 rep->member pairs at distance 0
    val clonePairs = got.filter(p => p._1 == 1000L && p._3 == 0L)
    assert(clonePairs.length == 99 &&
      clonePairs.map(_._2).sorted.toSeq == (1001L to 1099L),
      s"mass-clone group must survive the cap via contraction: ${clonePairs.length}")
    // the planted twin survives through its cool band
    assert(got.exists(p => p._1 == 1L && p._2 == 2L),
      "twin sharing a sub-cap band must remain a candidate")
    // the hot structural bucket's pairs are gone: no pair between two
    // structured-only ids (they share ONLY the hot band-0 value)
    val hot = got.filter(p => p._1 >= 3L && p._1 <= 70L &&
      p._2 >= 3L && p._2 <= 70L)
    assert(hot.isEmpty, s"hot-bucket pairs leaked past the cap: ${hot.take(5).toSeq}")
  }

  test("mm7: banded-fetch recall floors at corpus tier (r12 verdict #4)") {
    // the measured sf0.01 values, pinned as FLOORS (s11's precedent:
    // the report is the oracle-gated query; the spec keeps the cap
    // from silently eroding what the band join surfaces). Context for
    // the absolute level: this corpus's closest DISTINCT-content rep
    // pairs sit at Hamming >= 10 (text stand-in payloads — r12's mm5
    // posture), far outside the <= MaxHamming promise zone where
    // pigeonhole guarantees a clean band, so these floors measure
    // banding's behavior BEYOND its guarantee, not the guarantee.
    val got = graft.mm.Multimodal
      .mm7RecallReport(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got("top25") >= 1200L,
      s"top25 banded recall fell below the measured floor: $got")
    assert(got("top100") >= 300L,
      s"top100 banded recall fell below the measured floor: $got")
  }

  test("mm6: cross-modal integrity flags both disagreement directions on planted fixtures") {
    import spark.implicits._
    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def pattern(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) {
        val v = f(x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      encode(img)
    }
    // four mutually-far dHash patterns: monotone gradient, its inverse,
    // a block checkerboard, the checkerboard's inverse
    val grad = pattern((x, y) => 2 * x + y)
    val gradInv = pattern((x, y) => 189 - (2 * x + y))
    def checker(hi: Int, lo: Int, shift: Int) =
      pattern((x, y) => (if (((x / 8) + (y / 8)) % 2 == 0) hi else lo) + shift)
    val chk = checker(200, 50, 0)
    val chkBright = checker(200, 50, 8) // near-dup: +8 brightness
    val chkInv = checker(50, 200, 0)
    val chkInvReenc = encode(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(chkInv)))

    val capA = "alpha beta gamma delta epsilon zeta"
    val capC = "lorem ipsum dolor sit amet consectetur"
    val docs = Seq(
      (1L, capA), (2L, capA),                       // same caption...
      (3L, "one two three four five six"),          // ...distinct captions
      (4L, "seven eight nine ten eleven twelve"),
      (5L, capC), (6L, capC)).toDF("doc_id", "text")
    val media = Seq(
      Multimodal.Media(1L, grad), Multimodal.Media(2L, gradInv), // far images
      Multimodal.Media(3L, chk), Multimodal.Media(4L, chkBright), // near images
      Multimodal.Media(5L, chkInv), Multimodal.Media(6L, chkInvReenc)).toDS()

    // production image grain (<=3 bits): the real-image thresholds
    val got = Multimodal.crossModalCheck(docs, media, 0.8, 3L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(4)))
      .toMap
    assert(got == Map(
      (1L, 2L) -> "text_only",   // caption duplicated, image is not
      (3L, 4L) -> "image_only",  // image duplicated, caption is not
      (5L, 6L) -> "both"), s"unexpected flag set: $got")
  }

  test("phash index lifecycle: table-served ≡ inline recompute; append ≡ rebuild; stale prevSig throws (r14 verdict #1)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("mmph_tier")
    val d = dir.toString
    val docs = graft.lake.Tables.documents(spark, sf).localCheckpoint()
    val n = docs.count()
    val base = docs.filter(col("doc_id") < 4L * n / 5L)
    val delta = docs.filter(col("doc_id") >= 4L * n / 5L).localCheckpoint()
    base.write.parquet(s"$d/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    try {
      // no table: the inline leg
      val (inline5, inline6, inline7) = (
        rows(Multimodal.mm5ImageNeardup(spark, d)),
        rows(Multimodal.mm6CrossModal(spark, d)),
        rows(Multimodal.mm7RecallReport(spark, d)))

      // served: every mm consumer bit-identical, zero decode in-query
      Multimodal.persistPhashIndex(spark, d, buckets = 4)
      val prevSig = Multimodal.phashStamp(spark, d).get
      assert(rows(Multimodal.mm5ImageNeardup(spark, d)) == inline5,
        "mm5 served != inline")
      assert(rows(Multimodal.mm6CrossModal(spark, d)) == inline6,
        "mm6 served != inline")
      assert(rows(Multimodal.mm7RecallReport(spark, d)) == inline7,
        "mm7 served != inline")

      // append: only the delta decodes; table ≡ full re-decode rebuild
      delta.write.mode("append").parquet(s"$d/documents.parquet")
      Multimodal.appendPhashIndex(spark, d, delta, prevSig)
      assert(Multimodal.phashStamp(spark, d).contains(
        graft.lake.SessionMemo.signature(s"$d/documents.parquet")),
        "phash append did not re-stamp to the grown corpus")
      val full = spark.read.parquet(s"$d/documents.parquet")
      assert(rows(graft.lake.IndexTables.serve(spark, "mmph",
          s"$d/documents.parquet").get) ==
        rows {
          import spark.implicits._
          Multimodal.perceptualHashes(
            Multimodal.mediaFrom(full).select(col("media_id"), col("payload"))
              .as[Multimodal.Media])
        },
        "appended phash table != full re-decode")
      // served-appended query ≡ cold rebuild on the grown corpus
      val served5 = rows(Multimodal.mm5ImageNeardup(spark, d))
      Multimodal.dropPhashIndex(spark, d)
      assert(rows(Multimodal.mm5ImageNeardup(spark, d)) == served5,
        "mm5 served-after-append != cold rebuild")

      // foreign-rewrite guard
      Multimodal.persistPhashIndex(spark, d, buckets = 4)
      intercept[IllegalStateException] {
        Multimodal.appendPhashIndex(spark, d, delta, prevSig)
      }
    } finally Multimodal.dropPhashIndex(spark, d)
  }
}
