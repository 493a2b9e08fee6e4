package graft

import org.apache.spark.sql.functions._
import graft.multimodal.MultimodalOps
import graft.multimodal.MultimodalOps.{MediaRow, MediaCodec}

/** Multimodal plumbing: binary columns survive the pipeline opaquely, the
  * mapPartitions decode stage has the right batch shape, image rows are
  * REAL PNGs decoded by javax.imageio, and frame sampling follows the
  * codec's law. */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  test("media table carries opaque binary payloads with typed metadata") {
    val media = MultimodalOps.mediaTable(spark, sf)
    val row = media.filter($"media_id" === 1).head()
    assert(row.media_type == "audio")
    assert(row.bytes.length == row.n_bytes)
    // bytes round-trip untouched (opacity: no codec ran)
    assert(new String(row.bytes, "UTF-8").nonEmpty)
  }

  test("image rows are real PNGs; javax.imageio decodes real dimensions") {
    val media = MultimodalOps.mediaTable(spark, sf)
    val img = media.filter($"media_type" === "image").head()
    assert(MediaCodec.isPng(img.bytes), "image payload is not a PNG container")
    // decode independently of MediaCodec: the JDK codec sees a real image
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(img.bytes))
    assert(decoded != null)
    // dims follow the fixture law: first two text codepoints × 4
    val doc = graft.Tables.documents(spark, sf)
      .filter($"doc_id" === img.media_id).select("text").as[String].head()
    assert(decoded.getWidth == 4 * doc.codePointAt(0))
    assert(decoded.getHeight == 4 * doc.codePointAt(doc.offsetByCodePoints(0, 1)))
    // and the feature stage reports exactly what the real decode saw
    val f = MultimodalOps.extractFeatures(media)
      .filter($"media_id" === img.media_id).head()
    assert((f.width, f.height) == (decoded.getWidth, decoded.getHeight))
  }

  test("extractFeatures runs one decode per row inside mapPartitions") {
    val media = MultimodalOps.mediaTable(spark, sf).repartition(4)
    val feats = MultimodalOps.extractFeatures(media)
    assert(feats.count() == media.count())
    val f = feats.filter($"media_id" === 0).head()
    val m = media.filter($"media_id" === 0).head()
    val (w, h, frames) = MediaCodec.decode(m.media_type, m.bytes)
    assert((f.width, f.height, f.n_frames) == (w, h, frames))
    assert(f.checksum == MediaCodec.checksum(m.bytes))
  }

  test("codec: PNG and WAV round-trip through the real JDK decoders") {
    // PNG: encode at known dims, decode via the container-sniffing codec
    val png = MediaCodec.encodePng(48, 20, seed = 7L)
    assert(MediaCodec.isPng(png))
    assert(MediaCodec.decode("image", png) == (48, 20, 1))
    // encoder is deterministic (stable bytes -> stable checksums)
    assert(MediaCodec.checksum(png) ==
      MediaCodec.checksum(MediaCodec.encodePng(48, 20, seed = 7L)))
    // WAV: javax.sound parses the real RIFF container; slots carry
    // (sampleRate, channels, frameLength)
    val wav = MediaCodec.encodeWav(frames = 300, sampleRate = 8000)
    assert(MediaCodec.isRiff(wav))
    assert(MediaCodec.decode("audio", wav) == (8000, 1, 300))
  }

  test("header-parse law: frames scale with payload size per modality") {
    val img = MediaCodec.decode("image", Array.fill(300)(65.toByte))
    val aud = MediaCodec.decode("audio", Array.fill(300)(65.toByte))
    val vid = MediaCodec.decode("video", Array.fill(300)(65.toByte))
    assert(img._3 == 1)
    assert(aud._3 == 1 + 300 / 256)
    assert(vid._3 == 1 + 300 / 64)
  }

  test("frame sampling explodes every k-th frame index") {
    val feats = Seq(
      MultimodalOps.MediaFeatures(1L, "video", 4, 4, 17, 0L, 0L),
      MultimodalOps.MediaFeatures(2L, "image", 4, 4, 1, 0L, 0L)).toDS()
    val sampled = MultimodalOps.sampleFrames(feats, every = 8)
    val idx = sampled.filter($"media_id" === 1)
      .select("frame_idx").as[Int].collect().sorted
    assert(idx.sameElements(Array(0, 8, 16)))
    assert(sampled.filter($"media_id" === 2).count() == 0) // single frame → skipped
  }

  test("resizeTo fits dims into the target box, preserving aspect ratio") {
    val feats = Seq(
      MultimodalOps.MediaFeatures(1L, "image", 448, 224, 1, 0L, 0L), // 2:1 landscape
      MultimodalOps.MediaFeatures(2L, "image", 100, 400, 1, 0L, 0L), // 1:4 portrait
      MultimodalOps.MediaFeatures(3L, "image", 0, 120, 1, 0L, 0L)    // degenerate
    ).toDS()
    val out = MultimodalOps.resizeTo(feats, 224).collect().sortBy(_.media_id)
    assert((out(0).width, out(0).height) == (224, 112))
    assert((out(1).width, out(1).height) == (56, 224))
    assert((out(2).width, out(2).height) == (0, 0))
    // never exceeds the box
    assert(out.forall(f => f.width <= 224 && f.height <= 224))
  }

  test("q122 aHash: resize-invariant for same content, distant otherwise") {
    // the perceptual-hash claim, exercised through REAL encode→decode:
    // the same gradient content (v) rendered at different dims must hash
    // within the q122 near-dup threshold; different content must not
    def hashOf(rows: Seq[MediaRow]): Map[Long, (Int, Int, Int, Int)] =
      MultimodalOps.aHashBlocks(rows.toDS())
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
        .toMap
    def hamming(a: (Int, Int, Int, Int), b: (Int, Int, Int, Int)): Int =
      Integer.bitCount(a._1 ^ b._1) + Integer.bitCount(a._2 ^ b._2) +
        Integer.bitCount(a._3 ^ b._3) + Integer.bitCount(a._4 ^ b._4)
    val rows = Seq(
      MediaRow(1L, "image", MediaCodec.encodePngGrad(200, 120, 77), "s", 0L),
      MediaRow(2L, "image", MediaCodec.encodePngGrad(400, 240, 77), "s", 0L), // 2× resize
      MediaRow(3L, "image", MediaCodec.encodePngGrad(172, 96, 77), "s", 0L),  // odd resize
      MediaRow(4L, "image", MediaCodec.encodePngGrad(200, 120, 13), "s", 0L)) // other content
    val h = hashOf(rows)
    assert(h.size == 4, "a PNG row failed to decode")
    assert(hamming(h(1L), h(2L)) <= 3, s"2x resize drifted ${hamming(h(1L), h(2L))} bits")
    assert(hamming(h(1L), h(3L)) <= 3, s"odd resize drifted ${hamming(h(1L), h(3L))} bits")
    assert(hamming(h(1L), h(4L)) > 10,
      s"different content landed ${hamming(h(1L), h(4L))} bits away")
    // non-PNG rows contribute no hash (header-parse stand-ins have no pixels)
    val mixed = rows :+ MediaRow(5L, "audio", "not a png".getBytes("UTF-8"), "s", 0L)
    assert(hashOf(mixed).size == 4)
  }

  test("q122: fixture pairs are complete under the pigeonhole block join") {
    // every emitted pair clears the threshold, and the candidate join loses
    // nothing: a brute-force all-pairs replay over the hashes agrees
    val rows = SparkEntry.queries("q122_image_ahash_neardup")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture has no image near-dups — law degenerated")
    rows.foreach { r =>
      assert(r.getLong(2) <= 3 && (r.getBoolean(3) == (r.getLong(2) == 0L)))
    }
    val hs = MultimodalOps.aHashBlocks(MultimodalOps.mediaTable(spark, sf))
      .collect().map(r =>
        (r.getLong(0), Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))))
    val brute = (for {
      (ia, ba) <- hs; (ib, bb) <- hs if ia < ib
      hd = ba.zip(bb).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      if hd <= 3
    } yield (ia, ib, hd.toLong)).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute,
      s"pigeonhole candidates diverge from brute force: missing=${brute -- got}")
  }

  test("q148: WAV codec is sample-lossless; features match a driver replay") {
    import graft.multimodal.MultimodalOps.MediaCodec
    val rnd = new scala.util.Random(53)
    // arbitrary byte content round-trips the real codec exactly
    val data = Array.fill(513)(rnd.nextInt(256).toByte)
    val back = MediaCodec.decodeWavSamples(MediaCodec.encodeWavData(data, 8000))
    assert(back.toSeq == data.map(_ & 0xFF).toSeq, "codec not sample-lossless")
    assert(MediaCodec.decodeWavSamples(
      MediaCodec.encodeWavData(Array.emptyByteArray, 8000)).isEmpty)
    // end-to-end rows equal the arithmetic law replayed on the driver
    val rows = SparkEntry.queries("q148_audio_features")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 1)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(docs.length == rows.size)
    docs.foreach { case (id, text) =>
      val xs = text.codePoints().toArray.map(cp => (cp * 2) % 256)
      val n = xs.length.toLong
      val sumAbs = xs.map(x => math.abs(x - 128).toLong).sum
      val zc = xs.indices.drop(1)
        .count(i => (xs(i - 1) < 128) != (xs(i) < 128)).toLong
      val want = (n, if (n > 0) sumAbs * 1000 / n else 0L, zc)
      assert(rows(id) == want, s"doc $id: ${rows(id)} != $want")
    }
    // the doubling law keeps zero-crossings non-vacuous on ASCII text
    assert(rows.values.count(_._3 > 0) > 0, "no doc crosses the midpoint")
  }

  test("q122 rep pigeonhole: hot-bucket sub-refinement is exact " +
      "(brute-force law, degenerate shared-block bucket)") {
    // 70+ distinct hashes ALL sharing block 0 (one degenerate bucket, the
    // shape the 10x stress found in the wild with m=9,347), with planted
    // hamming-2 neighbours in the other blocks. hotBucket=8 forces the
    // bucket through the sub-block refinement; hotBucket=2^20 keeps it on
    // the direct join — both must equal the brute-force pair set, which
    // is the exactness proof for the refinement lemma (<= 3 diffs outside
    // the shared block => >= 1 identical 12-bit sub-block).
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = scala.collection.mutable.LinkedHashSet.empty[(Int, Int, Int, Int)]
    while (base.size < 64)
      base += ((0, rnd.nextInt(65536), rnd.nextInt(65536), rnd.nextInt(65536)))
    // planted neighbours differ in ALL THREE non-shared blocks (hamming 3,
    // one bit each): block 0 is then the ONLY shared block, so these pairs
    // are recoverable EXCLUSIVELY through the hot bucket — a broken hot
    // path cannot be bailed out by an incidental cold (blk, bv) match,
    // which a b3-preserving plant would have allowed
    val planted = base.take(10).toSeq.map { case (b0, b1, b2, b3) =>
      (b0, b1 ^ 1, b2 ^ 2, b3 ^ 4)
    }
    val all = (base.toSeq ++ planted).distinct.zipWithIndex
      .map { case ((b0, b1, b2, b3), i) => (i.toLong, b0, b1, b2, b3) }
    val reps = all.toDF("media_id", "b0", "b1", "b2", "b3")
    val want = (for {
      a <- all; b <- all if a._1 < b._1
      d = Integer.bitCount(a._2 ^ b._2) + Integer.bitCount(a._3 ^ b._3) +
        Integer.bitCount(a._4 ^ b._4) + Integer.bitCount(a._5 ^ b._5)
      if d >= 1 && d <= 3
    } yield (a._1, b._1, d.toLong)).toSet
    assert(want.size >= 10, s"planted neighbours missing: ${want.size}")
    def run(h: Long) = MultimodalOps.nearDupRepPairs(reps, hotBucket = h)
      .as[(Long, Long, Long)].collect().toSet
    val hot = run(8L)
    val cold = run(1L << 20)
    assert(hot == want, s"hot path diverges: missing=${(want -- hot).take(3)} " +
      s"extra=${(hot -- want).take(3)}")
    assert(cold == want, "cold path diverges from brute force")
  }

  test("q122 on a thumbnail flood: rep candidates bounded by distinct " +
      "hashes, every flood pair emitted") {
    // every 9th doc (all images: doc_id % 3 == 0) gets the same 3-codepoint
    // prefix, so those PNGs share dims AND content — one maximally hot
    // (block, value) key whose true pair set is quadratic by construction.
    // The staged class table must collapse the flood to ONE rep, so the
    // pigeonhole join's candidate rows (sum of C(m,2) over rep buckets) stay
    // within 4 * C(k,2) for k distinct hashes; and the hot class's
    // C(m0,2) hamming-0 pairs must all reach the output.
    val dir = tempDir("graft_mm_flood")
    graft.Tables.documents(spark, sf)
      .withColumn("text", when(pmod(col("doc_id"), lit(9L)) === 0L,
        concat(lit("ZZ~"), col("text"))).otherwise(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    val d = dir.toString
    val blocks = MultimodalOps.aHashBlocks(MultimodalOps.mediaTable(spark, d))
      .collect().map(r =>
        r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toMap
    val classSizes = blocks.values.groupBy(identity).values.map(_.size.toLong)
    val k = classSizes.size.toLong
    val m0 = classSizes.max
    val flooded = blocks.keys.count(_ % 9 == 0)
    assert(m0 >= flooded && flooded >= 10, s"flood class m0=$m0 of $flooded")
    // reps as the ENGINE's staged class table chose them
    val reps = SparkEntry.queries("q201_image_classes")(spark, d)
      .select("class_rep").distinct().collect().map(_.getLong(0))
    val buckets = reps.toSeq.flatMap(r => blocks(r).zipWithIndex)
      .groupBy(identity).values.map(_.size.toLong)
    assert(!buckets.exists(_ > MultimodalOps.HotBucket),
      "a rep bucket is past HotBucket — the cold-only arithmetic below " +
        "no longer matches the join")
    val repCandRows = buckets.map(m => m * (m - 1) / 2).sum
    assert(repCandRows <= 2L * k * (k - 1),
      s"rep candidate rows $repCandRows exceed 4*C($k,2) — class collapse broken")
    val pairs = SparkEntry.queries("q122_image_ahash_neardup")(spark, d).count()
    assert(pairs >= m0 * (m0 - 1) / 2,
      s"$pairs pairs < C($m0,2): the flood class lost rows")
  }

  test("features stay small: binary column dropped before any wide op") {
    val media = MultimodalOps.mediaTable(spark, sf)
    val feats = MultimodalOps.extractFeatures(media)
    assert(!feats.schema.fieldNames.contains("bytes"))
    // grouped agg over features shuffles only the typed columns
    val byType = feats.groupBy($"media_type").agg(avg($"width").as("w"))
    assert(byType.count() == 3)
  }
}
