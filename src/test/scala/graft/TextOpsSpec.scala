package graft

import graft.operators._
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("exact dedup keeps min id and counts copies") {
    val docs = Seq(
      (1L, "hello  world"), (2L, "Hello world"), (3L, "different text"))
      .toDF("doc_id", "text")
    val out = DedupOps.exactDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // normalization lowercases + collapses whitespace → 1 and 2 collide
    assert(out(1L) === 2L)
    assert(out(3L) === 1L)
  }

  test("containment: embedded short doc scores overlap 1.0 where Jaccard is small") {
    // doc 2's text appears whole inside doc 1 — the unequal-length
    // near-dup Jaccard under-scores and the overlap coefficient catches.
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, long),
      (2L, "alpha beta gamma delta"),          // embedded prefix
      (3L, "unrelated words entirely here"))
      .toDF("doc_id", "text")
    val got = DedupOps.ngramContainmentPairs(docs, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val (overlap, containA) = got((1L, 2L))
    assert(overlap === 1.0)              // all of doc 2's shingles ⊂ doc 1
    assert(containA < 0.2)               // directed: small fraction of doc 1
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
    // cross-check vs the Jaccard path on the same pair: 3/19 shingles
    val jac = DedupOps.ngramJaccardPairs(docs, shingleN = 2)
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .collect().head.getDouble(2)
    assert(jac < 0.2 && overlap === 1.0)
  }

  test("charEntropy: constant text scores 0, uniform alphabet scores log2(k)") {
    val docs = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"))
      .toDF("doc_id", "text")
    val out = TextOps.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) === ((4L, 1L, 0.0)))
    assert(out(2L) === ((4L, 2L, 1.0)))
    assert(out(3L) === ((4L, 4L, 2.0)))
  }

  test("sortedNeighborPairs: near names pair within window, far ranks never") {
    val recs = Seq(
      (1L, "apple pie"), (2L, "apple pies"),        // adjacent in a-block
      (3L, "banana split"), (4L, "bananna split"),  // typo twins, b-block
      (5L, "cherry"),                               // singleton block
      (10L, "xx abcdef1"), (11L, "xx abcdef2"), (12L, "xx abcdef3"),
      (13L, "xx abcdef4"), (14L, "xx abcdef5"))     // 5 ranks in x-block
      .toDF("id", "name")
    val got = DedupOps.sortedNeighborPairs(recs, "name", "id",
        window = 3, minSim = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(got.contains((3L, 4L)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
    // rank distance 4 > window 3: (10,14) is outside the window even
    // though the keys are similar — the window bound, not the sim filter
    assert(!got.contains((10L, 14L)))
    assert(got.contains((10L, 11L))) // one-suffix-char twins, jw ≈ 0.96
  }

  test("identical docs get identical minhash signatures and collide in LSH") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "a completely unrelated sentence about spark engines"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minhashNearDups(docs).collect()
    assert(pairs.length === 1)
    val p = pairs.head
    assert(p.getLong(0) === 1L && p.getLong(1) === 2L)
    assert(p.getDouble(2) === 1.0)
  }

  test("shingle sets: an unrelated shh column on raw rows changes nothing") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely unrelated sentence about spark engines"))
      .toDF("doc_id", "text")
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val raw = DedupOps.shingleRows(docs, 3)
    val plain = sets(DedupOps.shingleSets(raw))
    assert(sets(DedupOps.shingleSets(raw.withColumn("shh", lit(7L)))) === plain)
    // the explicit pre-hashed form builds the same sets
    assert(sets(DedupOps.shingleSetsFromHashes(
      DedupOps.shingleHashRows(docs, 3))) === plain)
  }

  test("dedup index delete-then-compact == rebuild without the deleted docs") {
    // right-to-be-forgotten on the stored near-dup index: both tables are
    // keyed per-doc (signatures and shingle sets never mix docs), so the
    // generic annIndexDelete anti-join IS a full rebuild-without — the
    // same law as the ANN artifacts, spec-pinned here for the dedup tier
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 300)
    val del = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    val remaining = docs.join(del, Seq("doc_id"), "left_anti")
    val (bands, sets) = DedupOps.buildNearDupIndex(docs)
    val (rb, rs) = DedupOps.buildNearDupIndex(remaining)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val cb = graft.operators.SimilarityOps.annIndexDelete(bands, del, "doc_id")
    val cs = graft.operators.SimilarityOps.annIndexDelete(sets, del, "doc_id")
    assert(rows(cb) === rows(rb))
    assert(rows(cs) === rows(rs))
    // a delta probed against the compacted index behaves exactly as
    // against the rebuilt one — deleted docs can never pair again
    val delta = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 300 && col("doc_id") < 350)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(DedupOps.incrementalNearDupsIndexed(delta, cb, cs)
        .collect().map(key).toSet
      === DedupOps.incrementalNearDupsIndexed(delta, rb, rs)
        .collect().map(key).toSet)
  }

  test("incremental near-dup == batch restricted to pairs touching the delta") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 300)
    val split = 150L
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val batch = DedupOps.minhashNearDups(docs).collect().map(key)
      .filter { case (a, b, _) => a >= split || b >= split }.toSet
    val (bandIdx, shingleIdx) =
      DedupOps.buildBandIndex(docs.filter(col("doc_id") < split))
    val incr = DedupOps.incrementalNearDups(
      docs.filter(col("doc_id") >= split), bandIdx, shingleIdx)
      .collect().map(key).toSet
    assert(incr === batch)
    assert(incr.nonEmpty, "fixture must contain cross-batch near-dups")
    // the INDEXED form (bands + per-doc hash sets — no stored-shingle
    // re-aggregation) must produce the identical pair set and jaccards
    val (bandIdx2, setsIdx) =
      DedupOps.buildNearDupIndex(docs.filter(col("doc_id") < split))
    val indexed = DedupOps.incrementalNearDupsIndexed(
      docs.filter(col("doc_id") >= split), bandIdx2, setsIdx)
      .collect().map(key).toSet
    assert(indexed === batch)
    // the ONE-PASS writer must store exactly the frames the lazy builder
    // returns (it exists so writing both tables shingles the corpus once)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    DedupOps.writeNearDupIndex(docs.filter(col("doc_id") < split),
      _.write.parquet(s"$dir/bands"), _.write.parquet(s"$dir/sets"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(spark.read.parquet(s"$dir/bands")) === rows(bandIdx2))
    assert(rows(spark.read.parquet(s"$dir/sets")) === rows(setsIdx))
    // FILE-BACKED index + a 150-doc delta (~600 distinct touched buckets,
    // i.e. > one 500-literal chunk): the chunked-IN stored-side pushdown
    // (prunedByKeys) is on the execution path here, and the result must
    // still be identical — this is the exact read shape a streaming
    // micro-batch runs against the stored index.
    val filed = DedupOps.incrementalNearDupsIndexed(
      docs.filter(col("doc_id") >= split),
      spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sets"))
      .collect().map(key).toSet
    assert(filed === batch)
    // OVER-CAP fallback (corpus-sized delta): force the pushdown cap below
    // the delta's bucket/candidate counts so the bloom-prefiltered-scan +
    // semi-join + persisted-candidate-frame branch executes — the fixtures
    // never reach the real 20k cap, and an untested fallback is where a
    // silent wrong-result hides. The bloom prefilter admits false
    // positives only (the band join's equality rejects them), so the same
    // pair set and jaccards are required.
    // both FORCED branches must agree with the batch truth (the default
    // is the overCapBloomWorthIt cost gate, which at fixture scale picks
    // plain — so the bloom branch only ships tested if forced here)
    for (forced <- Seq(Some(true), Some(false), None)) {
      val overCap = DedupOps.incrementalNearDupsIndexed(
        docs.filter(col("doc_id") >= split),
        spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sets"),
        maxPushdownKeys = 2, overCapBloom = forced)
        .collect().map(key).toSet
      assert(overCap === batch, s"overCapBloom=$forced")
    }
    // the cost gate itself: a fixture-sized stored index is below the
    // bytes floor (bloom would be a measured wall-time loss) ...
    assert(!DedupOps.overCapBloomWorthIt(
      spark.read.parquet(s"$dir/bands"), docs.filter(col("doc_id") >= split)))
    // ... while a shuffle-dominant stored side with a small delta clears
    // it (spark.range stats are exact and zero-job: 8 bytes x count)
    assert(DedupOps.overCapBloomWorthIt(
      spark.range(1L << 26).toDF("bucket"), spark.range(1000).toDF("doc_id")))
  }

  test("a stored band index with a pre-r12 string bucket fails loudly") {
    // the pre-r12 format: md5-hex string buckets. Under ANSI-off the
    // long = string join would coerce and silently match nothing.
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val delta = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 100 && col("doc_id") < 120)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_old").toString
    DedupOps.writeNearDupIndex(docs,
      _.withColumn("bucket", md5(col("bucket").cast("string")))
        .write.parquet(s"$dir/bands"),
      _.write.parquet(s"$dir/sets"))
    val bands = spark.read.parquet(s"$dir/bands")
    assert(bands.schema("bucket").dataType.simpleString === "string")
    val indexed = intercept[IllegalArgumentException](
      DedupOps.incrementalNearDupsIndexed(delta, bands,
        spark.read.parquet(s"$dir/sets")))
    assert(indexed.getMessage.contains(
      "rebuild stored band index (r12 bucket format: long)"))
    val (_, shingles) = DedupOps.buildBandIndex(docs)
    val raw = intercept[IllegalArgumentException](
      DedupOps.incrementalNearDups(delta, bands, shingles))
    assert(raw.getMessage.contains(
      "rebuild stored band index (r12 bucket format: long)"))
  }

  test("ngram repetition: looped phrase scores high, varied text low") {
    val docs = Seq(
      (1L, "a b a b a b"),            // 2-grams: ab,ba,ab,ba,ab → 5 tot / 2 dist
      (2L, "one two three four five") // all distinct
    ).toDF("doc_id", "text")
    val m = TextOps.ngramRepetition(docs, n = 2).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(m(1L) === ((5L, 2L, 0.6, 0.6)))
    assert(m(2L) === ((4L, 4L, 0.0, 0.25)))
  }

  test("CDC chunking is shift-robust where fixed-stride chunking is not") {
    // doc 2 = doc 1 with ONE word prepended. Fixed 8-word chunks all
    // shift and share nothing; CDC boundaries re-sync at the first
    // content-derived cut point, so the docs must share chunk hashes —
    // i.e. both docs report dup_fraction > 0 under CDC. Long enough that
    // several expected-8-word chunks exist.
    val base = (1 to 120).map(i => s"w${i % 37}x$i").mkString(" ")
    val docs = Seq((1L, base), (2L, s"inserted $base")).toDF("doc_id", "text")
    val cdc = DedupOps.cdcChunkStats(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(cdc(1L) > 0.0, "original doc shares no CDC chunks with its shift")
    assert(cdc(2L) > 0.0, "shifted doc shares no CDC chunks with original")
    val fixed = DedupOps.chunkDupStats(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(fixed(1L) === 0.0 && fixed(2L) === 0.0,
      "fixed-stride chunking unexpectedly survived the one-word shift")
    // identical docs: every chunk duplicated under both schemes
    val twins = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val cdcTwin = DedupOps.cdcChunkStats(twins).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(cdcTwin(1L) === 1.0 && cdcTwin(2L) === 1.0)
  }

  test("chunk dedup releases its chunk-grain cache, keeps only the stats") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h q r s t u v w x")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.size
    val stats = DedupOps.chunkDupStats(docs)
    // only the materialized doc-grain stats frame may remain cached — the
    // chunk-grain projection must have been unpersisted before returning
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.size - before}")
    stats.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("chunk dedup: shared 8-word passage flagged in both docs, unique not") {
    val passage = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, s"$passage u1 u2 u3 u4 u5 u6 u7 u8"),  // chunk0 shared, chunk1 unique
      (2L, s"$passage v1 v2 v3 v4 v5 v6 v7 v8"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9")          // 1 chunk, unique (tail dropped)
    ).toDF("doc_id", "text")
    val m = DedupOps.chunkDupStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(m(1L) === ((2L, 1L, 0.5)))
    assert(m(2L) === ((2L, 1L, 0.5)))
    assert(m(3L) === ((1L, 0L, 0.0)))
  }

  test("decontaminate drops only train docs colliding with a test doc") {
    val leaked = "alpha beta gamma delta epsilon zeta eta theta " * 3
    val docs = Seq(
      (1L, leaked, "train"),                        // near-dup of the test doc
      (2L, "unrelated clean training text about planets and orbits", "train"),
      (3L, leaked + " iota", "test"),
      (4L, "some validation text", "val")
    ).toDF("doc_id", "text", "split")
    val kept = DedupOps.decontaminate(docs, "split")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L),
      s"leaked train doc must be dropped, clean one kept: $kept")
  }

  test("simhash is identical for identical docs, different for unrelated") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omicron sigma tau upsilon phi"))
      .toDF("doc_id", "text")
    val h = DedupOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
    assert(h.values.forall(v => v >= 0 && v < 65536))
  }

  test("brute-force knn: neighbors ordered, self excluded, k respected") {
    val e = Tables.embeddings(spark, sf)
    val knn = SimilarityOps.bruteForceKnn(e, e.filter($"vec_id" < 3), 5)
    val rows = knn.collect()
    assert(rows.length === 15)
    assert(rows.forall(r => r.getLong(0) !== r.getLong(1)))
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { g =>
      val cos = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cos.sameElements(cos.sorted.reverse))
    }
  }

  test("lsh knn results are a subset of brute-force candidates with exact cosines") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5)
    val bf = SimilarityOps.bruteForceKnn(e, q, 1000)
      .select("qid", "nid", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = SimilarityOps.lshKnn(e, q, 5).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bf.contains(key) && bf(key) === r.getDouble(2))
    }
    // the uncapped branch (no hot-bucket count, no corpus-side cache)
    // must return the same neighbors as the default capped branch when
    // no bucket is actually over-full
    val un = SimilarityOps.lshKnn(e, q, 5, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(un === lsh.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("BMP decode: header, stride padding and bottom-up rows parsed right") {
    // byte-level fixture check, independent of the Spark plumbing
    val bytes = MultimodalOps.bmpBytes(3L) // w=4+3%5=7 → stride 24 (3 pad), h=4
    assert(bytes(0) === 'B'.toByte && bytes(1) === 'M'.toByte)
    assert(bytes.length === 54 + 24 * 4)
    val docs = Tables.documents(spark, sf).limit(50)
    val decoded = MultimodalOps.decodeBmp(MultimodalOps.encodeBmp(docs))
    assert(decoded.schema === MultimodalOps.bmpStatsSchema)
    val rows = decoded.collect()
    assert(rows.length === 50)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((4 + id % 5).toInt, (4 + id % 3).toInt)
      assert(r.getInt(2) === w && r.getInt(3) === h)
      // top-left pixel = pixel k=0, which the encoder stores in the LAST
      // row of the file — a row-order bug would surface here
      assert(r.getInt(5) === ((id * 7) % 256).toInt)
      assert(r.getInt(6) === ((id * 11) % 256).toInt)
      assert(r.getInt(7) === ((id * 3) % 256).toInt)
      // per-channel mean replayed from the formula (pad bytes excluded)
      val n = w * h
      val expB = BigDecimal((0 until n).map(k => (id * 7 + k * 13) % 256).sum
        .toDouble / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(8) === expB, s"mean_b mismatch for doc $id")
    }
    // a top-down (negative height) BMP decodes to the same stats
    val td = {
      val b = MultimodalOps.bmpBytes(3L).clone()
      val bb = java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val h = bb.getInt(22)
      bb.putInt(22, -h)
      // flip row storage order so the image content is unchanged
      val stride = 24
      val rowsBytes = (0 until h).map(s =>
        b.slice(54 + s * stride, 54 + (s + 1) * stride))
      rowsBytes.reverse.zipWithIndex.foreach { case (row, s) =>
        System.arraycopy(row, 0, b, 54 + s * stride, stride)
      }
      b
    }
    import spark.implicits._
    val one = MultimodalOps.decodeBmp(
      Seq((3L, td)).toDF("doc_id", "payload")).collect().head
    val ref = rows.find(_.getLong(0) === 3L)
    // doc 3 may not be in the 50-doc slice; decode the bottom-up twin direct
    val bu = MultimodalOps.decodeBmp(
      Seq((3L, MultimodalOps.bmpBytes(3L))).toDF("doc_id", "payload"))
      .collect().head
    assert(one.toString === bu.toString, "top-down twin must decode equal")
    assert(ref.forall(_.toString === bu.toString))
  }

  test("PNG decode: inflate + all five filter inverses, CRC and truncation fail loudly") {
    import spark.implicits._
    // byte-level fixture: real signature, chunk layout, deflated IDAT
    val bytes = MultimodalOps.pngBytes(5L) // w=4+5%5=4, h=4+5%3=6 → filters 0..4,0
    assert((bytes(0) & 0xff) === 0x89 && bytes(1) === 'P'.toByte)
    // decode matches the BMP closed forms (same channels, RGB order);
    // h=6 docs cycle through every filter type including Paeth
    val docs = Tables.documents(spark, sf).limit(60)
    val decoded = MultimodalOps.decodePng(MultimodalOps.encodePng(docs))
    assert(decoded.schema === MultimodalOps.pngStatsSchema)
    val rows = decoded.collect()
    assert(rows.length === 60)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((4 + id % 5).toInt, (4 + id % 3).toInt)
      assert(r.getInt(1) === w && r.getInt(2) === h)
      assert(r.getInt(3) === 8 && r.getInt(4) === 2)
      assert(r.getInt(5) === h * (1 + 3 * w))
      // top-left pixel k=0, RGB order (PNG) vs BGR (BMP)
      assert(r.getInt(6) === ((id * 3) % 256).toInt)
      assert(r.getInt(7) === ((id * 11) % 256).toInt)
      assert(r.getInt(8) === ((id * 7) % 256).toInt)
    }
    // grayscale + RGBA (bpp 1 and 4 filter geometries): closed-form
    // stats AND exact ImageIO parity — PNG is lossless, so every decoded
    // channel must match the JDK's independent decoder bit for bit
    for (variant <- Seq("gray", "rgba")) {
      val dec = variant match {
        case "gray" => MultimodalOps.decodePng(MultimodalOps.encodePngGray(docs))
        case _ => MultimodalOps.decodePng(MultimodalOps.encodePngRgba(docs))
      }
      dec.collect().foreach { r =>
        val id = r.getLong(0)
        assert(r.getInt(4) === (if (variant == "gray") 0 else 6))
        if (variant == "gray") {
          val v = ((id * 5) % 256).toInt
          assert(r.getInt(6) === v && r.getInt(7) === v && r.getInt(8) === v)
        } else {
          assert(r.getInt(6) === ((id * 3) % 256).toInt)
          assert(r.getInt(7) === ((id * 11) % 256).toInt)
          assert(r.getInt(8) === ((id * 7) % 256).toInt)
        }
      }
      for (id <- 0L to 10L) {
        val pb = if (variant == "gray") MultimodalOps.pngBytesGray(id)
                 else MultimodalOps.pngBytesRgba(id)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(pb))
        assert(img != null, s"ImageIO rejected PNG $variant doc $id")
        val (w, h) = ((4 + id % 5).toInt, (4 + id % 3).toInt)
        assert(img.getWidth === w && img.getHeight === h)
        for (y <- 0 until h; x <- 0 until w) {
          val k = y * w + x
          if (variant == "gray") {
            // getRGB on TYPE_BYTE_GRAY applies a gray→sRGB transform;
            // the raw raster sample is the decoded channel
            assert(img.getRaster.getSample(x, y, 0) ===
              ((id * 5 + k * 23) % 256).toInt, s"gray doc $id px($x,$y)")
          } else {
            val argb = img.getRGB(x, y)
            assert(((argb >> 16) & 0xff) === ((id * 3 + k * 19) % 256).toInt)
            assert(((argb >> 8) & 0xff) === ((id * 11 + k * 17) % 256).toInt)
            assert((argb & 0xff) === ((id * 7 + k * 13) % 256).toInt)
            assert(((argb >>> 24) & 0xff) === ((id * 13 + k * 7) % 256).toInt,
              s"alpha doc $id px($x,$y)")
          }
        }
      }
    }
    // corrupt one IDAT byte → the CRC check names the chunk and doc
    val corrupt = bytes.clone()
    corrupt(45) = (corrupt(45) ^ 0x1).toByte // inside IHDR/IDAT body
    val eCrc = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodePng(
        Seq((5L, corrupt)).toDF("doc_id", "payload")).collect()
    }
    assert(eCrc.getMessage.contains("CRC") || eCrc.getCause != null)
    // truncated payload → loud failure, not an index error deep in a loop
    val eTrunc = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodePng(
        Seq((5L, bytes.take(30))).toDF("doc_id", "payload")).collect()
    }
    assert(eTrunc.getMessage.toLowerCase.contains("truncated") ||
      eTrunc.getCause != null)
  }

  test("JPEG decode: baseline Huffman+DPCM+IDCT+YCbCr, closed forms, ImageIO parity") {
    import spark.implicits._
    // the quantization-exact mosaic round-trips bit-deterministically:
    // decode must reproduce the per-block closed forms the oracle replays
    val docs = Tables.documents(spark, sf).limit(60)
    val decoded = MultimodalOps.decodeJpeg(MultimodalOps.encodeJpeg(docs))
    assert(decoded.schema === MultimodalOps.jpegStatsSchema)
    val rows = decoded.collect()
    assert(rows.length === 60)
    def clamp(x: Double): Int =
      math.max(0, math.min(255, math.floor(x + 0.5).toInt))
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = MultimodalOps.jpegDims(id)
      val nb = (w / 8) * (h / 8)
      assert(r.getInt(1) === w && r.getInt(2) === h && r.getInt(3) === nb)
      val rgb = (0 until nb).map { b =>
        val (y, cb, cr) = MultimodalOps.jpegBlockYcc(id, b)
        (clamp(y + 1.402 * (cr - 128)),
          clamp(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
          clamp(y + 1.772 * (cb - 128)))
      }
      // top-left pixel lives in block 0; means over equal-sized blocks
      assert(r.getInt(4) === rgb.head._1 && r.getInt(5) === rgb.head._2 &&
        r.getInt(6) === rgb.head._3)
      assert(math.abs(r.getDouble(7) - rgb.map(_._1).sum.toDouble / nb) < 1e-6)
      assert(math.abs(r.getDouble(8) - rgb.map(_._2).sum.toDouble / nb) < 1e-6)
      assert(math.abs(r.getDouble(9) - rgb.map(_._3).sum.toDouble / nb) < 1e-6)
    }
    // independent-decoder parity: the JDK's ImageIO (libjpeg-backed) must
    // read the same files — DC-only mosaics AND the nonzero-AC variant
    // that drives Huffman AC/ZRL/extend and the general 64-term IDCT.
    // Tolerance ±3: ImageIO's fixed-point IDCT + integer YCbCr differ from
    // the float reference by at most a couple of counts per channel.
    for (id <- 0L to 12L;
         variant <- Seq("dc", "ac", "420", "rst", "acrst", "gray")) {
      val bytes = variant match {
        case "dc" => MultimodalOps.jpegBytes(id)
        case "ac" => MultimodalOps.jpegBytesWithAc(id)
        case "420" => MultimodalOps.jpegBytes420(id)
        case "rst" => MultimodalOps.jpegBytesRst(id)
        case "acrst" => MultimodalOps.jpegBytesAcRst(id)
        case _ => MultimodalOps.jpegBytesGray(id)
      }
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected doc $id variant=$variant")
      val (w, h, rr, gg, bb) = MultimodalOps.decodeJpegPixels(id, bytes)
      assert(img.getWidth === w && img.getHeight === h)
      if (variant == "gray") {
        // getRGB on TYPE_BYTE_GRAY applies a gray→sRGB color transform;
        // compare the raw raster sample (the decoded Y) instead
        for (y <- 0 until h; x <- 0 until w) {
          val i = y * w + x
          assert(rr(i) === gg(i) && gg(i) === bb(i),
            s"gray doc $id px($x,$y) channels differ")
          val dy = math.abs(img.getRaster.getSample(x, y, 0) - rr(i))
          assert(dy <= 3,
            s"doc $id variant=gray px($x,$y): ImageIO vs graft Δ=$dy")
        }
      } else for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y)
        val i = y * w + x
        val dr = math.abs(((argb >> 16) & 0xff) - rr(i))
        val dg = math.abs(((argb >> 8) & 0xff) - gg(i))
        val db = math.abs((argb & 0xff) - bb(i))
        assert(dr <= 3 && dg <= 3 && db <= 3,
          s"doc $id variant=$variant px($x,$y): ImageIO vs graft " +
            s"Δ=($dr,$dg,$db)")
      }
    }
    // restart markers leave the pixels exactly equal to the no-DRI file
    // (both sides reset DPCM), and a tampered marker index fails loudly
    for (id <- 0L to 12L) {
      val (wP, hP, rP, gP, bP) =
        MultimodalOps.decodeJpegPixels(id, MultimodalOps.jpegBytes(id))
      val (wR, hR, rR, gR, bR) =
        MultimodalOps.decodeJpegPixels(id, MultimodalOps.jpegBytesRst(id))
      assert(wP === wR && hP === hR)
      assert(rP.sameElements(rR) && gP.sameElements(gR) &&
        bP.sameElements(bR), s"RST pixels diverge: doc $id")
    }
    locally {
      // doc 5 spans 6 MCUs → markers RST0 (MCU 2) and RST1 (MCU 4);
      // flipping RST0→RST3 must fail as out-of-order, by doc id
      val rstBytes = MultimodalOps.jpegBytesRst(5L)
      val sosIdx = rstBytes.indices.find(i =>
        (rstBytes(i) & 0xff) == 0xff && (rstBytes(i + 1) & 0xff) == 0xda).get
      val rstIdx = (sosIdx until rstBytes.length - 1).find(i =>
        (rstBytes(i) & 0xff) == 0xff && (rstBytes(i + 1) & 0xff) == 0xd0).get
      val tampered = rstBytes.clone(); tampered(rstIdx + 1) = 0xd3.toByte
      val eRst = intercept[IllegalArgumentException] {
        MultimodalOps.decodeJpegPixels(5L, tampered)
      }
      assert(eRst.getMessage.contains("out of order") &&
        eRst.getMessage.contains("doc 5"))
    }
    // 4:2:0 closed forms: luma per 8×8 block raster, constant chroma
    val rows420 = MultimodalOps.decodeJpeg(
      MultimodalOps.encodeJpeg420(docs)).collect()
    assert(rows420.length === 60)
    rows420.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = MultimodalOps.jpegDims420(id)
      val (cb, cr) = MultimodalOps.jpegChroma420(id)
      val nb = (w / 8) * (h / 8)
      assert(r.getInt(1) === w && r.getInt(2) === h && r.getInt(3) === nb)
      val rgb = (0 until nb).map { lb =>
        val y = (76 + 2 * ((id * 7 + lb * 13) % 53)).toInt
        (clamp(y + 1.402 * (cr - 128)),
          clamp(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
          clamp(y + 1.772 * (cb - 128)))
      }
      assert(r.getInt(4) === rgb.head._1 && r.getInt(5) === rgb.head._2 &&
        r.getInt(6) === rgb.head._3)
      assert(math.abs(r.getDouble(7) - rgb.map(_._1).sum.toDouble / nb) < 1e-6)
      assert(math.abs(r.getDouble(8) - rgb.map(_._2).sum.toDouble / nb) < 1e-6)
      assert(math.abs(r.getDouble(9) - rgb.map(_._3).sum.toDouble / nb) < 1e-6)
    }
    // third-party-encoder realism: files written by the JDK's OWN JPEG
    // encoder (its choice of tables, subsampling, and dimension padding
    // — nothing shared with our writer) must decode to what the JDK
    // itself reads back. Gray pixels keep Cb=Cr constant at 128 so the
    // encoder's chroma downsample and our replication upsample agree
    // exactly; 50×34 forces partial-MCU crop handling.
    for ((w, h, q) <- Seq((48, 32, 0.9f), (50, 34, 0.7f))) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 4 + y * 2) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val baos = new java.io.ByteArrayOutputStream
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(
        javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(q)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      val bytes = baos.toByteArray
      val (dw, dh, rr, gg, bb) = MultimodalOps.decodeJpegPixels(99L, bytes)
      assert(dw === w && dh === h)
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until h; x <- 0 until w) {
        val argb = back.getRGB(x, y); val i = y * w + x
        val dr = math.abs(((argb >> 16) & 0xff) - rr(i))
        val dg = math.abs(((argb >> 8) & 0xff) - gg(i))
        val db = math.abs((argb & 0xff) - bb(i))
        assert(dr <= 3 && dg <= 3 && db <= 3,
          s"JDK-encoded ${w}x$h q=$q px($x,$y): Δ=($dr,$dg,$db)")
      }
    }
    // grayscale closed form: R=G=B = the per-block luma verbatim
    val rowsGray = MultimodalOps.decodeJpeg(
      MultimodalOps.encodeJpegGray(docs)).collect()
    assert(rowsGray.length === 60)
    rowsGray.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = MultimodalOps.jpegDims(id)
      val nb = (w / 8) * (h / 8)
      val ys = (0 until nb).map(b => (76 + 2 * ((id * 7 + b * 13) % 53)).toInt)
      assert(r.getInt(1) === w && r.getInt(2) === h && r.getInt(3) === nb)
      assert(r.getInt(4) === ys.head && r.getInt(5) === ys.head &&
        r.getInt(6) === ys.head)
      val m = ys.sum.toDouble / nb
      assert(math.abs(r.getDouble(7) - m) < 1e-6)
      assert(math.abs(r.getDouble(8) - m) < 1e-6)
      assert(math.abs(r.getDouble(9) - m) < 1e-6)
    }
    // JPEG aHash: a single-block image IS its own mean (hash 0); the
    // multi-block mosaics must set at least one bit somewhere
    val jh = MultimodalOps.aHashJpeg(MultimodalOps.encodeJpeg(docs)).collect()
    assert(jh.length === 60)
    jh.foreach { r =>
      assert(r.getInt(3) === (r.getInt(1) / 8) * (r.getInt(2) / 8))
      if (r.getInt(3) === 1) assert(r.getLong(4) === 0L,
        s"single-block doc ${r.getLong(0)} must hash to 0")
    }
    assert(jh.exists(_.getLong(4) != 0L), "mosaics must set bits")
    // corrupt structure fails loudly by doc id
    val good = MultimodalOps.jpegBytes(7L)
    val noSoi = good.clone(); noSoi(1) = 0x00
    val e1 = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeJpeg(
        Seq((7L, noSoi)).toDF("doc_id", "payload")).collect()
    }
    assert(e1.getMessage.contains("doc 7") || e1.getCause != null)
    val e2 = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeJpeg(
        Seq((7L, good.take(good.length / 3))).toDF("doc_id", "payload"))
        .collect()
    }
    assert(e2.getMessage.contains("doc 7") || e2.getCause != null)
    // progressive SOF (FFC2) is rejected by marker, not mis-decoded
    val prog = good.clone()
    val sof = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    val e3 = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeJpeg(
        Seq((7L, prog)).toDF("doc_id", "payload")).collect()
    }
    assert(e3.getMessage.contains("doc 7") || e3.getCause != null)
  }

  test("WARC: gzip-member framing, exact body octets, truncation fails loudly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(10)
    val warc = graft.operators.WarcOps.encodeWarc(docs).collect()
    assert(warc.length === 10)
    // each payload holds ≥ 2 gzip members (magic 1f 8b appears twice)
    warc.foreach { r =>
      val b = r.getAs[Array[Byte]](1)
      val magics = b.indices.count(i => i + 1 < b.length &&
        (b(i) & 0xff) == 0x1f && (b(i + 1) & 0xff) == 0x8b)
      assert(magics >= 2, s"expected >=2 gzip members, saw $magics")
    }
    // parse emits exactly (response, metadata) per doc with octet lengths
    val recs = graft.operators.WarcOps.decodeWarc(
      graft.operators.WarcOps.encodeWarc(docs)).collect()
    assert(recs.length === 20)
    assert(recs.count(_.getString(2) == "response") === 10)
    // a truncated payload must fail with the doc id, not a stream error
    val cut = warc.head.getAs[Array[Byte]](1)
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.WarcOps.decodeWarc(
        Seq((warc.head.getLong(0), cut.take(cut.length / 2)))
          .toDF("doc_id", "payload")).collect()
    }
    assert(e.getCause != null)
  }

  test("binaryFile ingest: files on disk decode identically to the direct path") {
    // the production loop: media files in a directory → binaryFile source
    // → decodePng; must equal encodePng |> decodePng byte for byte
    val dir = java.nio.file.Files.createTempDirectory("graft_png_files")
    val ids = (0L until 20L)
    ids.foreach { id =>
      java.nio.file.Files.write(dir.resolve(s"$id.png"),
        MultimodalOps.pngBytes(id))
    }
    // a non-matching file must be pruned by the glob at listing time
    java.nio.file.Files.write(dir.resolve("readme.txt"),
      "not a png".getBytes("UTF-8"))
    val fromFiles = MultimodalOps.decodePng(
      MultimodalOps.readPayloadFiles(spark, dir.toString))
      .collect().map(_.toString).sorted
    import spark.implicits._
    val direct = MultimodalOps.decodePng(
      MultimodalOps.encodePng(ids.toDF("doc_id")))
      .collect().map(_.toString).sorted
    assert(fromFiles.length === 20)
    assert(fromFiles.toSeq === direct.toSeq)
  }

  test("aHash: image-order bit packing, top-down twin equal, banding recall 1") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(100)
    val hashes = MultimodalOps.aHash(MultimodalOps.encodeBmp(docs)).collect()
    assert(hashes.length === 100)
    // closed-form replay per doc (luma·n > Σluma, LSB-first image order)
    hashes.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((4 + id % 5).toInt, (4 + id % 3).toInt)
      val n = w * h
      val luma = (0 until n).map(k =>
        (id * 7 + k * 13) % 256 + (id * 11 + k * 17) % 256 +
          (id * 3 + k * 19) % 256)
      val total = luma.sum
      val exp = luma.zipWithIndex.foldLeft(0L) { case (acc, (l, k)) =>
        if (l * n > total) acc | (1L << k) else acc
      }
      assert(r.getLong(4) === exp, s"ahash mismatch for doc $id")
      assert(r.getInt(1) === w && r.getInt(2) === h && r.getInt(3) === n)
    }
    // a top-down (negative height) twin hashes identically — the decoder
    // must undo the storage order, not assume it
    val td = {
      val b = MultimodalOps.bmpBytes(3L).clone()
      val bb = java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val h = bb.getInt(22)
      bb.putInt(22, -h)
      val stride = 24
      val rowsBytes = (0 until h).map(s =>
        b.slice(54 + s * stride, 54 + (s + 1) * stride))
      rowsBytes.reverse.zipWithIndex.foreach { case (row, s) =>
        System.arraycopy(row, 0, b, 54 + s * stride, stride)
      }
      b
    }
    val tdHash = MultimodalOps.aHash(
      Seq((3L, td)).toDF("doc_id", "payload")).collect().head
    val buHash = MultimodalOps.aHash(
      Seq((3L, MultimodalOps.bmpBytes(3L))).toDF("doc_id", "payload"))
      .collect().head
    assert(tdHash.toString === buHash.toString)
    // banded near-dup pairs == brute-force pairs at maxDist < nBands
    val hdf = MultimodalOps.aHash(MultimodalOps.encodeBmp(docs))
    val banded = MultimodalOps.aHashNearDups(hdf, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hs = hashes.map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(4)))
    val brute = (for {
      (a, wa, ha, xa) <- hs; (b, wb, hb, xb) <- hs
      if a < b && wa == wb && ha == hb &&
        java.lang.Long.bitCount(xa ^ xb) <= 2
    } yield (a, b)).toSet
    assert(banded === brute)
  }

  test("WAV decode: RIFF header fields, int16 frames, integer features") {
    // byte-level fixture check, independent of the Spark plumbing
    val bytes = MultimodalOps.wavBytes(5L) // n = 32 + 5%17 = 37 samples
    assert(new String(bytes.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") === "WAVE")
    assert(bytes.length === 44 + 2 * 37)
    val docs = Tables.documents(spark, sf).limit(50)
    val decoded = MultimodalOps.decodeWav(MultimodalOps.encodeWav(docs))
    assert(decoded.schema === MultimodalOps.wavStatsSchema)
    val rows = decoded.collect()
    assert(rows.length === 50)
    rows.foreach { r =>
      val id = r.getLong(0)
      val n = (32 + id % 17).toInt
      val s = (0 until n).map(k => (((id * 31 + k * 57) % 4096) - 2048).toInt)
      assert(r.getInt(1) === 44 + 2 * n)
      assert(r.getInt(2) === 8000 && r.getInt(3) === n)
      assert(r.getInt(4) === s.head, s"first_sample mismatch for doc $id")
      assert(r.getInt(5) === s.map(math.abs).max)
      assert(r.getLong(6) === s.map(_.toLong).sum)
      assert(r.getLong(7) === s.map(x => x.toLong * x).sum)
      val zc = s.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
      assert(r.getInt(8) === zc, s"zero_crossings mismatch for doc $id")
    }
    // framed energy tiles the waveform exactly: Σ frame_energy == energy,
    // Σ frame_n == n_samples, last frame partial
    val frames = MultimodalOps.wavFrameEnergy(MultimodalOps.encodeWav(docs))
      .collect().groupBy(_.getLong(0))
    rows.foreach { r =>
      val fs = frames(r.getLong(0))
      assert(fs.map(_.getLong(3)).sum === r.getLong(7))
      assert(fs.map(_.getInt(2)).sum === r.getInt(3))
      assert(fs.map(_.getInt(1)).sorted.toSeq === (0 until fs.length))
    }
    // fingerprint: bit f ≡ frame f beats the per-sample mean energy
    // (cross-multiplied with the frame length), replayed from the frames
    val fps = MultimodalOps.wavFingerprint(MultimodalOps.encodeWav(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    frames.foreach { case (id, fs) =>
      val total = fs.map(_.getLong(3)).sum
      val n = fs.map(_.getInt(2)).sum
      val expect = fs.sortBy(_.getInt(1)).zipWithIndex.map { case (f, i) =>
        if (f.getLong(3) * n > total * f.getInt(2)) 1L << i else 0L
      }.sum
      val got = fps(id)
      assert(got.getInt(1) === n && got.getInt(2) === fs.length)
      assert(got.getLong(3) === expect, s"fingerprint mismatch doc $id")
    }
    assert(fps.values.exists(_.getLong(3) != 0L), "fixture must set bits")
    // a corrupted magic or truncated payload fails loudly, by doc id
    import spark.implicits._
    val bad = bytes.clone(); bad(0) = 'X'.toByte
    val ex = intercept[org.apache.spark.SparkException] {
      MultimodalOps.decodeWav(Seq((5L, bad)).toDF("doc_id", "payload"))
        .collect()
    }
    assert(ex.getMessage.contains("RIFF") || ex.getCause != null)
    // a LIST/INFO chunk between fmt and data (what real encoders emit)
    // decodes identically — the parser must WALK chunks, not assume
    // offsets; odd-sized chunks are word-aligned with a pad byte
    val withList = {
      val info = "INFOISFT".getBytes("US-ASCII") :+ 0.toByte // odd size 9
      val buf = java.nio.ByteBuffer
        .allocate(bytes.length + 8 + info.length + 1)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(bytes, 0, 36) // RIFF header + fmt chunk
      buf.put("LIST".getBytes("US-ASCII")).putInt(info.length).put(info)
      buf.put(0.toByte) // word-align pad for the odd chunk size
      buf.put(bytes, 36, bytes.length - 36) // data chunk
      val out = buf.array()
      // fix the RIFF size field
      java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(4, out.length - 8)
      out
    }
    val plain = MultimodalOps.decodeWav(
      Seq((5L, bytes)).toDF("doc_id", "payload")).collect().head
    val listed = MultimodalOps.decodeWav(
      Seq((5L, withList)).toDF("doc_id", "payload")).collect().head
    // all fields except n_bytes (the container grew) must match
    assert((1 until plain.length).filter(_ != 1)
      .forall(i => plain.get(i) == listed.get(i)),
      s"plain=$plain listed=$listed")
    val fplain = MultimodalOps.wavFrameEnergy(
      Seq((5L, bytes)).toDF("doc_id", "payload")).collect().map(_.toString)
    val flist = MultimodalOps.wavFrameEnergy(
      Seq((5L, withList)).toDF("doc_id", "payload")).collect().map(_.toString)
    assert(fplain.toSeq === flist.toSeq)
  }

  test("duplicated spans: maximal cross-doc runs, any alignment, no self-dup") {
    import spark.implicits._
    // A and B share the 4-word passage "a b c d" at DIFFERENT offsets
    // (0 vs 2) — fixed chunking misses this; the gram lattice must merge
    // the two overlapping 3-grams into one maximal span per doc.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z"),
      (3L, "q r s"),
      (4L, "m n o m n o m n o")). // within-doc repeat only — NOT a dup
      toDF("doc_id", "text")
    val spans = DedupOps.duplicatedSpans(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans === Set((1L, 0, 4), (2L, 2, 4)))
    // minDocs honored: at 3 distinct docs required, nothing survives
    assert(DedupOps.duplicatedSpans(docs, minDocs = 3).count() === 0)
    // a doc shorter than n emits nothing and doesn't crash
    assert(DedupOps.duplicatedSpans(Seq((9L, "one two")).toDF("doc_id", "text"))
      .count() === 0)
  }

  test("incremental chunk dedup equals the batch pass restricted to the delta") {
    val docs = Tables.documents(spark, sf)
    val batch = DedupOps.chunkDupStats(docs)
      .filter(col("doc_id") >= 400)
      .collect().map(_.toString).sorted.toSeq
    val idx = DedupOps.buildChunkIndex(docs.filter(col("doc_id") < 400))
    val incr = DedupOps.incrementalChunkDupStats(
        docs.filter(col("doc_id") >= 400), idx)
      .collect().map(_.toString).sorted.toSeq
    assert(incr === batch)
    // over the pushdown cap the stored side is scanned, result unchanged
    val over = DedupOps.incrementalChunkDupStats(
        docs.filter(col("doc_id") >= 400), idx, maxPushdownKeys = 1)
      .collect().map(_.toString).sorted.toSeq
    assert(over === batch)
  }

  test("incremental span dedup equals the batch pass restricted to the delta") {
    val docs = Tables.documents(spark, sf)
    val batch = DedupOps.duplicatedSpans(docs)
      .filter(col("doc_id") >= 400)
      .collect().map(_.toString).sorted.toSeq
    val idx = DedupOps.buildSpanIndex(docs.filter(col("doc_id") < 400))
    val incr = DedupOps.incrementalDuplicatedSpans(
        docs.filter(col("doc_id") >= 400), idx)
      .collect().map(_.toString).sorted.toSeq
    assert(incr === batch)
    assert(incr.nonEmpty, "fixture must contain delta spans")
    val over = DedupOps.incrementalDuplicatedSpans(
        docs.filter(col("doc_id") >= 400), idx, maxPushdownKeys = 1)
      .collect().map(_.toString).sorted.toSeq
    assert(over === batch)
  }

  test("span removal: owner keeps the passage, every other doc loses it") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),       // owner of "a b c d" (min doc_id)
      (2L, "x y a b c d z"),     // loses the shared passage
      (3L, "q r s")).toDF("doc_id", "text")
    val out = DedupOps.removeDuplicatedSpans(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((6L, 0L, "a b c d e f")))
    assert(out(2L) === ((7L, 4L, "x y z")))
    assert(out(3L) === ((3L, 0L, "q r s")))
    // exactly one copy of the passage survives corpus-wide
    val survivors = out.values.count(_._3.contains("a b c d"))
    assert(survivors === 1)
    // a fully-duplicated non-owner doc cleans to the empty string
    val twins = Seq((5L, "p q r s t"), (6L, "p q r s t")).toDF("doc_id", "text")
    val t = DedupOps.removeDuplicatedSpans(twins)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(t(5L) === "p q r s t" && t(6L) === "")
  }

  test("BPE train: greedy winners, early stop, apply/decode round-trips") {
    import spark.implicits._
    // hand corpus: 'ab' dominates, then the merged symbol chains — the
    // classic BPE cascade (ab → <1>, <1>c via 'abc'×3)
    val docs = Seq(
      (1L, "abab abc abc"), (2L, "abc abab xy"), (3L, "abab xy zq"))
      .toDF("doc_id", "text")
    val merges = graft.operators.TextOps.bpeTrain(docs, nMerges = 10)
    // r1 pair counts: 'ab' twice per abab (positions 0,2) ×3 words
    // + once per abc ×3 = 9 … winner 'ab'
    assert(merges.head.pair === "ab" && merges.head.merged === "ab" &&
      merges.head.cnt === 9L)
    // r2 vocabulary: <1><1>(×3), <1>c(×3), xy(×2), zq(×1): pairs
    // <1><1>=3 ties <1>c=3 — broken lexicographically toward <1><1>
    assert(merges(1).pair === "\u0001\u0001" && merges(1).merged === "abab")
    // early stop: finite corpus converges before 10 merges (every
    // remaining pair count < 2), so fewer merges come back
    assert(merges.size < 10)
    assert(merges.map(_.idx) === (1 to merges.size))
    // decoded forms are sentinel-free surface strings
    merges.foreach(m => assert(!m.merged.exists(_ < ' ')))
    // merge table round-trips through its persistable DataFrame form
    val viaDf = graft.operators.TextOps.bpeMergesFromDf(
      graft.operators.TextOps.bpeMergesToDf(spark, merges))
    assert(viaDf === merges)
    // apply/decode round-trip law on the real corpus, and encoding must
    // strictly compress somewhere (the frequent pairs exist by training)
    val corpus = Tables.documents(spark, sf).limit(200)
    val trained = graft.operators.TextOps.bpeTrain(corpus, nMerges = 8)
    assert(trained.size === 8)
    val applied = graft.operators.TextOps.bpeApply(corpus, trained)
    val rt = applied.select(col("word"),
      graft.operators.TextOps.bpeDecode(col("encoded"), trained)
        .as("decoded"))
    assert(rt.filter(col("word") =!= col("decoded")).count() === 0L)
    val comp = applied.agg(
      sum(length(col("word"))).as("raw"),
      sum(col("n_symbols")).as("enc")).head()
    assert(comp.getLong(1) < comp.getLong(0),
      s"encoding must shorten the stream: ${comp.getLong(1)} vs ${comp.getLong(0)}")
  }

  test("vocab OOV: top-k by frequency with word tie-break, per-doc rate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat cat dog"),
      (2L, "cat dog bird"),
      (3L, "emu emu fox")).toDF("doc_id", "text")
    // freqs: cat=3 dog=2 emu=2 bird=1 fox=1 → top-2 = cat, then the
    // dog/emu tie breaks alphabetically → dog
    val out = TextOps.vocabOov(docs, vocabSize = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((3L, 0L, 0.0)))
    assert(out(2L) === ((3L, 1L, 1.0 / 3)))
    assert(out(3L) === ((3L, 3L, 1.0)))
  }

  test("connected components: chains collapse to min label, singletons canonical") {
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (7L, 9L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    val cc = DedupOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connected components on an empty pair graph returns empty, no crash") {
    val empty = Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "jaccard")
    assert(DedupOps.connectedComponents(empty).count() === 0)
  }

  test("connected components: union-find and iterative paths agree") {
    // long chain (diameter 12) + star + singleton pair, shuffled order
    val chain = (0 until 12).map(i => (i.toLong, (i + 1).toLong))
    val star = Seq((100L, 104L), (100L, 101L), (100L, 103L), (100L, 102L))
    val pairs = scala.util.Random.shuffle(chain ++ star ++ Seq((200L, 201L)))
      .toDF("id_a", "id_b")
    val fast = DedupOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iter = DedupOps.connectedComponents(pairs, smallGraphEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === iter)
    assert((0 to 12).forall(i => fast(i.toLong) == 0L))
    assert((101 to 104).forall(i => fast(i.toLong) == 100L))
    assert(fast(201L) === 200L)
  }

  test("dedup of all-unique docs marks every doc its own canonical cluster") {
    val docs = Seq(
      (1L, "entirely unique first document body"),
      (2L, "second body sharing nothing at all"),
      (3L, "third text with its own words only"))
      .toDF("doc_id", "text")
    val out = DedupOps.dedupNearDups(docs, minJaccard = 0.9).collect()
    assert(out.length === 3)
    assert(out.forall(r => r.getAs[Boolean]("is_canonical")))
    assert(out.forall(r => r.getAs[Long]("cluster") === r.getLong(0)))
  }

  test("near-dup dedup keeps one canonical doc per duplicate cluster") {
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and again"),
      (12L, "the quick brown fox jumps over the lazy dog again and again"),
      (20L, "completely different content about spark query engines here"))
      .toDF("doc_id", "text")
    val out = DedupOps.dedupNearDups(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("cluster"), r.getAs[Boolean]("is_canonical")))
      .toMap
    assert(out(10L) === ((10L, true)))
    assert(out(11L) === ((10L, false)))
    assert(out(12L) === ((10L, false)))
    assert(out(20L) === ((20L, true)))
  }

  test("array-form shingles and exploded shingle rows produce the same sets") {
    val docs = Tables.documents(spark, sf).limit(100)
    val fromArray = docs.select($"doc_id",
      explode(TextOps.shingles($"text", 3)).as("sh"))
    val fromRows = DedupOps.shingleRows(docs, 3)
    assert(fromArray.except(fromRows).count() === 0)
    assert(fromRows.except(fromArray).count() === 0)
  }

  test("language id emits a guess for every doc") {
    val out = TextOps.langId(Tables.documents(spark, sf))
    assert(out.filter($"lang_guess".isNull).count() === 0)
  }

  test("pii stats counts emails, ips, phones; clean text scores zero") {
    val docs = Seq(
      (1L, "reach me at a.user+tag@mail.example.org or 555-123-4567"),
      (2L, "server 192.168.0.1 and backup 10.0.0.2"),
      (3L, "no personal data in this row at all")).toDF("doc_id", "text")
    val m = TextOps.piiStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("n_email"),
        r.getAs[Int]("n_ipv4"), r.getAs[Int]("n_phone"),
        r.getAs[Int]("n_pii"))).toMap
    assert(m(1L) === ((1, 0, 1, 2)))
    assert(m(2L) === ((0, 2, 0, 2)))
    assert(m(3L) === ((0, 0, 0, 0)))
  }

  test("pii redact replaces every hit with its placeholder, flags the doc") {
    val docs = Seq(
      (1L, "mail a@b.co or b@c.org, call 555-000-1111, host 1.2.3.4"),
      (2L, "untouched")).toDF("doc_id", "text")
    val out = TextOps.piiRedact(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[String]("redacted"), r.getAs[Boolean]("was_redacted"))).toMap
    assert(out(1L)._1 ===
      "mail <EMAIL> or <EMAIL>, call <PHONE>, host <IPV4>")
    assert(out(1L)._2 === true)
    assert(out(2L) === (("untouched", false)))
  }

  test("priority sample matches an in-test replica of the DLT scheme") {
    val docs = (1L to 200L).map(i => (i, 10L + (i * 37) % 500))
      .toDF("doc_id", "n_chars")
    val k = 20
    // replica: same md5-derived u, same priority, same (k+1)-th threshold
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val prio = (1L to 200L).map { i =>
      val v = java.lang.Long.parseLong(md5hex(i.toString).take(13), 16)
      val u = (v + 1).toDouble / 4503599627370496.0
      (i, (10L + (i * 37) % 500).toDouble / u)
    }.sortBy { case (id, p) => (-p, id) }
    val tau = prio(k)._2
    val expect = prio.take(k).map { case (id, p) =>
      id -> (p, math.max((10L + (id * 37) % 500).toDouble, tau))
    }.toMap
    val got = TextOps.prioritySample(docs, k, "n_chars").collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Double]("priority"), r.getAs[Double]("est_weight"))).toMap
    assert(got === expect)
  }

  test("prioritySample with n <= k returns EVERY row with est_weight = w") {
    // the DLT contract: no (k+1)-th priority exists, τ = 0, the sample is
    // the whole input and weights are exact (the filtered-τ form returned
    // an empty frame here — round-7 review finding)
    val docs = Seq((1L, "aaaa"), (2L, "bbbbbbbb"), (3L, "cc"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TextOps.prioritySample(docs, k = 10, "n_chars").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("est_weight")).toMap
    assert(got === Map(1L -> 4.0, 2L -> 8.0, 3L -> 2.0))
  }

  test("bm25: term frequency raises score; termless docs are absent") {
    val docs = Seq(
      (1L, "alpha alpha alpha filler filler filler filler filler"),
      (2L, "alpha filler filler filler filler filler filler filler"),
      (3L, "nothing relevant here at all whatsoever truly none")) // no 'alpha'
      .toDF("doc_id", "text")
    val out = TextOps.bm25(docs, Seq("alpha")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) > out(2L))
    assert(out.values.forall(_ > 0.0))
  }

  test("priority sample plans a partial top-k, not a global sort") {
    val p = SparkEntry.queries("q_priority_sample")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("lmScore: predictable text costs fewer bits than unique-word text") {
    import spark.implicits._
    // doc 1 repeats one bigram pattern the corpus has seen many times;
    // doc 2 is all corpus-unique words, so every bigram is unseen and
    // pays the full smoothed cost. Docs below two words emit no row.
    val docs = Seq(
      (1L, "the cat sat the cat sat the cat sat the cat sat"),
      (2L, "zephyr quixotic umbra vortex glyph nadir oblique"),
      (3L, "the cat sat on the mat"),
      (4L, "solo")).toDF("doc_id", "text")
    val out = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) < out(2L), s"repetition should be cheap: $out")
    assert(out(3L) < out(2L), s"seen bigrams should beat unseen: $out")
  }

  test("r11 metric rewrites equal their replace/split-based reference forms") {
    import spark.implicits._
    // adversarial strings for the translate/collapsed-count rewrites of
    // tokenCountWs and qualityMetrics: empty, whitespace-only (space and
    // non-space \s chars — Spark trim() strips only 0x20, so tabs/newlines
    // survive trimming and split() then yields leading/trailing empty
    // tokens), every Java \s char, multi-char runs, unicode text, and
    // punctuation-heavy rows. Reference = the exact expressions shipped
    // through r10 (size-of-split and length-of-regexp_replace).
    val rows = Seq("", " ", "   ", "\t", "\n \t", "a", " a ", "a b",
      "a  b\tc\nde\ff\rg", "\ta b\n", "héllo wörld ünïcode",
      "a,b;c!d?e...f--g(h)i[j]k", "  lots   of    spaces   ",
      "MiXeD CaSe WORDS lower", "1 22 333 4444", "trailing space ",
      "", "a\r\nb", "末 のつ 漢字テキスト")
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val t = col("text")
    val ref = df.select(col("doc_id"),
      size(split(lower(trim(t)), "\\s+")).as("ws_ref"),
      length(regexp_replace(t, "\\s", "")).as("nonspace_ref"),
      length(regexp_replace(t, "[a-zA-Z0-9\\s]", "")).as("punct_ref"))
    val neu = TextOps.qualityMetrics(df)
      .select(col("doc_id"), TextOps.tokenCountWs(t).as("ws"),
        col("n_chars_calc"), col("n_words"), col("mean_word_len"),
        col("punct_ratio"), col("space_ratio"))
    val joined = ref.join(neu, Seq("doc_id")).collect()
    joined.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(r.fieldIndex("ws")) === r.getInt(r.fieldIndex("ws_ref")),
        s"tokenCountWs drifted from size(split(...)) on doc $id")
      assert(r.getInt(r.fieldIndex("n_words")) ===
        r.getInt(r.fieldIndex("ws_ref")), s"n_words drifted on doc $id")
      val nChars = r.getInt(r.fieldIndex("n_chars_calc"))
      val nonspaceRef = r.getInt(r.fieldIndex("nonspace_ref"))
      val punctRef = r.getInt(r.fieldIndex("punct_ref"))
      def refDiv(a: Int, b: Int): Any =
        if (b == 0) null else a.toDouble / b
      def got(name: String): Any =
        if (r.isNullAt(r.fieldIndex(name))) null
        else r.getDouble(r.fieldIndex(name))
      // NaN/null-safe exact compare: the rewrite must reproduce the
      // replace-based ratios BIT FOR BIT (same ints, same one division)
      def same(a: Any, b: Any): Boolean = (a, b) match {
        case (null, null) => true
        case (x: Double, y: Double) =>
          java.lang.Double.doubleToLongBits(x) ==
            java.lang.Double.doubleToLongBits(y)
        case _ => false
      }
      val wsRef = r.getInt(r.fieldIndex("ws_ref"))
      assert(same(got("mean_word_len"), refDiv(nonspaceRef, wsRef)),
        s"mean_word_len drifted on doc $id")
      assert(same(got("punct_ratio"), refDiv(punctRef, nChars)),
        s"punct_ratio drifted on doc $id")
      assert(same(got("space_ratio"), refDiv(nChars - nonspaceRef, nChars)),
        s"space_ratio drifted on doc $id")
    }
  }
}
