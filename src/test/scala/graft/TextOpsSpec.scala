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
    assert(batch.nonEmpty, "fixture must contain cross-batch near-dups")
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
