package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** Similarity-search quality gates: k-means training must not lose recall
  * vs the raw md5 seeds, and the LSH near-dup path must be a pure
  * precision-1 candidate filter over the exact baseline. */
class SimilarityOpsSpec extends SparkSpecBase {

  private lazy val e = Tables.embeddings(spark, sf)
  private lazy val q = e.filter(col("vec_id") < 10)

  private lazy val exactKnn: Set[(Long, Long)] =
    SimilarityOps.bruteForceKnn(e, q, k = 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def ivfRecall(iters: Int): Double = {
    val approx = SimilarityOps.ivfKnn(e, q, k = 5, kmeansIters = iters)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    approx.intersect(exactKnn).size.toDouble / exactKnn.size
  }

  test("semanticDedup: within-cluster pairs only, one canonical per component") {
    val cents = SimilarityOps.kmeansCentroids(e, 16, iters = 2, trainSample = 512)
    val out = SimilarityOps.semanticDedup(e, threshold = 0.4, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // total: every corpus vector appears exactly once
    assert(out.length === e.count())
    // the canonical IS the component's smallest member, exactly one per
    // cluster, and every non-kept row points at a cluster that kept one
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cl, members) =>
      assert(members.count(_._3) === 1, s"cluster $cl canonical count")
      assert(members.filter(_._3).head._1 === members.map(_._1).min)
      assert(cl === members.map(_._1).min, s"label $cl is not the min id")
    }
    // dedup must fire on this fixture (it contains replica families), and
    // the dup relation must be a SUBSET of the exact all-pairs baseline at
    // the same threshold (clustering only ever REMOVES candidate pairs)
    val dropped = out.filter(!_._3).map(d => (d._2, d._1)).toSet
    assert(dropped.nonEmpty, "fixture must contain semantic dups")
    val exactPairs = SimilarityOps.nearDupPairs(e, threshold = 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every (canonical, dropped) edge is backed by a chain of exact pairs;
    // check the direct-pair case which dominates on this fixture: a
    // dropped doc must have SOME exact near-dup partner
    val inAnyExact = exactPairs.flatMap(p => Seq(p._1, p._2))
    dropped.foreach { case (_, id) =>
      assert(inAnyExact.contains(id), s"dropped $id has no exact near-dup")
    }
  }

  test("incremental semantic dedup == batch within-cluster pairs touching the delta") {
    val stored = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(10)) === 0)
    val cents = SimilarityOps.kmeansCentroids(stored, 16, iters = 2,
      trainSample = 512)
    val incr = SimilarityOps.semanticDedupIncremental(delta,
        SimilarityOps.buildSemanticIndex(stored, cents), threshold = 0.4, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // expected = exact all-pairs ∩ same assigned cluster ∩ touching delta
    val assign = SimilarityOps.ivfAssign(e, cents)
    val expected = SimilarityOps.nearDupPairs(e, threshold = 0.4)
      .join(assign.select(col("vec_id").as("id_a"), col("cid").as("ca")),
        Seq("id_a"))
      .join(assign.select(col("vec_id").as("id_b"), col("cid").as("cb")),
        Seq("id_b"))
      .filter(col("ca") === col("cb") &&
        (pmod(col("id_a"), lit(10)) === 0 || pmod(col("id_b"), lit(10)) === 0))
      .select(col("id_a"), col("id_b"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr === expected)
    assert(incr.nonEmpty, "fixture must contain cross-batch semantic dups")
  }

  test("k-means training: IVF recall vs brute force >= raw md5 seeds") {
    val seeds = ivfRecall(0)
    val trained = ivfRecall(2)
    assert(trained >= seeds, s"kmeans recall $trained < seed recall $seeds")
    assert(trained > 0.0)
  }

  test("k-means training balances the inverted lists (probe-cost bound)") {
    // the scale rationale for training: probe cost is bounded by the
    // LARGEST inverted list a query can touch, so trained centroids must
    // not be worse-balanced than the raw seeds
    def maxList(cents: Array[(Long, Seq[Double], Double)]): Long =
      SimilarityOps.ivfAssign(e, cents)
        .groupBy(col("cid")).count()
        .agg(max(col("count"))).first().getLong(0)
    val seeds = maxList(SimilarityOps.ivfCentroids(e, 16))
    val trained = maxList(SimilarityOps.kmeansCentroids(e, 16, iters = 2))
    assert(trained <= seeds, s"trained max list $trained > seeds $seeds")
  }

  test("kmeans centroids differ from seeds and keep deterministic ids") {
    val seeds = SimilarityOps.ivfCentroids(e, 16)
    val trained = SimilarityOps.kmeansCentroids(e, 16, iters = 2)
    assert(seeds.map(_._1).toSeq === trained.map(_._1).toSeq)
    // Lloyd actually moved at least one centroid off its seed vector
    assert(seeds.zip(trained).exists { case ((_, a, _), (_, b, _)) => a != b })
    // training is deterministic: a second run reproduces bit-identically
    val again = SimilarityOps.kmeansCentroids(e, 16, iters = 2)
    assert(trained.map(t => (t._1, t._2)).toSeq ===
      again.map(t => (t._1, t._2)).toSeq)
  }

  test("lsh ops release their bucketing caches, keep only the small output") {
    import spark.implicits._
    val e = (0L until 40L).map(i =>
      (i, Array.tabulate(64)(d => ((i % 4) + d).toFloat / 64))).toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = SimilarityOps.lshNearDupPairs(e, threshold = 0.4, planes = 4)
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      s"lshNearDupPairs leaked: ${spark.sparkContext.getPersistentRDDs.size - before}")
    pairs.unpersist()
    val knn = SimilarityOps.lshKnn(e, e.filter($"vec_id" < 2), k = 3, planes = 4)
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      s"lshKnn leaked: ${spark.sparkContext.getPersistentRDDs.size - before}")
    knn.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("maxBucket cap: degenerate bucket bounded, precision untouched") {
    import spark.implicits._
    // adversarial fixture: 60 identical embeddings — every LSH table puts
    // them in ONE bucket, so uncapped candidate generation is quadratic
    val dup = (0L until 60L).map(i => (i, Array.fill(64)(0.5f)))
    // plus two genuinely-similar distinct vectors in a normal bucket
    val base = Array.tabulate(64)(d => 1.0f / (d + 1))
    val tweaked = base.clone(); tweaked(63) = base(63) + 0.001f
    val docs = (dup ++ Seq((100L, base), (101L, tweaked)))
      .toDF("vec_id", "embedding")
    val uncapped = SimilarityOps.lshNearDupPairs(docs, threshold = 0.4,
      planes = 4, maxBucket = Int.MaxValue).collect()
    assert(uncapped.length >= 60 * 59 / 2,
      "fixture must actually be quadratic uncapped")
    val capped = SimilarityOps.lshNearDupPairs(docs, threshold = 0.4,
      planes = 4, maxBucket = 50)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the degenerate cluster's fan-out is gone; pairs outside it survive
    assert(!capped.exists { case (a, b) => a < 60 && b < 60 },
      "over-full bucket must be dropped from candidate generation")
    assert(capped.contains((100L, 101L)),
      "pairs in healthy buckets must survive the cap")
    // precision stays 1: everything reported is exact-cosine verified
    val exact = SimilarityOps.nearDupPairs(docs, threshold = 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact))
  }

  test("centroid store/load roundtrip: ivfKnnWith(loaded) == ivfKnn") {
    val cents = SimilarityOps.kmeansCentroids(e, 16, iters = 2,
      trainSample = 512)
    val dir = java.nio.file.Files.createTempDirectory("graft_cents").toString
    SimilarityOps.centroidsToDf(spark, cents)
      .write.mode("overwrite").parquet(dir)
    val loaded = SimilarityOps.centroidsFromDf(spark.read.parquet(dir))
    // load order is cid-sorted, training order is seed order — values must
    // match per cid (scoring is an argmax over the set, order-independent)
    assert(loaded.map(c => (c._1, c._2)).sortBy(_._1).toSeq ===
      cents.map(c => (c._1, c._2)).sortBy(_._1).toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(SimilarityOps.ivfKnnWith(e, q, k = 5, loaded)) ===
      rows(SimilarityOps.ivfKnn(e, q, k = 5)))
  }

  test("nprobe recall curve: non-decreasing, exhaustive probe == brute force") {
    val cents = SimilarityOps.kmeansCentroids(e, 16, iters = 2,
      trainSample = 512)
    def recallAt(nprobe: Int): Double = {
      val approx = SimilarityOps.ivfKnnWith(e, q, k = 5, cents, nprobe = nprobe)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      approx.intersect(exactKnn).size.toDouble / exactKnn.size
    }
    val curve = Seq(1, 2, 4, 8, 16).map(recallAt)
    info(s"recall@5 vs brute force, nprobe 1/2/4/8/16 of 16 lists: " +
      curve.map(c => f"$c%.3f").mkString(" → "))
    curve.sliding(2).foreach { case Seq(lo, hi) =>
      assert(hi >= lo, s"recall must not drop as nprobe grows: $curve")
    }
    assert(curve.last === 1.0,
      "probing every inverted list must reproduce brute force exactly")
  }

  test("LSH near-dup pairs = exact pairs ∩ bucket collisions (precision 1)") {
    val exact = SimilarityOps.nearDupPairs(e, threshold = 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def lsh(tables: Int): Set[(Long, Long)] =
      SimilarityOps.lshNearDupPairs(e, threshold = 0.4, planes = 4,
        tables = tables)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = lsh(1)
    assert(one.subsetOf(exact),
      s"LSH pairs must be exact-verified: ${one.diff(exact)}")
    assert(one.nonEmpty)
    // more tables = monotonically more recall, never lost precision
    val two = lsh(2)
    assert(one.subsetOf(two), "table 1's collisions must survive the union")
    assert(two.subsetOf(exact))
    assert(two.size >= one.size)
  }

  test("scalar quantization: codes bounded, roundtrip error within half-step") {
    val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(e))
    val codes = SimilarityOps.sqEncode(e, mns, mxs)
      .select(explode(col("codes"))).collect().map(_.getInt(0))
    assert(codes.min >= -128 && codes.max <= 127)
    // per-vector MAE can never exceed half a quantization step of the
    // widest dimension
    val maxStep = mns.zip(mxs).map { case (lo, hi) => (hi - lo) / 255.0 }.max
    val maes = SimilarityOps.sqError(e, mns, mxs)
      .select(col("mae")).collect().map(_.getDouble(0))
    assert(maes.forall(m => m >= 0.0 && m <= maxStep / 2 + 1e-9),
      s"max mae ${maes.max} vs half-step ${maxStep / 2}")
    // a corpus-boundary vector hits the range ends exactly: min maps to
    // -128, max to 127 in at least one dimension across the corpus
    assert(codes.contains(-128) && codes.contains(127))
  }

  test("quantized knn: high recall vs brute force, exhaustive refine is exact") {
    val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(e))
    val q = e.filter(col("vec_id") < 10)
    val exact = SimilarityOps.bruteForceKnn(e, q, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilarityOps.sqKnn(e, q, k = 5, mns, mxs)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = quant.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 candidate recall $recall < 0.9")
    // refine covering the whole corpus = brute force exactly
    val n = e.count().toInt
    val full = SimilarityOps.sqKnn(e, q, k = 5, mns, mxs, refine = n)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "exhaustive refine must reproduce brute force")
  }

  test("compressed ANN (IVF × int8): recall >= 0.9, bounded by its parents") {
    val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(e))
    val cents = SimilarityOps.kmeansCentroids(e, 16, iters = 2,
      trainSample = 512)
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // measured on this fixture: recall is IVF-probe-bounded — refine 4 vs 8
    // is identical at every nprobe (the int8 shortlist loses nothing), and
    // nprobe 4/6/8/12 gives 0.58/0.72/0.82/0.98 — which is why the
    // operator's default probes 12 of the 16 lists (see the Scaladoc)
    val composed = ids(SimilarityOps.sqIvfKnn(e, q, k = 5, cents, mns, mxs))
    val recall = composed.intersect(exactKnn).size.toDouble / exactKnn.size
    info(f"sqIvfKnn recall@5 vs brute force: $recall%.3f")
    assert(recall >= 0.9, s"compressed-ANN recall $recall < 0.9")
    // with an exhaustive refine the int8 shortlist covers every candidate
    // in the probed lists, so the result equals float IVF at the SAME
    // nprobe exactly — the composition's only loss is the int8 shortlist
    val ivfAll = ids(SimilarityOps.ivfKnnWith(e, q, k = 5, cents, nprobe = 12))
    val n = e.count().toInt
    val fullRefine = ids(SimilarityOps.sqIvfKnn(e, q, k = 5, cents, mns, mxs,
      refine = n))
    assert(fullRefine === ivfAll,
      "exhaustive refine must reproduce the float IVF result")
  }

  test("PQ: codes bounded, codebook roundtrip, ADC recall >= 0.9, IVF-PQ gated") {
    val cb = SimilarityOps.pqTrain(e) // defaults: m=8, ks=256, 4 iters
    assert(cb.length === 8 && cb.forall(_.length === 256) &&
      cb.forall(_.forall(_.length === 8))) // 64 dims / 8 subspaces
    // persistable codebook round-trips exactly
    val viaDf = SimilarityOps.pqCodebookFromDf(
      SimilarityOps.pqCodebookToDf(spark, cb))
    assert(viaDf.map(_.map(_.toSeq).toSeq).toSeq ===
      cb.map(_.map(_.toSeq).toSeq).toSeq)
    // codes are valid sub-centroid ids
    val codes = SimilarityOps.pqEncode(e, cb).collect()
    assert(codes.length === e.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length === 8 && cs.forall(c => c >= 0 && c < 256))
    }
    // ADC candidate recall vs brute force — the PQ quality gate
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = ids(SimilarityOps.pqKnn(e, q, k = 5, cb))
    val pqRecall = pq.intersect(exactKnn).size.toDouble / exactKnn.size
    info(f"pqKnn recall@5 vs brute force: $pqRecall%.3f")
    assert(pqRecall >= 0.9, s"PQ ADC recall $pqRecall < 0.9")
    // exhaustive refine covers every candidate = brute force exactly
    val n = e.count().toInt
    assert(ids(SimilarityOps.pqKnn(e, q, k = 5, cb, refine = n)) === exactKnn,
      "exhaustive refine must reproduce brute force")
    // the full IVF-PQ stack: recall gate + parent bound (exhaustive
    // refine == float IVF at the same nprobe — the composition's only
    // loss is the ADC shortlist)
    val cents = SimilarityOps.kmeansCentroids(e, 16, iters = 2,
      trainSample = 512)
    val ivfPq = ids(SimilarityOps.ivfPqKnn(e, q, k = 5, cents, cb))
    val ivfPqRecall = ivfPq.intersect(exactKnn).size.toDouble / exactKnn.size
    info(f"ivfPqKnn recall@5 vs brute force: $ivfPqRecall%.3f")
    assert(ivfPqRecall >= 0.9, s"IVF-PQ recall $ivfPqRecall < 0.9")
    assert(ids(SimilarityOps.ivfPqKnn(e, q, k = 5, cents, cb, refine = n))
      === ids(SimilarityOps.ivfKnnWith(e, q, k = 5, cents, nprobe = 12)),
      "exhaustive refine must reproduce float IVF at the same nprobe")
  }

  test("partitioned HNSW: deterministic build, degree caps, parquet " +
    "roundtrip, recall >= 0.9, exhaustive beam == brute force") {
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Long, Long)] =
      df.collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val g1 = SimilarityOps.hnswBuild(e) // defaults: 4 shards, M=8, efC=64
    val s1 = edges(g1)
    assert(s1.nonEmpty)
    assert(s1 === edges(SimilarityOps.hnswBuild(e)),
      "two builds of the same corpus must be identical")
    // the degree caps the pruning promises: level 0 <= 2M, upper <= M
    g1.groupBy("shard", "level", "src").count().collect().foreach { r =>
      val cap = if (r.getInt(1) == 0) 16 else 8
      assert(r.getLong(3) <= cap,
        s"degree ${r.getLong(3)} above cap $cap at level ${r.getInt(1)}")
    }
    // the stored graph is the query-path input: round-trip via parquet
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    g1.write.mode("overwrite").parquet(s"$dir/graph")
    val loaded = spark.read.parquet(s"$dir/graph")
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hnsw = ids(SimilarityOps.hnswKnn(e, loaded, q, k = 5))
    val recall = hnsw.intersect(exactKnn).size.toDouble / exactKnn.size
    info(f"hnswKnn recall@5 vs brute force: $recall%.3f")
    assert(recall >= 0.9, s"HNSW recall $recall < 0.9")
    // beam = shard size ⇒ every shard returns its exact top-k (the
    // level-0 graph is connected on this fixture), and the union of
    // shard-exact merges to the global exact answer
    assert(ids(SimilarityOps.hnswKnn(e, loaded, q, k = 5, ef = 500))
      === exactKnn, "exhaustive beam must reproduce brute force")
  }

  test("hnswKnnJoin: distributed path == driver-collect path, at any |Q|") {
    import org.apache.spark.sql.functions.col
    val g = SimilarityOps.hnswBuild(e)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // the bounded query set both paths accept
    assert(rows(SimilarityOps.hnswKnnJoin(e, g, q, k = 5))
      === rows(SimilarityOps.hnswKnn(e, g, q, k = 5)))
    // a corpus-sized query set — the regime the driver-collect path caps
    // out of (its distributed twin must agree where both run: cross-check
    // on a slice, then assert full-corpus coverage)
    val all = SimilarityOps.hnswKnnJoin(e, g, e, k = 3)
    assert(all.select("qid").distinct().count() === e.count())
    val slice = all.filter(col("qid") < 20)
    assert(rows(slice) === rows(
      SimilarityOps.hnswKnn(e, g, e.filter(col("vec_id") < 20), k = 3)))
  }

  test("hnswKnn enforces the bounded-query-set contract") {
    // the query side is collected to the driver (kNN serving shape) — a
    // corpus-sized misuse must fail loudly at the cap, not OOM the driver
    val g = SimilarityOps.hnswBuild(e)
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.hnswKnn(e, g, q, k = 5, maxQueries = 2)
    }
    assert(ex.getMessage.contains("bounded-set"))
    // exactly at the cap still runs
    assert(SimilarityOps.hnswKnn(e, g, q.limit(2), k = 5, maxQueries = 2)
      .count() > 0)
  }

  test("ANN deletion: delete(X) ≡ rebuild-without-X, for HNSW and PQ index") {
    import org.apache.spark.sql.functions.{col, lit}
    val del = e.filter(col("vec_id") % 7 === 0).select("vec_id")
    val remaining = e.join(del, Seq("vec_id"), "left_anti")
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Long, Long)] =
      df.collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val g = SimilarityOps.hnswBuild(e)
    // the exact law: tombstone-delete equals a from-scratch build of the
    // surviving corpus (each shard's deterministic build depends only on
    // its member vectors in ascending-id order)
    assert(edges(SimilarityOps.hnswDelete(e, g, del))
      === edges(SimilarityOps.hnswBuild(remaining)))
    // empty tombstone set: the stored graph passes through verbatim
    assert(edges(SimilarityOps.hnswDelete(e, g,
      e.filter(lit(false)).select("vec_id"))) === edges(g))
    // query law: a deleted id can never be returned
    val deletedIds = del.collect().map(_.getLong(0)).toSet
    val hits = SimilarityOps.hnswKnn(remaining,
        SimilarityOps.hnswDelete(e, g, del), q, k = 5)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(hits.intersect(deletedIds).isEmpty)

    // stored PQ index: delete-then-compact equals re-encoding the
    // survivors (codes are per-row independent), and queries agree
    val cents = SimilarityOps.kmeansCentroids(e, 16, iters = 2,
      trainSample = 512)
    val cb = SimilarityOps.pqTrain(e)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r => (r.getLong(0),
        r.getSeq[Int](1).toList, r.getLong(2)).toString).toSet
    val compacted = SimilarityOps.annIndexDelete(
      SimilarityOps.pqIndex(e, cents, cb), del)
    val rebuilt = SimilarityOps.pqIndex(remaining, cents, cb)
    assert(rows(compacted) === rows(rebuilt))
    def knn(idx: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      SimilarityOps.ivfPqKnnWith(remaining, idx, q, k = 5, cents, cb)
        .select("qid", "nid", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(knn(compacted) === knn(rebuilt))
  }

  test("hnsw ef recall curve: non-decreasing, deterministic") {
    val g = SimilarityOps.hnswBuild(e)
    def recallAt(ef: Int): Double = {
      val h = SimilarityOps.hnswKnn(e, g, q, k = 5, ef = ef)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      h.intersect(exactKnn).size.toDouble / exactKnn.size
    }
    val efs = Seq(4, 8, 16, 64)
    val curve = efs.map(recallAt)
    info(s"recall@5 vs brute force, ef ${efs.mkString("/")}: " +
      curve.map(c => f"$c%.2f").mkString(" → "))
    curve.zip(curve.tail).foreach { case (lo, hi) =>
      assert(hi >= lo, s"recall must not drop as ef grows: $curve")
    }
    assert(curve.last >= 0.9, s"ef=64 recall ${curve.last} < 0.9")
  }

  test("stored PQ index: ivfPqKnnWith(pqIndex) == ivfPqKnn row for row") {
    val cb = SimilarityOps.pqTrain(e)
    val cents = SimilarityOps.kmeansCentroids(e, 16, iters = 2,
      trainSample = 512)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    SimilarityOps.pqIndex(e, cents, cb)
      .write.mode("overwrite").parquet(s"$dir/idx")
    val stored = spark.read.parquet(s"$dir/idx")
    assert(rows(SimilarityOps.ivfPqKnnWith(e, stored, q, k = 5, cents, cb))
      === rows(SimilarityOps.ivfPqKnn(e, q, k = 5, cents, cb)),
      "the stored-index path must produce exactly the inline path's rows")
  }

  test("scalar quantization: constant dimension encodes to 0, zero error") {
    import spark.implicits._
    val docs = Seq((1L, Seq(1.0f, 5.0f)), (2L, Seq(1.0f, -5.0f)))
      .toDF("vec_id", "embedding")
    val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(docs))
    val m = SimilarityOps.sqEncode(docs, mns, mxs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(m(1L) === Seq(0, 127))
    assert(m(2L) === Seq(0, -128))
    val errs = SimilarityOps.sqError(docs, mns, mxs).collect()
      .map(_.getDouble(1))
    assert(errs.forall(_ === 0.0),
      "range endpoints and constant dims must reconstruct exactly")
  }

  test("powerIterationFp: hand-traced diagonal matrix; symmetric fixed point") {
    import graft.operators.LinAlgOps
    import spark.implicits._
    // diag(2, 1): iterates halve the weaker axis each round (after the
    // max-rescale): v = (1e6, 1e6) -> (1e6, 5e5) -> (1e6, 2.5e5) -> (1e6, 1.25e5)
    val diag = Seq((0, 0, BigDecimal(2)), (1, 1, BigDecimal(1)))
      .toDF("i", "j", "c")
    val got = LinAlgOps.powerIterationFp(diag, iters = 3).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(0 -> 1000000L, 1 -> 125000L))
    // [[2,1],[1,2]]: (1,1) is the dominant eigenvector - exact fixed point
    val sym = Seq((0, 0, BigDecimal(2)), (0, 1, BigDecimal(1)),
      (1, 0, BigDecimal(1)), (1, 1, BigDecimal(2))).toDF("i", "j", "c")
    val fp = LinAlgOps.powerIterationFp(sym, iters = 3).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fp === Map(0 -> 1000000L, 1 -> 1000000L))
  }

  test("gramFp is symmetric with exact diagonal") {
    import graft.operators.LinAlgOps
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(0.5f, -1.0f)))
      .toDF("id", "emb")
    val g = LinAlgOps.gramFp(vecs, "emb", "id").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).longValueExact).toMap
    // c00 = (1e6)^2 + (5e5)^2; c01 = 1e6*2e6 + 5e5*(-1e6); c11 = 4e12 + 1e12
    assert(g((0, 0)) === 1250000000000L)
    assert(g((0, 1)) === 1500000000000L)
    assert(g((0, 1)) === g((1, 0)))
    assert(g((1, 1)) === 5000000000000L)
  }
}
