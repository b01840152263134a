package graft.operators

import graft.functions.VectorExpressions.array_dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`) — brute-force
  * cosine top-k as the exact baseline plus an LSH-bucketed variant as the
  * scale path (builder brief).
  *
  * Scale design (100 TB): brute force is O(|queries|·|corpus|) with the
  * query side broadcast — right when |queries| is small. The LSH path
  * reduces candidate generation to a bucket equi-join (shuffle on the
  * bucket id), trading recall for a |corpus|-linear plan; IVF would slot in
  * the same way with learned centroids replacing the hyperplanes.
  *
  * Hot path: dot products use the native [[graft.functions.ArrayDotProduct]]
  * expression (one primitive loop per row), and vector norms are computed
  * once per vector — never per pair. Cosines are rounded to 6 decimals
  * before ranking/thresholding; summation order matches the SQL oracles, so
  * results are bit-identical across engines.
  */
object SimilarityOps {

  /** cosine(a, b), rounded to 6 decimals (norms computed in-row; prefer the
    * precomputed-norm variants below in joins). */
  def cosine(a: Column, b: Column): Column =
    round(array_dot(a, b) / (sqrt(array_dot(a, a)) * sqrt(array_dot(b, b))), 6)

  /** cosine from a precomputed-norm pair: round(dot/(na*nb), 6). */
  private def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    round(array_dot(a, b) / (na * nb), 6)

  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       id: String, vec: String, norm: String): DataFrame =
    df.select(col(idCol).as(id), col(vecCol).as(vec),
      sqrt(array_dot(col(vecCol), col(vecCol))).as(norm))

  /** Exact top-k neighbors for each query vector (self-matches excluded).
    * Queries are broadcast; ranking uses the rounded cosine with the
    * neighbor id as tiebreaker — fully deterministic. */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(withNorm(queries, idCol, vecCol, "qid", "qe", "qn"))
    val c = withNorm(corpus, idCol, vecCol, "nid", "ne", "nn")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    c.crossJoin(q)
      .filter(col("nid") =!= col("qid"))
      .withColumn("cosine", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rn"))
  }

  /** Contrastive-training triplet mining: for each anchor (a bounded
    * query set), the HARD POSITIVE is its exact top-1 cosine neighbor and
    * the NEGATIVE is an md5-deterministic random draw over the rest of
    * the corpus (arg-min of md5(anchor‖'_'‖candidate), anchor and its
    * positive excluded) — reproducible on any engine or cluster, no
    * rand() anywhere. Emits (anchor, pos_id, pos_cos, neg_id, neg_cos).
    *
    * Scale shape: anchors broadcast; the positive pick and the negative
    * draw are each one corpus scan with a map-side min_by/row_number —
    * never a corpus shuffle. At 100 TB swap the positive pick for
    * [[lshKnn]] (the same recall-traded path as knn itself); the negative
    * draw is already scan-shaped. */
  def tripletMine(corpus: DataFrame, anchors: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val pos = bruteForceKnn(corpus, anchors, k = 1, idCol, vecCol)
      .select(col("qid"), col("nid").as("pos_id"),
        col("cosine").as("pos_cos"))
    val a = broadcast(withNorm(anchors, idCol, vecCol, "qid", "qe", "qn")
      .join(pos, Seq("qid")))
    val c = withNorm(corpus, idCol, vecCol, "nid", "ne", "nn")
    c.crossJoin(a)
      .filter(col("nid") =!= col("qid") && col("nid") =!= col("pos_id"))
      .withColumn("neg_cos",
        cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("nkey", md5(concat(col("qid").cast("string"), lit("_"),
        col("nid").cast("string")).cast("binary")))
      .groupBy(col("qid").as("anchor"), col("pos_id"), col("pos_cos"))
      .agg(min_by(struct(col("nid"), col("neg_cos")), col("nkey")).as("neg"))
      .select(col("anchor"), col("pos_id"), col("pos_cos"),
        col("neg.nid").as("neg_id"), col("neg.neg_cos").as("neg_cos"))
  }

  /** All pairs above a cosine threshold — embedding-space near-dup
    * detection. O(n²) pair enumeration; use [[lshBuckets]] first at scale. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = withNorm(corpus, idCol, vecCol, "id_a", "va", "na")
    val b = withNorm(corpus, idCol, vecCol, "id_b", "vb", "nb")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Embedding near-dup pairs via LSH bucketing — the 100 TB path for
    * [[nearDupPairs]]: candidates must share a random-hyperplane bucket
    * (a plain equi-join on the bucket id), then exact cosine confirms.
    * The pair space is Σ_b |bucket_b|² instead of O(n²).
    *
    * `tables` is the recall lever: table t hashes with its OWN `planes`
    * hyperplanes (plane indices t·planes…), a pair is a candidate if it
    * collides in ANY table, and the miss probability decays as
    * (1 − p^planes)^tables. Same join shape, tables× candidate rows;
    * precision stays 1.0 because every candidate is cosine-verified.
    *
    * `maxBucket` caps the bucket population used for candidate generation —
    * the embedding analogue of `maxDf` in
    * [[graft.operators.DedupOps.ngramJaccardPairs]]: one degenerate bucket
    * (zero vectors, template embeddings) otherwise fans out quadratically
    * in the self-join. Over-full buckets are dropped from candidate
    * generation (bounding any bucket's contribution at maxBucket²/2 pairs);
    * precision is unaffected because survivors are still cosine-verified,
    * and only recall inside the degenerate cluster is traded. Capped by
    * DEFAULT — unbounded fan-out is opt-in via `maxBucket = Int.MaxValue`.
    * Cost shape: one map-side-combined count over (table, bucket) — at
    * most tables·2^planes groups — then the (by definition FEW) over-full
    * bucket ids ride into the plan as an isin literal; the vector rows
    * never shuffle for the cap, and when no bucket is degenerate the
    * candidate join is untouched. */
  def lshNearDupPairs(corpus: DataFrame, threshold: Double,
                      planes: Int = 8, dim: Int = 64, tables: Int = 1,
                      maxBucket: Int = 1000,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withTables = (0 until tables).map { t =>
      val bucket = (0 until planes).map { p =>
        val plane = array((0 until dim).map(
          i => lit(planeComponent(t * planes + p, i))): _*)
        when(round(array_dot(col(vecCol), plane), 6) > 0, math.pow(2, p))
          .otherwise(0.0)
      }.reduce(_ + _).cast("long")
      struct(lit(t).as("t"), bucket.as("b"))
    }
    // the tables·planes·dim bucketing projection is the dominant map cost
    // and has three consumers (hot-bucket count + both self-join sides) —
    // persist AND materialize so it runs once, not once per consumer
    // (same doctrine as the minhash band rows, DedupOps.minhashNearDups)
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val raw = corpus.select(col(idCol), col(vecCol),
        explode(array(withTables: _*)).as("tb"))
      .select(col(idCol), col(vecCol),
        col("tb.t").as("table"), col("tb.b").as("bucket"))
      .persist(disk)
    raw.count()
    val hot =
      if (maxBucket == Int.MaxValue) Array.empty[String]
      else raw.groupBy(col("table"), col("bucket"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucket)
        .select(concat_ws(":", col("table"), col("bucket"))).collect()
        .map(_.getString(0))
    val b =
      if (hot.isEmpty) raw
      else raw.filter(!concat_ws(":", col("table"), col("bucket"))
        .isin(hot.toIndexedSeq: _*))
    val left = b.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("na"),
      col("table"), col("bucket"))
    val right = b.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("nb"),
      col("table"), col("bucket"))
    val out = left.join(right, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      // a pair colliding in several tables reaches here once per table —
      // dedup on the 3 output columns (cheap), never shuffling the vectors
      .distinct()
      .persist(disk)
    // materialize the (small) verified pair set, then release the
    // corpus-sized bucketing cache (the ngramJaccardPairs release doctrine)
    out.count()
    raw.unpersist(false)
    out
  }

  /** Deterministic pseudo-random hyperplane component: planes are derived
    * from md5("p:i") — seedless and reproducible by any engine. Maps the
    * first 4 hex chars to [-1, 1). */
  private def planeComponent(p: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes("UTF-8"))
      .take(2).map("%02x".format(_)).mkString
    Integer.parseInt(hex, 16) / 32768.0 - 1.0
  }

  /** Random-hyperplane LSH: `planes` sign bits → bucket id in [0, 2^planes).
    * The sign uses the 6-decimal-rounded dot so engines agree at the
    * boundary. ANN search = bucket join, then exact re-rank in-bucket. */
  def lshBuckets(corpus: DataFrame, planes: Int = 8, dim: Int = 64,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucket = (0 until planes).map { p =>
      val plane = array((0 until dim).map(i => lit(planeComponent(p, i))): _*)
      when(round(array_dot(col(vecCol), plane), 6) > 0, math.pow(2, p)).otherwise(0.0)
    }.reduce(_ + _).cast("long")
    corpus.select(col(idCol), bucket.as("bucket"))
  }

  /** IVF seed centroids: a deterministic pseudo-random sample of k corpus
    * vectors — ordered by md5 of the id, so any engine reproduces the same
    * seeds. Plans as TakeOrderedAndProject (per-partition top-k, merged on
    * the driver) — NOT a global sort or a single-partition window, so the
    * corpus never funnels through one task. [[kmeansCentroids]] refines
    * these seeds with Lloyd iterations. */
  /** The seed-selection frame, exposed so PlanSpec can pin its shape:
    * TakeOrderedAndProject, never a single-partition window/sort. */
  private[graft] def ivfSeedFrame(corpus: DataFrame, k: Int,
                                  idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(k)

  def ivfCentroids(corpus: DataFrame, k: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding")
  : Array[(Long, Seq[Double], Double)] = {
    ivfSeedFrame(corpus, k, idCol, vecCol)
      .collect()
      .map { r =>
        val vec = r.getSeq[Float](1).map(_.toDouble)
        // ascending-index sum — the same order as array_dot and the oracles
        var s = 0.0; vec.foreach(x => s += x * x)
        (r.getLong(0), vec, math.sqrt(s))
      }
  }

  /** k-means (Lloyd) IVF training: md5-seeded init ([[ivfCentroids]]), then
    * `iters` rounds of assign → elementwise mean. Deterministic and
    * engine-reproducible: assignment ties break on the smallest centroid
    * id, means are rounded to 6 decimals (absorbing summation-order ulps),
    * empty clusters keep their previous centroid.
    *
    * `trainSample > 0` trains on the first `trainSample` vectors of the
    * md5 order (the same deterministic order that picks the seeds, so
    * seeds ⊆ sample) — the 100 TB path: Lloyd statistics converge on a
    * sample, so training cost must be O(sample), never O(corpus), and
    * must run ONCE, not inside every query (persist with
    * [[centroidsToDf]]). The bounded sample is fetched in one
    * TakeOrderedAndProject job (identical shape to the seed fetch) and the
    * iterations are driver-local arithmetic over sample×d doubles — zero
    * further cluster passes. `trainSample = 0` keeps the distributed
    * full-corpus path: each iteration is ONE narrow pass — the k×d
    * centroids ride inside the plan as literals and the assignment is
    * computed in the SAME projection that explodes the vector (no
    * assignment-to-vector self-join) — plus one map-side-combined
    * (cid, pos) aggregation whose shuffle carries k·d rows per input
    * partition; only k·d rows ever reach the driver. Centroid ids remain
    * the seed vector ids throughout, and both paths share the exact
    * rounding/tiebreak semantics (the DuckDB oracles replay them). */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int = 2,
                      trainSample: Int = 0,
                      idCol: String = "vec_id", vecCol: String = "embedding")
  : Array[(Long, Seq[Double], Double)] = {
    if (trainSample > 0) {
      // seeds are rows.take(k) of the sample fetch — a sample smaller than
      // k would silently train fewer centroids (and diverge from the
      // distributed path, which seeds limit(k) from the full corpus)
      require(trainSample >= k,
        s"trainSample ($trainSample) must be >= k ($k) — seeds are drawn from the sample")
      return kmeansLocal(corpus, k, iters, trainSample, idCol, vecCol)
    }
    var cents = ivfCentroids(corpus, k, idCol, vecCol)
    for (_ <- 1 to iters) {
      val means = corpus
        .select(nearestCid(col(vecCol), cents).as("cid"),
          posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("m"))
        .collect()
      val byCid = means.groupBy(_.getLong(0))
      cents = cents.map { case (cid, prev, prevNorm) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val vec = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
            var s = 0.0; vec.foreach(x => s += x * x)
            (cid, vec, math.sqrt(s))
          case None => (cid, prev, prevNorm)
        }
      }
    }
    cents
  }

  // cross-engine HALF_UP rounding shared with every op module
  import graft.functions.GraftFunctions.round6

  /** Driver-local Lloyd over the md5-ordered sample — the `trainSample > 0`
    * branch of [[kmeansCentroids]]. Same semantics as the distributed
    * path: rounded-cosine assignment with smallest-cid tiebreak, means
    * rounded to 6 decimals, empty clusters keep their previous centroid. */
  private def kmeansLocal(corpus: DataFrame, k: Int, iters: Int, sample: Int,
                          idCol: String, vecCol: String)
  : Array[(Long, Seq[Double], Double)] = {
    val rows: Array[(Long, Array[Double], Double)] =
      ivfSeedFrame(corpus, sample, idCol, vecCol).collect().map { r =>
        val vec = r.getSeq[Float](1).map(_.toDouble).toArray
        var s = 0.0; vec.foreach(x => s += x * x)
        (r.getLong(0), vec, math.sqrt(s))
      }
    // seeds = first k of the md5 order (k ≤ sample ⇒ identical to the
    // ivfCentroids fetch, without a second job)
    var cents: Array[(Long, Seq[Double], Double)] =
      rows.take(k).map { case (id, v, n) => (id, v.toSeq, n) }
    for (_ <- 1 to iters) {
      val assigned = rows.map { case (_, v, n) =>
        val best = cents.map { case (cid, c, cn) =>
          var dot = 0.0
          var i = 0; while (i < v.length && i < c.length) { dot += v(i) * c(i); i += 1 }
          (round6(dot / (n * cn)), cid)
        }.maxBy { case (s, cid) => (s, -cid) } // score desc, cid asc
        (best._2, v)
      }
      val byCid = assigned.groupBy(_._1)
      cents = cents.map { case (cid, prev, prevNorm) =>
        byCid.get(cid) match {
          case Some(members) =>
            val dim = members.head._2.length
            val vec = (0 until dim).map { p =>
              var s = 0.0; members.foreach(m => s += m._2(p))
              round6(s / members.length)
            }
            var s = 0.0; vec.foreach(x => s += x * x)
            (cid, vec, math.sqrt(s))
          case None => (cid, prev, prevNorm)
        }
      }
    }
    cents
  }

  /** Trained centroids as a (cid, pos, v) DataFrame — the persistable form
    * (store with [[graft.sources.Storage.writeTable]], symmetric to the
    * dedup band index), so ANN queries LOAD centroids instead of
    * retraining: training runs once per corpus version, not per query. */
  def centroidsToDf(spark: org.apache.spark.sql.SparkSession,
                    cents: Array[(Long, Seq[Double], Double)]): DataFrame = {
    import spark.implicits._
    cents.toSeq.flatMap { case (cid, vec, _) =>
      vec.zipWithIndex.map { case (v, pos) => (cid, pos, v) }
    }.toDF("cid", "pos", "v")
  }

  /** Inverse of [[centroidsToDf]]: rebuild the in-plan centroid array
    * (k×d values — a driver-side constant by design) from a stored table. */
  def centroidsFromDf(df: DataFrame): Array[(Long, Seq[Double], Double)] =
    df.select(col("cid").cast("long"), col("pos").cast("int"),
        col("v").cast("double"))
      .collect()
      .groupBy(_.getLong(0)).toArray.sortBy(_._1)
      .map { case (cid, rows) =>
        val vec = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        var s = 0.0; vec.foreach(x => s += x * x)
        (cid, vec, math.sqrt(s))
      }

  /** Rounded cosine of each row's vector against every centroid, as an
    * array of (score, -cid) structs — argmax by struct comparison is
    * per-row (no shuffle, no explode): ties pick the smallest centroid id. */
  private def centroidScores(vecCol: Column, norm: Column,
                             cents: Array[(Long, Seq[Double], Double)]): Column =
    array(cents.toIndexedSeq.map { case (cid, ce, cn) =>
      struct(
        round(array_dot(vecCol, typedLit(ce)) / (norm * lit(cn)), 6).as("s"),
        lit(-cid).as("nc"))
    }: _*)

  /** Nearest-centroid id for one vector column — a single per-row
    * expression (argmax via struct array_max), usable inside any
    * projection so callers never need an assignment join. */
  private def nearestCid(vecCol: Column,
                         cents: Array[(Long, Seq[Double], Double)]): Column = {
    val norm = sqrt(array_dot(vecCol, vecCol))
    (-array_max(centroidScores(vecCol, norm, cents)).getField("nc")).cast("long")
  }

  /** IVF assignment: nearest centroid per vector. One narrow pass. */
  def ivfAssign(corpus: DataFrame, cents: Array[(Long, Seq[Double], Double)],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), nearestCid(col(vecCol), cents).as("cid"))

  /** The stored side of incremental semantic dedup: every corpus vector
    * with its assigned cluster id. Persist this clustered/partitioned BY
    * cid (the lookup key: range-partition and sort on it at scale) so a
    * delta's touched-cluster reads skip everything else, the same way the
    * near-dup band index is clustered by bucket. */
  def buildSemanticIndex(corpus: DataFrame,
                         cents: Array[(Long, Seq[Double], Double)],
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      nearestCid(col(vecCol), cents).as("cid"))

  /** Incremental [[semanticDedup]]: the cosine-≥-threshold pairs a NEW
    * batch introduces against a stored [[buildSemanticIndex]] corpus —
    * delta×stored from a cid equi-join against the index (only the
    * delta's ≤ k touched clusters are read: the cluster ids ride into the
    * stored scan as an IN literal, bounded by the centroid count, so no
    * chunking machinery is needed), delta×delta from a self-join;
    * stored×stored pairs are never re-examined. A vector re-delivered in
    * the delta wins over its stored row (anti-join, broadcast delta ids —
    * the incrementalNearDupsIndexed doctrine). Exactly the batch
    * within-cluster pair set restricted to pairs touching the delta
    * (asserted in SimilarityOpsSpec); centroids must be the ones the
    * index was built with — training happens at index-build time, never
    * per delta. */
  def semanticDedupIncremental(newVecs: DataFrame, storedIndex: DataFrame,
                               threshold: Double,
                               cents: Array[(Long, Seq[Double], Double)],
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val delta = newVecs.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(array_dot(col(vecCol), col(vecCol))).as("nrm"),
        nearestCid(col(vecCol), cents).as("cid"))
      .persist(disk)
    delta.count()
    // touched clusters: at most |cents| ids — a plan-literal IN filter
    // that reaches the cid-clustered stored scan as a set predicate
    val touched = delta.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val stored = storedIndex.filter(col("cid").isin(touched: _*))
      .select(col("cid"), col(idCol).as("sid"), col(vecCol).as("sv"),
        sqrt(array_dot(col(vecCol), col(vecCol))).as("snrm"))
      .join(broadcast(delta.select(col("id"))),
        col("sid") === col("id"), "left_anti")
    val vsStored = delta.join(stored, Seq("cid"))
      .withColumn("cosine",
        cosinePre(col("v"), col("sv"), col("nrm"), col("snrm")))
      .filter(col("cosine") >= threshold)
      .select(least(col("id"), col("sid")).as("id_a"),
        greatest(col("id"), col("sid")).as("id_b"), col("cosine"))
    val b = delta.select(col("cid"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val vsNew = delta.join(b, Seq("cid")).filter(col("id") < col("id_b"))
      .withColumn("cosine",
        cosinePre(col("v"), col("vb"), col("nrm"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id").as("id_a"), col("id_b"), col("cosine"))
    val out = vsStored.union(vsNew).distinct().persist(disk)
    out.count()
    delta.unpersist(false)
    out
  }

  /** Semantic dedup (the SemDeDup recipe — Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus in embedding space, find
    * cosine-≥-threshold pairs WITHIN each cluster only, connect them into
    * components, keep the smallest-id vector per component. Returns every
    * corpus row with `cluster` (component label) and `is_kept` (true for
    * the canonical survivor — exactly the rows a training pipeline
    * retains).
    *
    * This is the published scale path for embedding-space dedup: the pair
    * space is Σ_c |cluster_c|² instead of O(n²) — one equi-join shuffled
    * on the centroid id, with k (the cluster count) the lever that bounds
    * per-cluster population as the corpus grows. Recall is traded at
    * cluster boundaries by design (a near-dup pair split across two
    * centroids is missed); the exact all-pairs baseline is
    * [[nearDupPairs]] and the hyperplane-bucketed middle ground is
    * [[lshNearDupPairs]]. Centroids are caller-supplied so production
    * trains once ([[kmeansCentroids]] → [[centroidsToDf]]) and dedup runs
    * never retrain.
    *
    * Cost shape: one narrow assignment pass (k×d dots per row, no
    * shuffle), the within-cluster join, then connected components over
    * the (by definition sparse) dup edges — per-iteration ordinary
    * shuffled joins, or a single union-find task for small graphs. */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    cents: Array[(Long, Seq[Double], Double)],
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the assignment projection (k×d dots per row) feeds BOTH sides of the
    // within-cluster self-join — persist and materialize so it runs once
    // (the lshNearDupPairs bucketing doctrine)
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(array_dot(col(vecCol), col(vecCol))).as("nrm"),
        nearestCid(col(vecCol), cents).as("cid"))
      .persist(disk)
    graft.pipeline.Timing.stage("semdedup", "assign")(assigned.count())
    val a = assigned.select(col("cid"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cid"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cid")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"))
    // labels are materialized inside connectedComponents before it returns,
    // so the assignment cache has served both its consumers by here (the
    // within-cluster cosine pass is billed to this stage — CC's first
    // action evaluates it)
    val labels = graft.pipeline.Timing.stage("semdedup", "pairs+cc")(
      graft.operators.DedupOps.connectedComponents(pairs))
    assigned.unpersist(false)
    corpus.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("label"), col(idCol)))
      .withColumn("is_kept", col("cluster") === col(idCol))
      .drop("label")
  }

  /** ANN via IVF: probe the `nprobe` nearest centroid lists per query, then
    * exact cosine re-rank over the candidates. The corpus-side shuffle is
    * on the centroid id — |corpus| rows once, reusable across queries; at
    * scale the assignment is precomputed and bucketed by cid. Centroids
    * come from `kmeansIters` Lloyd rounds over the md5 seeds (0 = raw
    * seeds); trained centroids balance the inverted lists, which is what
    * bounds probe cost at N/nlists × nprobe. Training runs over the
    * `trainSample`-bounded md5 sample (see [[kmeansCentroids]]) — a
    * production pipeline trains once, persists via [[centroidsToDf]], and
    * calls [[ivfKnnWith]] with the loaded centroids instead. */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             nCentroids: Int = 16, nprobe: Int = 4, kmeansIters: Int = 2,
             trainSample: Int = 512,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfKnnWith(corpus, queries, k,
      kmeansCentroids(corpus, nCentroids, kmeansIters, trainSample, idCol, vecCol),
      nprobe, idCol, vecCol)

  /** [[ivfKnn]] with PRE-TRAINED centroids — the query-path entry point at
    * scale: centroids load from a stored table ([[centroidsFromDf]]) and no
    * training work runs per query. */
  def ivfKnnWith(corpus: DataFrame, queries: DataFrame, k: Int,
                 cents: Array[(Long, Seq[Double], Double)], nprobe: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // inverted-list build: assignment computed inline — one narrow pass,
    // no assignment-to-vector self-join
    val assigned = corpus
      .select(col(idCol).as("nid"), col(vecCol).as("ne"),
        sqrt(array_dot(col(vecCol), col(vecCol))).as("nn"),
        nearestCid(col(vecCol), cents).as("cid"))

    val qnorm = sqrt(array_dot(col(vecCol), col(vecCol)))
    // top-nprobe probe list: sort the score structs descending — struct
    // order (s desc, -cid desc) ≡ (score desc, cid asc), matching the SQL
    val probes = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qe"), qnorm.as("qn"),
        slice(reverse(array_sort(centroidScores(col(vecCol), qnorm, cents))),
          1, nprobe).as("pr"))
      .select(col("qid"), col("qe"), col("qn"), explode(col("pr")).as("p"))
      .select(col("qid"), col("qe"), col("qn"),
        (-col("p.nc")).cast("long").as("cid"))

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cosine",
        round(array_dot(col("qe"), col("ne")) / (col("qn") * col("nn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rn"))
  }

  /** ANN via LSH: candidates share the query's bucket; exact cosine re-rank
    * inside the bucket. Returns top-k per query with recall bounded by
    * bucket collision probability. `maxBucket` drops over-full corpus
    * buckets from candidate generation (see [[lshNearDupPairs]]) so one
    * degenerate cluster can't dominate the re-rank fan-out. */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             planes: Int = 8, dim: Int = 64, maxBucket: Int = 1000,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // two consumers of the corpus bucketing (hot count + candidate join)
    // in the default capped branch: persist + materialize so the
    // planes·dim projection runs once. Uncapped there is exactly one
    // consumer — caching would ADD a corpus pass for zero reuse.
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val capped = maxBucket != Int.MaxValue
    val cb0 = lshBuckets(corpus, planes, dim, idCol, vecCol)
      .join(corpus, Seq(idCol))
    val cb = if (capped) cb0.persist(disk) else cb0
    if (capped) cb.count()
    val qb = lshBuckets(queries, planes, dim, idCol, vecCol)
      .join(queries, Seq(idCol))
    val hot =
      if (maxBucket == Int.MaxValue) Array.empty[Long]
      else cb.groupBy(col("bucket"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucket)
        .select(col("bucket")).collect().map(_.getLong(0))
    val corpusSide = if (hot.isEmpty) cb
      else cb.filter(!col("bucket").isin(hot.toIndexedSeq: _*))
    val cWithBucket = corpusSide.select(col(idCol).as("nid"), col(vecCol).as("ne"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("nn"), col("bucket"))
    val qWithBucket = qb.select(col(idCol).as("qid"), col(vecCol).as("qe"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("qn"), col("bucket"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    val out = cWithBucket.join(broadcast(qWithBucket), Seq("bucket"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cosine", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rn"))
      .persist(disk)
    out.count()
    if (capped) cb.unpersist(false)
    out
  }

  // -------- scalar quantization (int8 compression for the vector store) ---

  /** Per-dimension [min, max] over the corpus — the scalar-quantization
    * codebook (the affine analogue of the IVF centroid table: train once
    * per corpus version, persist, reuse). One posexplode + map-combined
    * aggregation — a single linear pass; the result is d rows. */
  def sqStats(corpus: DataFrame, vecCol: String = "embedding"): DataFrame =
    corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))

  /** The [[sqStats]] frame as driver-side (mn, mx) arrays — 2×d scalars,
    * the same driver-constant budget as the centroid pull. */
  def sqCodebook(stats: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = stats.select(col("pos").cast("int"), col("mn"), col("mx"))
      .collect().sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** int8 scalar-quantization encode: each dimension affinely mapped to
    * [-128, 127] with its per-dimension codebook range; constant dimensions
    * encode as 0. `floor(x + 0.5)` rather than round() — floor has
    * identical semantics in every engine, half-up round does not. The
    * codebook rides along as broadcast literals, so encoding is a pure
    * per-row projection (no join, no shuffle) — at 100 TB this is the map
    * stage that shrinks the vector store 4× before it ever hits disk. */
  /** The encode expression itself — reusable inside any projection. */
  private def sqCodes(vecCol: Column, mns: Seq[Double], mxs: Seq[Double]): Column = {
    val mn = typedLit(mns)
    val mx = typedLit(mxs)
    transform(vecCol, (v, i) => {
      val lo = element_at(mn, i + 1)
      val hi = element_at(mx, i + 1)
      when(hi > lo,
        (floor((v.cast("double") - lo) / (hi - lo) * 255.0 + 0.5) - 128.0)
          .cast("int"))
        .otherwise(lit(0))
    })
  }

  def sqEncode(corpus: DataFrame, mns: Seq[Double], mxs: Seq[Double],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), sqCodes(col(vecCol), mns, mxs).as("codes"))

  /** ANN over the QUANTIZED domain: candidates ranked by the exact integer
    * dot product of int8 codes (the 4×-cheaper scan a compressed vector
    * store runs at scale), top `k*refine` per query re-ranked by exact
    * float cosine. Integer candidate scores are bit-identical in any
    * engine, so the candidate set — not just the final ranking — is
    * deterministic and oracle-checkable. Queries broadcast; the corpus
    * pass is one narrow projection over codes. */
  def sqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
            mns: Seq[Double], mxs: Seq[Double], refine: Int = 4,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cc = corpus.select(col(idCol).as("nid"), col(vecCol).as("ne"),
      sqCodes(col(vecCol), mns, mxs).as("ncodes"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("nn"))
    val qq = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qe"),
      sqCodes(col(vecCol), mns, mxs).as("qcodes"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("qn")))
    // codegen integer dot — see sqIvfKnn: the interpreted zip_with form
    // was the dominant per-pair cost of the candidate scan
    val qdot = graft.functions.VectorExpressions.array_dot_long(
      col("qcodes"), col("ncodes"))
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("qdot").desc, col("nid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    cc.crossJoin(qq)
      .filter(col("nid") =!= col("qid"))
      .withColumn("qdot", qdot)
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= k * refine)
      .withColumn("cosine", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rn"))
  }

  /** Compressed ANN: IVF probing composed with the int8 candidate scan —
    * the query shape a production vector store actually runs at 100 TB.
    * [[sqKnn]] alone scans every corpus code per query (a crossJoin);
    * [[ivfKnnWith]] alone re-ranks float vectors inside the probed lists.
    * Here the nprobe probed lists bound WHICH codes are scanned (the same
    * `assigned ⨝ broadcast(probes)` equi-join as IVF) and the integer int8
    * dot ranks the candidates (the same 4×-cheaper scan as SQ); only the
    * top k·refine per query are re-ranked by exact float cosine. Per-query
    * cost is nprobe/nlists of the corpus scanned at int8 width — neither
    * piece alone has that cost model. Candidate scores are exact integers
    * and both ranking tiebreaks are on nid, so the candidate set and the
    * final ranking are deterministic and oracle-checkable.
    *
    * Both sketches load from stored tables at scale ([[centroidsFromDf]],
    * [[sqCodebook]]): nothing trains per query. At a real deployment the
    * corpus-side projection (cid + codes) is itself precomputed and
    * bucketed by cid — the in-plan assignment here stands in for reading
    * that stored inverted list.
    *
    * The default `nprobe` is 12 of the 16 default lists — deliberately
    * high: recall is IVF-probe-bounded (the int8 shortlist is measured
    * lossless at refine=4 — see SimilarityOpsSpec), and on a fixture-sized
    * corpus (hundreds of vectors, ~30 per list) a query's 5 true neighbors
    * spread across many lists, so a large probe fraction is what recall
    * ≥ 0.9 costs. At production scale nlists grows ~√n and the probe
    * FRACTION shrinks (12/16 here ≠ 12/4096 there); the operator's cost
    * model — nprobe/nlists of the corpus at int8 width — is what matters,
    * not this fixture's ratio. */
  def sqIvfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
               cents: Array[(Long, Seq[Double], Double)],
               mns: Seq[Double], mxs: Seq[Double],
               nprobe: Int = 12, refine: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = corpus.select(col(idCol).as("nid"), col(vecCol).as("ne"),
      sqCodes(col(vecCol), mns, mxs).as("ncodes"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("nn"),
      nearestCid(col(vecCol), cents).as("cid"))
    val qnorm = sqrt(array_dot(col(vecCol), col(vecCol)))
    val probes = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qe"), qnorm.as("qn"),
        sqCodes(col(vecCol), mns, mxs).as("qcodes"),
        slice(reverse(array_sort(centroidScores(col(vecCol), qnorm, cents))),
          1, nprobe).as("pr"))
      .select(col("qid"), col("qe"), col("qn"), col("qcodes"),
        explode(col("pr")).as("p"))
      .select(col("qid"), col("qe"), col("qn"), col("qcodes"),
        (-col("p.nc")).cast("long").as("cid"))
    // codegen integer dot (ArrayDotLong): the interpreted zip_with form
    // costs more per element than the float codegen dot, which erased the
    // compressed scan's advantage at bench scale
    val qdot = graft.functions.VectorExpressions.array_dot_long(
      col("qcodes"), col("ncodes"))
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("qdot").desc, col("nid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    // a corpus vector has exactly ONE cid, so the probe join emits each
    // (qid, nid) at most once — no DISTINCT pass needed before ranking
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("qdot", qdot)
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= k * refine)
      .withColumn("cosine", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rn"))
  }

  /** Reconstruction-error report for an int8 encoding: decode each code
    * back through the codebook and emit per-vector mean absolute error —
    * the quality gate that decides whether quantized search is usable.
    * Decode + error are per-row (`zip_with` + `aggregate` over the two
    * arrays); only the final summary would aggregate. */
  def sqError(corpus: DataFrame, mns: Seq[Double], mxs: Seq[Double],
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mn = typedLit(mns)
    val mx = typedLit(mxs)
    // encode→decode→|err| fused into ONE per-row expression (no self-join
    // back to the vectors — the decoded value is a function of the input).
    // Each |err| is scaled to nano-units and floored to a LONG before
    // summing: integer sums are associative, so Spark's in-order array fold
    // and a SQL engine's unordered SUM agree exactly (the q_centroids
    // doctrine — float summation order must never reach a compared value).
    val absErrNanos = transform(col(vecCol), (v, i) => {
      val lo = element_at(mn, i + 1)
      val hi = element_at(mx, i + 1)
      val code = floor((v.cast("double") - lo) / (hi - lo) * 255.0 + 0.5)
      val dec = code / 255.0 * (hi - lo) + lo
      floor(abs(v.cast("double") - when(hi > lo, dec).otherwise(lo)) * 1e9 + 0.5)
        .cast("long")
    })
    corpus.select(col(idCol),
      round(aggregate(absErrNanos, lit(0L), (acc, x) => acc + x).cast("double") /
        size(col(vecCol)).cast("double") / 1e9, 6).as("mae"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): the third ANN compression tier past
  // int8 SQ — what large vector stores actually run (FAISS IVF-PQ).
  // The vector splits into `m` subspaces; each sub-vector is replaced
  // by the id of its nearest learned sub-centroid (m·log2(ks) bits per
  // vector: the default 8 subspaces × 256 codes over 64 dims = 8 B/
  // vector, 32× smaller than float32 — the FAISS-standard 8-bit shape;
  // ks is the recall lever: 16/64/256 codes measured 0.36/0.68/0.96
  // recall@5 at refine=4 on the fixture).
  // Query scoring is ADC (asymmetric distance computation): the query
  // precomputes an m×ks table of exact sub-distances ONCE, then every
  // candidate scores as m table lookups — no float math per pair.

  /** PQ codebook: `codebook(sub)(code)` = the sub-centroid vector.
    * Trained driver-local over the md5-ordered sample (the
    * [[kmeansCentroids]] `trainSample` pattern — training state is
    * bounded; the corpus is touched once at encode). Vectors are
    * UNIT-NORMALIZED before splitting (train and encode alike): the
    * ranking metric is cosine, and on the unit sphere L2² = 2 − 2·cos is
    * order-equivalent — raw-scale L2 would rank by magnitude and ADC
    * recall collapses (measured 0.36 unnormalized vs ≥0.9 normalized on
    * the fixture). Per-subspace Lloyd under L2: assignment ties break
    * toward the smallest code, means round to 6 decimals, empty codes
    * keep their previous sub-centroid — the [[kmeansLocal]] conventions,
    * applied per subspace. */
  def pqTrain(corpus: DataFrame, m: Int = 8, ks: Int = 256, iters: Int = 4,
              trainSample: Int = 512,
              idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Array[Double]]] = {
    require(m >= 1 && ks >= 2 && trainSample >= ks,
      s"need m >= 1, ks >= 2, trainSample ($trainSample) >= ks ($ks)")
    val rows: Array[Array[Double]] =
      ivfSeedFrame(corpus, trainSample, idCol, vecCol).collect()
        .map { r =>
          val v = r.getSeq[Float](1).map(_.toDouble).toArray
          var n2 = 0.0; v.foreach(x => n2 += x * x)
          val n = math.sqrt(n2)
          if (n > 0) v.map(_ / n) else v
        }
    require(rows.nonEmpty, "empty training sample")
    val dim = rows.head.length
    require(dim % m == 0, s"m ($m) must divide the dimension ($dim)")
    val dsub = dim / m
    Array.tabulate(m) { sub =>
      val subs = rows.map(v => v.slice(sub * dsub, (sub + 1) * dsub))
      var cents: Array[Array[Double]] = subs.take(ks).map(_.clone())
      for (_ <- 1 to iters) {
        val assigned = subs.map { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0; var i = 0
            while (i < dsub) {
              val t = v(i) - cents(c)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = c } // strict: ties keep min c
            c += 1
          }
          (best, v)
        }
        val byCode = assigned.groupBy(_._1)
        cents = cents.zipWithIndex.map { case (prev, c) =>
          byCode.get(c) match {
            case Some(members) =>
              Array.tabulate(dsub) { i =>
                var s = 0.0; members.foreach(mb => s += mb._2(i))
                graft.functions.GraftFunctions.round6(s / members.length)
              }
            case None => prev
          }
        }
      }
      cents
    }
  }

  /** The codebook as a persistable (sub, code, pos, v) DataFrame —
    * symmetric to [[centroidsToDf]]: train once per corpus version,
    * queries load instead of retraining. */
  def pqCodebookToDf(spark: org.apache.spark.sql.SparkSession,
                     codebook: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      (sub, s) <- codebook.zipWithIndex
      (cent, c) <- sub.zipWithIndex
      (v, p) <- cent.zipWithIndex
    } yield (s, c, p, v)).toSeq.toDF("sub", "code", "pos", "v")
  }

  def pqCodebookFromDf(df: DataFrame): Array[Array[Array[Double]]] = {
    val rows = df.select(col("sub").cast("int"), col("code").cast("int"),
      col("pos").cast("int"), col("v").cast("double")).collect()
    rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (_, subRows) =>
      subRows.groupBy(_.getInt(1)).toArray.sortBy(_._1).map { case (_, cs) =>
        cs.sortBy(_.getInt(2)).map(_.getDouble(3))
      }
    }
  }

  /** The encode expression: per subspace, argmin-L2 sub-centroid id —
    * struct ordering (d2 asc, code asc) makes ties deterministic. Pure
    * per-row higher-order expression; the codebook rides as a broadcast
    * literal, so encoding is the 100 TB map stage (no join, no shuffle). */
  /** PQ code assignment as one compiled per-row loop: unit-normalize
    * (zero vectors stay zero), then per subspace the strict-< nearest
    * sub-centroid (ties keep the smallest code). An in-plan
    * transform/aggregate HOF form was tried first and abandoned: lambda
    * higher-order functions evaluate INTERPRETED outside whole-stage
    * codegen, and at m·ks·dsub ≈ 16k sub-expression evals per corpus
    * row it measured 58 s on the bench fixture where this loop is
    * ~0.1 s — same doubles, same ties, 500× cheaper. */
  private def pqCodes(vec: Seq[Float],
                      codebook: Array[Array[Array[Double]]]): Array[Int] = {
    val m = codebook.length
    val ks = codebook(0).length
    val dsub = codebook(0)(0).length
    val v = new Array[Double](vec.length)
    var n2 = 0.0
    var i = 0
    while (i < v.length) {
      val x = vec(i).toDouble; v(i) = x; n2 += x * x; i += 1
    }
    val nrm = math.sqrt(n2)
    Array.tabulate(m) { sub =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < ks) {
        val cent = codebook(sub)(c)
        var d = 0.0; var j = 0
        while (j < dsub) {
          val x = v(sub * dsub + j)
          val t = (if (nrm > 0) x / nrm else 0.0) - cent(j)
          d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** (nid, ne, ncodes) for the whole corpus via [[pqCodes]]. */
  private def pqCodesFrame(corpus: DataFrame,
                           codebook: Array[Array[Array[Double]]],
                           idCol: String, vecCol: String): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions(_.map { case (id, v) =>
        (id, v, pqCodes(v, codebook).toSeq)
      })
      .toDF("nid", "ne", "ncodes")
  }

  def pqEncode(corpus: DataFrame, codebook: Array[Array[Array[Double]]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    pqCodesFrame(corpus, codebook, idCol, vecCol)
      .select(col("nid").as(idCol), col("ncodes").as("codes"))

  /** Per-query ADC lookup table: lut(sub)(code) = ‖q_sub − cb[sub][code]‖²
    * — computed ONCE per query row (broadcast side), so candidate scoring
    * is m table lookups per pair. */
  private def pqLutExpr(vecCol: Column,
                        codebook: Array[Array[Array[Double]]]): Column = {
    val m = codebook.length
    val ks = codebook(0).length
    val dsub = codebook(0)(0).length
    val cb = typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
    val nrm = sqrt(array_dot(vecCol, vecCol))
    transform(sequence(lit(0), lit(m - 1)), sub =>
      transform(sequence(lit(0), lit(ks - 1)), c => {
        val cent = element_at(element_at(cb, sub + 1), c + 1)
        aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0d),
          (acc, i) => {
            val x = element_at(vecCol, sub * lit(dsub) + i + 1).cast("double")
            val diff = when(nrm > 0, x / nrm).otherwise(lit(0.0d)) -
              element_at(cent, i + 1)
            acc + diff * diff
          })
      }))
  }

  private def pqAdcDist(lutCol: Column, codesCol: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0d), (acc, sub) =>
      acc + element_at(element_at(lutCol, sub + 1),
        element_at(codesCol, sub + 1) + 1))

  /** ANN over the PQ domain: candidates ranked by ADC distance (the
    * compressed scan), top `k*refine` per query re-ranked by exact float
    * cosine — the [[sqKnn]] contract with table lookups instead of an
    * int8 dot. */
  def pqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
            codebook: Array[Array[Array[Double]]], refine: Int = 4,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebook.length
    val cc = pqCodesFrame(corpus, codebook, idCol, vecCol)
      .withColumn("nn", sqrt(array_dot(col("ne"), col("ne"))))
    val qq = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qe"),
      pqLutExpr(col(vecCol), codebook).as("qlut"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("qn")))
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("adist"), col("nid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    cc.crossJoin(qq)
      .filter(col("nid") =!= col("qid"))
      .withColumn("adist", pqAdcDist(col("qlut"), col("ncodes"), m))
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= k * refine)
      .withColumn("cosine", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rn"))
  }

  /** IVF ∘ PQ ∘ exact-refine — the full FAISS-style stack: coarse probe
    * (nprobe inverted lists), ADC shortlist inside the probed lists,
    * exact cosine re-rank of the top `k*refine`. Both sketches are
    * pre-trained, persistable artifacts ([[centroidsToDf]],
    * [[pqCodebookToDf]]); nothing trains in the query path. */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
               cents: Array[(Long, Seq[Double], Double)],
               codebook: Array[Array[Array[Double]]],
               nprobe: Int = 12, refine: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebook.length
    val assigned = pqCodesFrame(corpus, codebook, idCol, vecCol)
      .withColumn("nn", sqrt(array_dot(col("ne"), col("ne"))))
      .withColumn("cid", nearestCid(col("ne"), cents))
    val qnorm = sqrt(array_dot(col(vecCol), col(vecCol)))
    val probes = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qe"), qnorm.as("qn"),
        pqLutExpr(col(vecCol), codebook).as("qlut"),
        slice(reverse(array_sort(centroidScores(col(vecCol), qnorm, cents))),
          1, nprobe).as("pr"))
      .select(col("qid"), col("qe"), col("qn"), col("qlut"),
        explode(col("pr")).as("p"))
      .select(col("qid"), col("qe"), col("qn"), col("qlut"),
        (-col("p.nc")).cast("long").as("cid"))
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("adist"), col("nid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("adist", pqAdcDist(col("qlut"), col("ncodes"), m))
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= k * refine)
      .withColumn("cosine", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rn"))
  }

  /** The PQ index as a stored artifact: (id, codes, cid) — 8 B of codes
    * + one coarse cell per vector. At scale this is written ONCE per
    * corpus version (partition by `cid` so probes prune at the scan)
    * and every query batch reads it instead of re-encoding the corpus. */
  def pqIndex(corpus: DataFrame, cents: Array[(Long, Seq[Double], Double)],
              codebook: Array[Array[Array[Double]]],
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    pqCodesFrame(corpus, codebook, idCol, vecCol)
      .withColumn("cid", nearestCid(col("ne"), cents))
      .select(col("nid").as(idCol), col("ncodes").as("codes"), col("cid"))

  /** IVF-PQ against the STORED index — the shape a 100 TB deployment
    * actually runs: the ADC scan touches ONLY the codes table (8 B/
    * vector, probed lists only), and the exact re-rank point-joins the
    * tiny k·refine shortlist back to the float corpus. Produces exactly
    * [[ivfPqKnn]]'s rows (spec law) — that form re-derives codes and
    * carries float vectors through the scan, right for one-shot calls;
    * this form is right when the index is an artifact. */
  def ivfPqKnnWith(corpus: DataFrame, index: DataFrame, queries: DataFrame,
                   k: Int, cents: Array[(Long, Seq[Double], Double)],
                   codebook: Array[Array[Array[Double]]],
                   nprobe: Int = 12, refine: Int = 4,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val m = codebook.length
    val qnorm = sqrt(array_dot(col(vecCol), col(vecCol)))
    val probes = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qe"), qnorm.as("qn"),
        pqLutExpr(col(vecCol), codebook).as("qlut"),
        slice(reverse(array_sort(centroidScores(col(vecCol), qnorm, cents))),
          1, nprobe).as("pr"))
      .select(col("qid"), col("qe"), col("qn"), col("qlut"),
        explode(col("pr")).as("p"))
      .select(col("qid"), col("qe"), col("qn"), col("qlut"),
        (-col("p.nc")).cast("long").as("cid"))
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("adist"), col("nid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    val shortlist = index
      .select(col(idCol).cast("long").as("nid"), col("codes"), col("cid"))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("adist", pqAdcDist(col("qlut"), col("codes"), m))
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= k * refine)
      .select(col("qid"), col("qe"), col("qn"), col("nid"))
    val floats = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).as("ne"),
      sqrt(array_dot(col(vecCol), col(vecCol))).as("nn"))
    shortlist.join(floats, Seq("nid"))
      .withColumn("cosine", cosinePre(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cosine"), col("rn"))
  }

  // ------------------------------------------------------------------
  // Partitioned HNSW (Malkov & Yashunin, arXiv:1603.09320) — the graph-
  // walk ANN tier large vector stores run beside IVF-PQ. The corpus
  // shards by md5; each shard builds an independent multi-layer
  // navigable-small-world graph in ONE flatMapGroups pass and the edges
  // persist as a plain (shard, level, src, dst) table. Every choice is
  // deterministic — md5-geometric levels (p=1/4 per extra layer, the
  // mL=1/ln 4 regime), insertion in ascending id order, all ties broken
  // by id — so two builds of the same corpus are identical and the
  // stored graph reloads bit-exactly.
  //
  // Scale shape (100 TB): a shard = one executor-resident subgraph
  // (pick nShards so |corpus|/nShards vectors + M·n edges fit executor
  // memory — exactly how hnswlib-style stores shard). Build is one
  // shuffle by shard then local O(n·ef_c·log n) work; the query path
  // ships the bounded query set to every shard (scatter-gather), walks
  // each graph at O(ef·log n) distance evaluations instead of scanning
  // n, and merges per-shard top-k with one window — no corpus shuffle.
  // Graph quality is not oracle-replayable (construction is a greedy
  // walk), so correctness is pinned by spec: recall ≥ 0.9 vs
  // bruteForceKnn, build determinism, and a parquet round-trip; the
  // md5 shard/level assignment IS SQL-replayable and q_hnsw_levels
  // oracles it.

  /** md5-deterministic shard + geometric level for every vector. Level =
    * length of the leading `[0-3]` run of md5(id‖"_lvl") capped at 6 —
    * P(level ≥ L) = 4^-L, the standard geometric ladder, integer-exact
    * on any engine (no float ln, so the DuckDB oracle replays it). */
  /** Shard assignment is a pure function of the ID — [[hnswDelete]]
    * depends on this to find touched shards from a bare tombstone set. */
  private def hnswShardCol(idCol: String, nShards: Int): Column = {
    val hx = md5(col(idCol).cast("string").cast("binary"))
    conv(substring(hx, 1, 4), 16, 10).cast("int") % nShards
  }

  def hnswAssign(corpus: DataFrame, nShards: Int = 4,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val lx = md5(concat(col(idCol).cast("string"), lit("_lvl")).cast("binary"))
    corpus.select(col(idCol), col(vecCol),
      hnswShardCol(idCol, nShards).as("shard"),
      least(length(regexp_extract(lx, "^[0-3]+", 0)), lit(6))
        .cast("int").as("level"))
  }

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Greedy layer descent: move to the best neighbor while one improves
    * (strictly better sim, or equal sim with a smaller id — cannot
    * cycle because the id strictly decreases on ties). */
  private def hnswGreedy(simTo: Int => Double,
                         adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]],
                         start: Int, lev: Int): Int = {
    var cur = start; var curSim = simTo(cur)
    var moved = true
    while (moved) {
      moved = false
      val nbs = adj(cur)(lev)
      var i = 0
      while (i < nbs.length) {
        val nb = nbs(i); val s2 = simTo(nb)
        if (s2 > curSim || (s2 == curSim && nb < cur)) {
          cur = nb; curSim = s2; moved = true
        }
        i += 1
      }
    }
    cur
  }

  /** Beam (ef) search on one layer: classic best-first expansion with a
    * bounded result heap; returns up to `ef` node indices sorted best
    * first. Total (sim, id) orderings everywhere → deterministic. */
  private def hnswBeam(simTo: Int => Double,
                       adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]],
                       entry: Int, lev: Int, ef: Int): Array[Int] = {
    val byBest: Ordering[(Double, Int)] = Ordering.by(t => (t._1, -t._2))
    val visited = scala.collection.mutable.HashSet(entry)
    val cand = scala.collection.mutable.PriorityQueue((simTo(entry), entry))(byBest)
    val res = scala.collection.mutable.PriorityQueue((simTo(entry), entry))(byBest.reverse)
    var stop = false
    while (cand.nonEmpty && !stop) {
      val (cs, c) = cand.dequeue()
      if (res.size >= ef && cs < res.head._1) stop = true // cannot improve
      else {
        val nbs = adj(c)(lev)
        var i = 0
        while (i < nbs.length) {
          val nb = nbs(i)
          if (!visited(nb)) {
            visited += nb
            val s2 = simTo(nb)
            if (res.size < ef || s2 > res.head._1 ||
                (s2 == res.head._1 && nb < res.head._2)) {
              cand.enqueue((s2, nb))
              res.enqueue((s2, nb))
              if (res.size > ef) res.dequeue()
            }
          }
          i += 1
        }
      }
    }
    res.toArray.sortBy(t => (-t._1, t._2)).map(_._2)
  }

  /** Insert at a sorted position — adjacency lists stay CANONICAL
    * (ascending node index), so the beam walks visit neighbours in one
    * fixed order and a shard's graph is a function of its sorted rows
    * alone. */
  private def insSorted(buf: scala.collection.mutable.ArrayBuffer[Int],
                        x: Int): Unit = {
    var lo = 0; var hi = buf.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (buf(mid) < x) lo = mid + 1 else hi = mid
    }
    buf.insert(lo, x)
  }

  /** HNSW construction: insert every node in index order into the
    * (initially empty) canonical adjacency `adj`. The entry point is the
    * first node of the highest level seen so far (it is replaced only on a
    * strict increase). */
  private def insertNodes(
      vecs: Array[Array[Double]], levels: Array[Int],
      adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]],
      m: Int, efC: Int): Unit = {
    val n = vecs.length
    val norms = vecs.map(v => math.sqrt(dotd(v, v)))
    def sim(a: Int, b: Int): Double = {
      val d = norms(a) * norms(b)
      if (d == 0) 0.0 else dotd(vecs(a), vecs(b)) / d
    }
    var ep = -1; var maxLev = -1
    var i = 0
    while (i < n) {
      val li = levels(i)
      if (ep < 0) { ep = i; maxLev = li }
      else {
        val simTo = (x: Int) => sim(i, x)
        var cur = ep
        var lev = maxLev
        while (lev > li) { cur = hnswGreedy(simTo, adj, cur, lev); lev -= 1 }
        while (lev >= 0) {
          val cands = hnswBeam(simTo, adj, cur, lev, efC)
          val cap = if (lev == 0) 2 * m else m
          cands.take(m).foreach { nb =>
            insSorted(adj(i)(lev), nb)
            insSorted(adj(nb)(lev), i)
            if (adj(nb)(lev).length > cap) {
              val pruned = adj(nb)(lev).toArray
                .sortBy(x => (-sim(nb, x), x)).take(cap).sorted
              adj(nb)(lev).clear(); adj(nb)(lev) ++= pruned
            }
          }
          cur = cands.head
          lev -= 1
        }
        if (li > maxLev) { maxLev = li; ep = i }
      }
      i += 1
    }
  }

  private def emitEdges(levels: Array[Int],
      adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]])
      : Array[(Int, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var s = 0
    while (s < levels.length) {
      var lev = 0
      while (lev <= levels(s)) {
        adj(s)(lev).foreach(d => out += ((lev, s, d)))
        lev += 1
      }
      s += 1
    }
    out.toArray
  }

  /** Deterministic single-shard HNSW construction. `ids` ascending;
    * returns directed edges (level, srcIdx, dstIdx) — both directions
    * are present unless degree pruning trimmed one side (the standard
    * asymmetry). Level-0 degree cap is 2M, upper layers M. */
  private[graft] def buildShardGraph(
      ids: Array[Long], vecs: Array[Array[Double]], levels: Array[Int],
      m: Int, efC: Int): Array[(Int, Int, Int)] = {
    val adj = Array.tabulate(ids.length)(i =>
      Array.fill(levels(i) + 1)(scala.collection.mutable.ArrayBuffer.empty[Int]))
    insertNodes(vecs, levels, adj, m, efC)
    emitEdges(levels, adj)
  }

  /** Build the persistable per-shard HNSW edge table:
    * (shard, level, src, dst). One shuffle (by shard), then local
    * deterministic construction per shard. */
  def hnswBuild(corpus: DataFrame, nShards: Int = 4, m: Int = 8,
                efC: Int = 64, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    hnswAssign(corpus, nShards, idCol, vecCol)
      .select(col("shard"), col(idCol).cast("long"),
        col(vecCol).cast("array<double>"), col("level"))
      .as[(Int, Long, Seq[Double], Int)]
      .groupByKey(_._1)
      .flatMapGroups { (shard: Int, it: Iterator[(Int, Long, Seq[Double], Int)]) =>
        val rows = it.toArray.sortBy(_._2)
        val ids = rows.map(_._2)
        buildShardGraph(ids, rows.map(_._3.toArray), rows.map(_._4), m, efC)
          .iterator.map { case (lev, si, di) => (shard, lev, ids(si), ids(di)) }
      }
      .toDF("shard", "level", "src", "dst")
  }

  /** Deletion from a STORED graph (takedowns/opt-outs — routine at
    * 100 TB): the shards holding deleted ids rebuild COLD from their
    * remaining vectors; untouched shards' edges pass through verbatim
    * with no compute. Because each shard's deterministic build depends
    * only on its member vectors in ascending-id order, the law is exact
    * (spec-pinned): `hnswDelete(corpus, graph, del) ≡ hnswBuild(corpus
    * anti-join del)` — not an approximation with tombstone markers the
    * walk must skip, so recall after deletion is the rebuilt graph's
    * recall by construction. Cost ∝ touched shards + one pass-through
    * scan of the untouched edges; a delete batch clustered on few shards
    * (or a shard-partitioned edge table) prunes the rest at the scan.
    * Measured (Bench hnsw_delete_1shard vs hnsw_rebuild_full, medians):
    * 0.31 vs 0.49 s at the 2000-vector fixture — and the gap widens
    * structurally with shard size, since rebuild compute is
    * O(n·efC·log n) per shard × shards while delete pays only the
    * touched shards plus one edge-table scan. Idempotent: ids absent from the corpus only mark shards
    * touched, the rebuild just replays them. */
  def hnswDelete(corpus: DataFrame, graph: DataFrame, deleted: DataFrame,
                 nShards: Int = 4, m: Int = 8, efC: Int = 64,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    val delIds = deleted.select(col(idCol)).distinct()
    val touched = delIds.select(hnswShardCol(idCol, nShards).as("shard"))
      .distinct().as[Int].collect().toSeq.sorted
    val edgeCols = Seq(col("shard").cast("int").as("shard"),
      col("level").cast("int").as("level"),
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val untouched = graph.select(edgeCols: _*)
      .filter(!col("shard").isin(touched: _*))
    if (touched.isEmpty) return untouched
    val remaining = corpus
      .filter(hnswShardCol(idCol, nShards).isin(touched: _*))
      .join(broadcast(delIds), Seq(idCol), "left_anti")
    hnswBuild(remaining, nShards, m, efC, idCol, vecCol)
      .unionByName(untouched)
  }

  /** Delete-then-compact for the row-per-vector stored ANN artifacts —
    * [[pqIndex]] codes, [[ivfAssign]]/SQ tables, anything keyed by the
    * vector id. Encoding is per-row independent, so the law is
    * definitional and spec-pinned anyway: `annIndexDelete(index(C), X) ≡
    * index(C anti-join X)`, and queries against the compacted index over
    * the compacted corpus equal queries against a from-scratch rebuild.
    * One broadcast anti-join; rewrite the partition-pruned output in
    * place for the compaction. */
  def annIndexDelete(index: DataFrame, deleted: DataFrame,
                     idCol: String = "vec_id"): DataFrame =
    index.join(broadcast(deleted.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Walk one shard's reloaded graph for one external query vector:
    * greedy descent from the top layer, beam `ef` at layer 0, top-k by
    * (rounded cosine desc, id). */
  private[graft] def searchShardGraph(
      ids: Array[Long], vecs: Array[Array[Double]], levels: Array[Int],
      adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]],
      q: Array[Double], ef: Int, k: Int): Array[(Long, Double)] = {
    val qn = math.sqrt(dotd(q, q))
    val norms = vecs.map(v => math.sqrt(dotd(v, v)))
    def qsim(i: Int): Double = {
      val d = qn * norms(i)
      if (d == 0) 0.0 else dotd(q, vecs(i)) / d
    }
    var ep = 0; var maxLev = -1
    var i = 0
    while (i < ids.length) { // first id reaching the max = build's entry
      if (levels(i) > maxLev) { maxLev = levels(i); ep = i }
      i += 1
    }
    var cur = ep
    var lev = maxLev
    while (lev > 0) { cur = hnswGreedy(qsim, adj, cur, lev); lev -= 1 }
    // truncate shard-local results under the SAME ordering the cross-shard
    // merge (and the oracle) use — round6(cosine) desc, id asc. Cutting by
    // raw cosine can drop the smaller-id neighbor of a 1e-6 rounding
    // collision straddling the take(k) boundary, breaking the
    // exhaustive-beam == brute-force tie law on other fixtures.
    hnswBeam(qsim, adj, cur, 0, math.max(ef, k))
      .map(x => (ids(x), round6(qsim(x))))
      .sortBy { case (id0, c) => (-c, id0) }
      .take(k)
  }

  /** Scatter-gather kNN over the stored shard graphs: queries are a
    * bounded set (collected once, shipped in the closure — the same
    * discipline as [[bruteForceKnn]]'s broadcast), every shard walks
    * its graph locally, one window merges per-shard top-k. Output
    * matches bruteForceKnn: (qid, nid, cosine, rn), self excluded. */
  def hnswKnn(corpus: DataFrame, graph: DataFrame, queries: DataFrame,
              k: Int, nShards: Int = 4, ef: Int = 64,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              maxQueries: Int = 100000): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    // the bounded-query-set contract, ENFORCED: the query side is collected
    // to the driver and shipped in the closure (kNN serving shape), so a
    // corpus-sized misuse must fail loudly here, not OOM the driver.
    // limit(max+1) keeps the probe O(max) regardless of the input's size.
    val probe = queries.limit(maxQueries + 1).count()
    require(probe <= maxQueries,
      s"hnswKnn collects the query set to the driver (bounded-set " +
        s"contract): got > $maxQueries query rows — batch the queries or " +
        s"raise maxQueries deliberately")
    val qArr = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .map { case (qid, v) => (qid, v.toArray) }
    val vs = hnswAssign(corpus, nShards, idCol, vecCol)
      .select(col("shard"), col(idCol).cast("long"),
        col(vecCol).cast("array<double>"), col("level"))
      .as[(Int, Long, Seq[Double], Int)]
      .groupByKey(_._1)
    val es = graph
      .select(col("shard").cast("int"), col("level").cast("int"),
        col("src").cast("long"), col("dst").cast("long"))
      .as[(Int, Int, Long, Long)]
      .groupByKey(_._1)
    val perShard = vs.cogroup(es) { (_, vit, eit) =>
      val rows = vit.toArray.sortBy(_._2)
      if (rows.isEmpty) Iterator.empty
      else {
        val ids = rows.map(_._2)
        val vecs = rows.map(_._3.toArray)
        val levels = rows.map(_._4)
        val idx = ids.zipWithIndex.toMap
        val adj = Array.tabulate(ids.length)(i =>
          Array.fill(levels(i) + 1)(
            scala.collection.mutable.ArrayBuffer.empty[Int]))
        // shuffle order is arbitrary — sort so adjacency (and thus the
        // beam traversal) is reproducible run to run
        eit.toArray.sortBy(t => (t._2, t._3, t._4)).foreach {
          case (_, lev, s, d) =>
            (idx.get(s), idx.get(d)) match {
              case (Some(si), Some(di)) if lev <= levels(si) =>
                adj(si)(lev) += di
              case _ => ()
            }
        }
        qArr.iterator.flatMap { case (qid, qv) =>
          searchShardGraph(ids, vecs, levels, adj, qv, ef, k + 1)
            .filter(_._1 != qid).take(k)
            .map { case (nid, cos) => (qid, nid, cos) }
        }
      }
    }
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    perShard.toDF("qid", "nid", "cosine")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** [[hnswKnn]] for CORPUS-SIZED query sets — the distributed half of
    * the bounded-set contract: nothing ever touches the driver. Queries
    * replicate to every shard (the scatter of scatter-gather, one
    * exchange of |Q|·nShards slim rows); inside each shard task a
    * cogroupSorted pass buffers ONLY the shard graph (corpus rows sort
    * first — the structure already sized to executor memory) and then
    * STREAMS the query rows one at a time through the same
    * [[searchShardGraph]] walk, so per-task memory is the graph alone
    * regardless of |Q|. One window merges per-shard top-k, identical to
    * [[hnswKnn]] (spec law: equal output on any query set both accept).
    * This is the kNN-graph-construction shape (every doc queries the
    * index — semantic-dedup and hard-negative mining at 100 TB). */
  def hnswKnnJoin(corpus: DataFrame, graph: DataFrame, queries: DataFrame,
                  k: Int, nShards: Int = 4, ef: Int = 64,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    val shards = ss.range(nShards).select(col("id").cast("int").as("shard"))
    val vrows = hnswAssign(corpus, nShards, idCol, vecCol)
      .select(col("shard"), lit(false).as("is_q"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"), col("level"))
    val qrows = queries
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .crossJoin(broadcast(shards))
      .select(col("shard"), lit(true).as("is_q"), col("id"), col("vec"),
        lit(0).as("level"))
    val tagged = vrows.unionByName(qrows)
      .as[(Int, Boolean, Long, Seq[Double], Int)]
      .groupByKey(_._1)
    val es = graph.select(col("shard").cast("int"), col("level").cast("int"),
        col("src").cast("long"), col("dst").cast("long"))
      .as[(Int, Int, Long, Long)]
      .groupByKey(_._1)
    // secondary sort: (is_q, id) puts the shard's corpus rows first in
    // ascending id order (the canonical build order), queries after —
    // the walk starts only when the graph is assembled, and queries
    // never accumulate in memory
    val perShard = tagged.cogroupSorted(es)(col("is_q"), col("id"))(
        col("level"), col("src"), col("dst")) { (_, vit, eit) =>
      val buf = vit.buffered
      val rows =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Int)]
      while (buf.hasNext && !buf.head._2) {
        val r = buf.next(); rows += ((r._3, r._4.toArray, r._5))
      }
      if (rows.isEmpty) Iterator.empty
      else {
        val ids = rows.map(_._1).toArray
        val vecs = rows.map(_._2).toArray
        val levels = rows.map(_._3).toArray
        val idx = ids.zipWithIndex.toMap
        val adj = Array.tabulate(ids.length)(i =>
          Array.fill(levels(i) + 1)(
            scala.collection.mutable.ArrayBuffer.empty[Int]))
        // edges arrive (level, src, dst)-sorted via the cogroup sort —
        // the same canonical reconstruction order hnswKnn sorts into
        eit.foreach { case (_, lev, s, d) =>
          (idx.get(s), idx.get(d)) match {
            case (Some(si), Some(di)) if lev <= levels(si) =>
              adj(si)(lev) += di
            case _ => ()
          }
        }
        buf.flatMap { case (_, _, qid, qv, _) =>
          searchShardGraph(ids, vecs, levels, adj, qv.toArray, ef, k + 1)
            .filter(_._1 != qid).take(k)
            .map { case (nid, cos) => (qid, nid, cos) }
        }
      }
    }
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    perShard.toDF("qid", "nid", "cosine")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }
}
