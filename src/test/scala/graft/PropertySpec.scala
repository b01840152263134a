package graft

import graft.operators.{GoldOps, SilverOps}
import org.apache.spark.sql.functions._

/** Property-based invariants (SURVEY §5): randomized OHLCV frames through
  * the silver/gold operators must satisfy the domain laws regardless of
  * input shape. Ten seeded shapes per law (sizes, ticker counts and value
  * ranges all vary with the seed).
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def genBars(seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val nTickers = 1 + rnd.nextInt(4)
    val nDays = 1 + rnd.nextInt(40)
    val rows = for {
      t <- 0 until nTickers
      d <- 0 until nDays
    } yield {
      // prices at 2-decimal grain, like real quotes (vwap accumulates pv in
      // DECIMAL(18,2) — sub-cent inputs would be a domain violation)
      def cents(x: Double) = math.round(x * 100).toDouble / 100
      val mid = cents(10.0 + rnd.nextDouble() * 90.0)
      val lo = cents(mid - rnd.nextDouble() * 5.0)
      val hi = cents(mid + rnd.nextDouble() * 5.0)
      (s"T$t", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)),
        mid, hi, lo, cents(mid + (rnd.nextDouble() - 0.5)), 100L + rnd.nextInt(1000), 5L)
    }
    rows.toDF("ticker", "date", "open", "high", "low", "close", "volume", "transactions")
  }

  private def forSeeds(f: org.apache.spark.sql.DataFrame => Unit): Unit =
    (1L to 10L).foreach(s => withClue(s"seed=$s ") { f(genBars(s * 7919)) })

  test("forward splits only shrink prices and grow volume; no-split tickers unchanged") {
    forSeeds { bars =>
      val splits = Seq(("T0", java.sql.Date.valueOf("2024-01-15"), 1.0, 2.0))
        .toDF("ticker", "execution_date", "split_from", "split_to")
      val adj = SilverOps.applySplits(bars, splits)
      val joined = bars.as("b").join(adj.as("a"), Seq("ticker", "date"))
        .select($"ticker", $"date",
          $"b.close".as("rawc"), $"a.close".as("adjc"),
          $"b.volume".as("rawv"), $"a.volume".as("adjv"))
      assert(joined.filter($"adjc" > $"rawc" + 1e-9).count() === 0)
      assert(joined.filter($"ticker" =!= "T0")
        .filter($"adjc" =!= $"rawc" || $"adjv" =!= $"rawv").count() === 0)
      assert(joined.filter($"adjv" < $"rawv").count() === 0)
    }
  }

  test("split factors fold per bar: compounded before, skipped when null, 1.0 without splits") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val bars = Seq(
      ("A", "2024-01-05"), ("A", "2024-01-10"), ("A", "2024-01-15"), ("A", "2024-01-25"),
      ("B", "2024-01-05"), ("B", "2024-01-15"), ("B", "2024-01-25"),
      ("C", "2024-01-05"))
      .map { case (t, day) => (t, d(day), 40.0, 48.0, 32.0, 40.0, 101L, 7L) }
      .toDF("ticker", "date", "open", "high", "low", "close", "volume", "transactions")
    // A: 1→2 then 1→4; B: a 2→1 reverse split and a split with no split_to
    val splits = Seq(
      ("A", d("2024-01-10"), Option(1.0), Option(2.0)),
      ("A", d("2024-01-20"), Option(1.0), Option(4.0)),
      ("B", d("2024-01-10"), Option(2.0), Option(1.0)),
      ("B", d("2024-01-20"), Option(1.0), Option.empty[Double]))
      .toDF("ticker", "execution_date", "split_from", "split_to")
    val got = SilverOps.applySplits(bars, splits)
      .select($"ticker", $"date".cast("string"), $"open", $"high", $"low", $"close",
        $"volume", $"transactions")
      .as[(String, String, Double, Double, Double, Double, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // factor per bar, by hand: price × f, volume floor(101 / f)
    val expected = Seq(
      ("A", "2024-01-05", 0.125, 808L), // both splits ahead: 1/2 × 1/4
      ("A", "2024-01-10", 0.25, 404L),  // on the execution date: only the later one
      ("A", "2024-01-15", 0.25, 404L),
      ("A", "2024-01-25", 1.0, 101L),
      ("B", "2024-01-05", 2.0, 50L),    // 101 / 2 = 50.5, floored
      ("B", "2024-01-15", 1.0, 101L),   // only the null-ratio split ahead
      ("B", "2024-01-25", 1.0, 101L),
      ("C", "2024-01-05", 1.0, 101L))
      .map { case (t, day, f, v) => (t, day, 40.0 * f, 48.0 * f, 32.0 * f, 40.0 * f, v, 7L) }
    assert(got === expected)
  }

  test("vwap lies within [min close, max close] per (ticker, year)") {
    forSeeds { bars =>
      val v = GoldOps.vwapSignals(bars)
      val bounds = v.groupBy($"ticker", $"year")
        .agg(min($"close").as("lo"), max($"close").as("hi"))
      val bad = v.join(bounds, Seq("ticker", "year"))
        .filter($"ytd_vwap" < $"lo" - 1e-9 || $"ytd_vwap" > $"hi" + 1e-9)
      assert(bad.count() === 0)
    }
  }

  test("weekly OHLC bounds contain the dailies; volumes add up") {
    forSeeds { daily =>
      val weekly = SilverOps.rollup(daily, "week")
      val keyed = daily.withColumn("wk",
        graft.functions.GraftFunctions.weekBucket($"date"))
      val joined = keyed.join(
        weekly.withColumnRenamed("date", "wk")
          .select($"ticker", $"wk", $"high".as("whigh"), $"low".as("wlow"),
            $"volume".as("wvol")),
        Seq("ticker", "wk"))
      assert(joined.filter($"high" > $"whigh" || $"low" < $"wlow").count() === 0)
      val volCheck = keyed.groupBy($"ticker", $"wk").agg(sum($"volume").as("dv"))
        .join(weekly.withColumnRenamed("date", "wk"), Seq("ticker", "wk"))
        .filter($"dv" =!= $"volume")
      assert(volCheck.count() === 0)
    }
  }

  test("strict rolling mean: null for the first n-1 rows, value from row n on") {
    forSeeds { bars =>
      val ind = SilverOps.indicators(bars)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"ticker").orderBy($"date")))
      assert(ind.filter($"rn" < 20 && $"sma_20".isNotNull).count() === 0)
      assert(ind.filter($"rn" >= 20 && $"sma_20".isNull).count() === 0)
    }
  }

  test("rolling mean equals the naive sliding-frame form (cum-diff rewrite)") {
    forSeeds { bars =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"ticker").orderBy($"date")
      val frame = w.rowsBetween(-19, 0)
      val naive = when(count($"close").over(frame) === 20,
        sum($"close".cast("decimal(18,2)")).over(frame).cast("double") / 20)
      val both = SilverOps.indicators(bars)
        .withColumn("naive_sma", naive)
      // bit-for-bit: the cum-diff sum is the same decimal addends
      assert(both.filter(
        ($"sma_20".isNull =!= $"naive_sma".isNull) ||
          ($"sma_20".isNotNull && $"sma_20" =!= $"naive_sma")).count() === 0)
    }
  }

  test("hash bucket is stable, in range, and split fractions are sane") {
    val b = Tables.documents(spark, sf)
      .select($"doc_id",
        graft.operators.TextOps.hashBucket($"doc_id").as("bucket"),
        graft.operators.TextOps.splitAssign($"doc_id").as("split"))
    assert(b.filter($"bucket" < 0 || $"bucket" >= 100).count() === 0)
    // deterministic: recomputation agrees row-for-row
    val again = Tables.documents(spark, sf)
      .select($"doc_id", graft.operators.TextOps.hashBucket($"doc_id").as("b2"))
    assert(b.join(again, "doc_id").filter($"bucket" =!= $"b2").count() === 0)
    val n = b.count().toDouble
    val train = b.filter($"split" === "train").count() / n
    assert(train > 0.6 && train < 0.95) // 80% ± sampling noise at sf0.001
  }

  test("funnel counts are monotonically non-increasing across steps") {
    val funnel = SparkEntry.queries("q_events_funnel")(spark, sf)
      .orderBy("step").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val v = funnel.getOrElse("1_view", 0L)
    val c = funnel.getOrElse("2_click", 0L)
    val p = funnel.getOrElse("3_purchase", 0L)
    assert(v >= c && c >= p)
  }

  test("interval overlap join matches the naive theta join at every grain") {
    val iv = Tables.orders(spark, sf).filter($"o_orderkey" % 31 === 0)
      .select($"o_orderkey".as("key"),
        $"o_orderdate".cast("date").as("ds"),
        date_add($"o_orderdate".cast("date"), 45).as("de"))
    val a = iv.select($"key".as("ka"), $"ds".as("dsa"), $"de".as("dea"))
    val b = iv.select($"key".as("kb"), $"ds".as("dsb"), $"de".as("deb"))
    val naive = a.join(b, $"ka" < $"kb" && $"dsa" <= $"deb" && $"dsb" <= $"dea")
      .select($"ka", $"kb",
        (datediff(least($"dea", $"deb"), greatest($"dsa", $"dsb")) + lit(1)))
      .collect().map(_.toString).toSet
    for (g <- Seq("week", "month", "quarter", "auto")) {
      val got = graft.operators.IntervalJoin
        .overlapPairs(iv, iv, "key", "ds", "de", grain = g)
        .collect().map(_.toString).toSet
      assert(got === naive, s"grain=$g")
    }
  }

  test("zorder2 is a bijection on 16-bit pairs and preserves tile locality") {
    val pairs = Seq((0, 0), (1, 0), (0, 1), (65535, 65535), (255, 256),
      (12345, 54321), (65535, 0), (0, 65535), (32768, 32768))
    val df = pairs.toDF("x", "y")
      .withColumn("z", graft.functions.GraftFunctions.zorder2($"x", $"y"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // invertible: deinterleave the bits and get (x, y) back exactly
    df.foreach { case (x, y, z) =>
      var (rx, ry) = (0L, 0L)
      for (i <- 0 until 16) {
        rx |= ((z >> (2 * i)) & 1L) << i
        ry |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert((rx, ry) === ((x.toLong, y.toLong)), s"z=$z for ($x,$y)")
    }
    // distinct inputs → distinct z
    assert(df.map(_._3).distinct.length === pairs.length)
  }

  test("near-dup jaccard equals brute-force set jaccard (hashed-set path)") {
    // guards the sorted-hash-set verification: 60-bit hashing + merge
    // count must reproduce exact |A∩B| / |A∪B| over the string shingles
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val docs = (0 until 40).map { i =>
      val n = 5 + (i * 7) % 12
      (i.toLong,
        (0 until n).map(j => vocab((i * 3 + j * 5) % vocab.size)).mkString(" "))
    }
    val pairs = graft.operators.DedupOps
      .minhashNearDups(docs.toDF("doc_id", "text")).collect()
    assert(pairs.nonEmpty, "constructed corpus must contain near-dups")
    def shingles(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+").toVector
      (0 to w.size - 3).map(k => w.slice(k, k + 3).mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }.toMap
    pairs.foreach { r =>
      val (a, b) = (sets(r.getLong(0)), sets(r.getLong(1)))
      val expected = BigDecimal(a.intersect(b).size.toDouble / a.union(b).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === expected,
        s"pair (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("containment dominates jaccard and matches brute-force overlap") {
    // overlap = |A∩B|/min(|A|,|B|) ≥ |A∩B|/|A∪B| = jaccard on every pair,
    // and both must equal the direct set computation on a derived corpus
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota")
    val docs = (0 until 30).map { i =>
      val n = 4 + (i * 5) % 14
      (i.toLong,
        (0 until n).map(j => vocab((i * 2 + j * 7) % vocab.size)).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val over = graft.operators.DedupOps
      .ngramContainmentPairs(df, shingleN = 2, maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val jac = graft.operators.DedupOps
      .ngramJaccardPairs(df, shingleN = 2, maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(over.nonEmpty && over.keySet === jac.keySet)
    def bigrams(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+").toVector
      (0 to w.size - 2).map(k => w.slice(k, k + 2).mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> bigrams(t) }.toMap
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    over.foreach { case ((a, b), (ov, ca)) =>
      val (sa, sb) = (sets(a), sets(b))
      val inter = sa.intersect(sb).size
      assert(ov === r6(inter.toDouble / math.min(sa.size, sb.size)))
      assert(ca === r6(inter.toDouble / sa.size))
      assert(ov >= jac((a, b)))
    }
  }

  test("skyline keeps exactly the non-dominated points") {
    val rows = SparkEntry.queries("q_skyline")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val all = Tables.part(spark, sf)
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def cents(d: Double) = math.round(d * 100)
    def dominated(p: (Long, Double, Int)) =
      all.exists(q => cents(q._2) < cents(p._2) && q._3 > p._3)
    val kept = rows.map(_._1).toSet
    all.foreach { p =>
      assert(kept.contains(p._1) === !dominated(p),
        s"part ${p._1}: kept=${kept.contains(p._1)} dominated=${dominated(p)}")
    }
  }

  test("url normalization is idempotent over the salted crawl fixture") {
    import graft.operators.WebOps
    val urls = SparkEntry.queries("q_url_normalize")(spark, sf)
      .select(col("norm_url").as("url"))
    val twice = urls.select(col("url"),
      WebOps.normalizeUrl(col("url")).as("again"))
      .filter(col("again") =!= col("url"))
    assert(twice.count() === 0,
      s"re-normalizing must be a no-op: ${twice.take(3).mkString(", ")}")
  }

  test("pii redaction is idempotent and leaves no pattern hits behind") {
    import graft.operators.TextOps
    val redacted = SparkEntry.queries("q_pii_redact")(spark, sf)
      .select(col("doc_id"), col("redacted").as("text"))
    // second pass changes nothing (placeholders contain no digits or '@')
    val twice = TextOps.piiRedact(redacted)
      .filter(col("was_redacted"))
    assert(twice.count() === 0, "second redaction pass must be a no-op")
    // and the screening op agrees: zero residual hits
    val residual = TextOps.piiStats(redacted).filter(col("n_pii") > 0)
    assert(residual.count() === 0, "no pattern may survive redaction")
  }

  // ---- span-dedup differential properties: the distributed operators
  // must equal a direct single-threaded reference implementation on
  // randomized word-soup corpora (10 seeded shapes — doc counts, lengths
  // and vocab draw all vary), including empty docs and docs shorter
  // than the gram width.

  private def genCorpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    (0 until (5 + rnd.nextInt(20))).map { i =>
      val len = rnd.nextInt(25)
      (i.toLong,
        (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }

  private def refWords(t: String): Vector[String] =
    t.trim.toLowerCase.split("\\s+").toVector

  private def refLattice(docs: Seq[(Long, String)], n: Int)
      : Seq[(Long, Int, String)] =
    for {
      (id, t) <- docs
      w = refWords(t)
      p <- 0 to w.length - n
    } yield (id, p, w.slice(p, p + n).mkString(" "))

  private def islands(ps: Seq[Int]): Seq[Seq[Int]] =
    ps.sorted.foldLeft(Vector.empty[Vector[Int]]) { (acc, p) =>
      if (acc.nonEmpty && acc.last.last == p - 1)
        acc.init :+ (acc.last :+ p)
      else acc :+ Vector(p)
    }

  test("duplicatedSpans equals the direct reference on random corpora") {
    val n = 3
    (1L to 10L).foreach { seed =>
      val docs = genCorpus(seed * 104729)
      val grams = refLattice(docs, n)
      val df = grams.groupBy(_._3)
        .map { case (g, xs) => g -> xs.map(_._1).distinct.size }
      val dup = grams.filter(g => df(g._3) >= 2)
      val expect = dup.groupBy(_._1).toSeq.flatMap { case (id, xs) =>
        islands(xs.map(_._2)).map(is => (id, is.head, is.size + n - 1))
      }.toSet
      val got = graft.operators.DedupOps.duplicatedSpans(
          docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got === expect, s"seed=$seed")
    }
  }

  test("removeDuplicatedSpans equals the direct reference on random corpora") {
    val n = 3
    (1L to 10L).foreach { seed =>
      val docs = genCorpus(seed * 15485863)
      val grams = refLattice(docs, n)
      val byGram = grams.groupBy(_._3)
      val stats = byGram.collect {
        case (g, xs) if xs.map(_._1).distinct.size >= 2 =>
          g -> xs.map(_._1).min
      }
      val covered = (for {
        (id, p, g) <- grams
        owner <- stats.get(g).toSeq if id != owner
        k <- 0 until n
      } yield (id, p + k)).toSet
      val expect = docs.map { case (id, t) =>
        val w = refWords(t)
        val kept = w.indices.filterNot(i => covered((id, i))).map(w)
        (id, w.length.toLong,
          w.indices.count(i => covered((id, i))).toLong, kept.mkString(" "))
      }.toSet
      // both the default rebuild path AND the opt-in pass-through tier
      // must equal the reference — the tier is a plan choice, never a
      // semantics choice (it lost its default status on measurement, but
      // stays available and must stay correct)
      for (pt <- Seq(false, true)) {
        val got = graft.operators.DedupOps.removeDuplicatedSpans(
            docs.toDF("doc_id", "text"), passThrough = pt)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
          .toSet
        assert(got === expect, s"seed=$seed passThrough=$pt")
      }
    }
  }

  test("sq encode/decode error is bounded by half a step in EVERY dimension") {
    import graft.operators.SimilarityOps
    val e = Tables.embeddings(spark, sf)
    val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(e))
    val steps = mns.zip(mxs).map { case (lo, hi) => (hi - lo) / 255.0 }
    val rows = e.select(col("vec_id"), col("embedding")).collect()
    val codeRows = SimilarityOps.sqEncode(e, mns, mxs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { r =>
      val vec = r.getSeq[Float](1)
      val codes = codeRows(r.getLong(0))
      vec.indices.foreach { i =>
        val dec = (codes(i) + 128.0) / 255.0 * (mxs(i) - mns(i)) + mns(i)
        assert(math.abs(vec(i) - dec) <= steps(i) / 2 + 1e-9,
          s"vec ${r.getLong(0)} dim $i: ${vec(i)} decoded $dec step ${steps(i)}")
      }
    }
  }
}
