package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * quality scoring, language ID, fingerprinting (builder brief; these are
  * first-class alongside SURVEY §2).
  *
  * Everything is built from codegen'd `functions._` expressions — no UDFs —
  * so the whole module stays inside whole-stage codegen and scales linearly
  * with no shuffle (all per-row; only consumers aggregate).
  */
object TextOps {

  /** Pre-partition a CPU-dense per-row/aggregate stage's input by the doc
    * id when the input is SMALL (zero-job optimizer-stats gate): small
    * inputs are one or two scan splits (single-row-group parquet is
    * unsplittable — optimization guide §2.5 "input skew"), and AQE's
    * byte-based coalescing collapses downstream exchanges to 1-2
    * partitions on small-byte shuffles (minPartitionSize floors at 1 MB),
    * so per-word/per-gram hash and regex work runs nearly serial no
    * matter the core count — measured at sf0.1/local[32]: the minhash
    * signature stage dropped 0.99 → 0.30 s once widened
    * (OPTIMIZATION_r12.md §5, interleaved A/B). An EXPLICIT numbered
    * repartition is exempt from AQE coalescing, its id key is reused by
    * the doc-grain windows/aggregations these operators run (no second
    * exchange appears), and redistribution cannot change any value
    * (every operator here is partitioning-independent by the repo's
    * exactness doctrine — verified 327/327 at both oracle SFs with this
    * in place). The gate keeps production-scale inputs on the default
    * path — many splits + AQE byte sizing are correct there — and bounds
    * the fired exchange at cores × 4 MB of text, so it can never
    * introduce a corpus-scale shuffle. */
  private[operators] def docParallel(docs: DataFrame,
                                     idCol: String): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    val small = docs.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(sc.defaultParallelism.toLong * (4L << 20))
    if (small) docs.repartition(sc.defaultParallelism, col(idCol)) else docs
  }

  /** Deterministic hash bucket in [0, buckets) from an id column: the
    * reproducible way to sample or split a 100 TB corpus. `rand()` sampling
    * changes membership on every re-run/re-partition; hashing the stable id
    * gives the same train/val/test membership on any cluster, any engine
    * (the bucket is md5-derived, so a SQL oracle recomputes it exactly).
    * Bias from 65536 % buckets is ≤ 1/655 per bucket for buckets=100.
    * Per-row, no shuffle, stays in whole-stage codegen. */
  def hashBucket(id: Column, buckets: Int = 100): Column = {
    val h = md5(id.cast("string").cast("binary"))
    def hexVal(i: Int): Column = {
      val c = ascii(substring(h, i, 1))
      when(c >= 97, c - 87).otherwise(c - 48)
    }
    (hexVal(1) * 4096 + hexVal(2) * 256 + hexVal(3) * 16 + hexVal(4)) % buckets
  }

  /** Train/val/test assignment from [[hashBucket]]: buckets below
    * `trainPct` → "train", next `valPct` → "val", rest → "test". */
  def splitAssign(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(id)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Deterministic shuffle-and-shard — the training-output step: every
    * doc gets a reproducible shard ([[hashBucket]]) and a pseudo-random
    * position WITHIN its shard (md5 order, doc_id tiebreak). The position
    * windows per shard, so the ordering parallelizes across shards and no
    * global sort ever materializes — re-runs, re-partitions and other
    * engines all reproduce the identical training order. */
  def shardAssign(docs: DataFrame, shards: Int = 8,
                  idCol: String = "doc_id"): DataFrame = {
    require(shards >= 1, s"shards must be positive: $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    docs.select(col(idCol).as("doc_id"),
        hashBucket(col(idCol), shards).as("shard"),
        md5(col(idCol).cast("string").cast("binary")).as("k"))
      .withColumn("pos_in_shard", (row_number().over(w) - 1).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos_in_shard"))
  }

  /** Whitespace-collapsed lowercase normal form — the dedup key basis. */
  def normalize(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Word array (lowercased, whitespace-split). */
  def words(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** n-word shingles, distinct — MinHash/Jaccard input. */
  def shingles(text: Column, n: Int): Column = {
    val w = words(text)
    array_distinct(
      when(size(w) >= n,
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
        .otherwise(array().cast("array<string>")))
  }

  /** Whitespace token count. Value-identical to size([[words]](text)) —
    * split keeps leading/trailing empty tokens (Spark split limit = -1)
    * and yields [""] (size 1) on an empty input, so for s = trim(text):
    * size(split(s)) = (number of \s+ runs in s) + 1, including the
    * whitespace-only and empty cases (PropertySpec pins the equality over
    * generated corpora). Counted that way (r11): one collapsed copy via
    * regexp_replace + a translate length instead of materializing the
    * lowered copy AND the whole word array per row just to take its size
    * (guide §1.2 step 2 — this projection is the hot loop of
    * q_text_quality/corpus accounting; lower() can't change \s chars, so
    * dropping it is free). */
  def tokenCountWs(text: Column): Column = {
    val s = trim(text)
    val collapsed = regexp_replace(s, "\\s+", " ")
    (length(collapsed) - length(translate(collapsed, " ", ""))) + 1
  }

  /** BPE-ish token count: runs of letters or digits (a cheap proxy for
    * subword tokenizers when estimating corpus token budgets). */
  def tokenCountRegex(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+"))

  /** Quality metrics: char/word counts, mean word length, punctuation and
    * whitespace ratios — the filter basis for corpus cleaning (integer-exact
    * arithmetic, so any SQL oracle agrees bit-for-bit). */
  def qualityMetrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nWords = tokenCountWs(t)
    // translate, not regex (r11): both single-char classes here (\s and
    // [a-zA-Z0-9\s]) are finite character SETS, so stripping them is a
    // per-char table lookup — no regex engine, no rewritten-copy-per-
    // metric. length(regexp_replace(t, C, "")) ≡ length(translate(t,
    // <chars of C>, "")) char for char (Java \s = exactly these six), so
    // the integers — and the IEEE divisions over them — are unchanged.
    // (regexp_count was tried first and is WORSE: Spark expands it to
    // size(regexp_extract_all(…)), allocating a 1-char string per match —
    // measured 2× q_text_quality. Guide §1.2 step 2: per-task work.)
    val wsChars = " \t\n\u000B\f\r"
    val alnumWs =
      (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString + wsChars
    val nNonSpace = length(translate(t, wsChars, ""))
    val nPunct = length(translate(t, alnumWs, ""))
    df
      .withColumn("n_chars_calc", nChars)
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", nNonSpace.cast("double") / nWords)
      .withColumn("punct_ratio", nPunct.cast("double") / nChars)
      .withColumn("space_ratio",
        (nChars - nNonSpace).cast("double") / nChars)
  }

  /** Word-repetition statistics — the Gopher-style quality signal for
    * corpus cleaning: a high repetition ratio or a dominant single word
    * marks boilerplate/spam. Explode → two hash aggregates on (doc, word)
    * then (doc); all counts integral, the ratio is one double division.
    * At scale both shuffles hash-partition on doc_id-led keys. */
  def wordStats(df: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val w = docParallel(df, idCol).select(col(idCol),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    w.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("f"))
      .groupBy(col(idCol)).agg(
        sum(col("f")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max(col("f")).as("max_word_freq"))
      .select(col(idCol), col("n_words"), col("n_distinct_words"),
        round(lit(1.0) - col("n_distinct_words").cast("double") /
          col("n_words"), 6).as("rep_ratio"),
        col("max_word_freq"))
  }

  /** Per-document character-level Shannon entropy (bits/char) — the
    * low-entropy screen (repeated filler, base64/hex blobs, padded
    * boilerplate) that complements the word/phrase repetition families.
    * Computed order-independently from per-char counts via
    * H = log2(n) − (Σ c·log2 c)/n. The exchange after the map-side partial
    * agg carries ≤|alphabet| (~100) rows per doc — NOT n_chars rows — so
    * the shuffle is corpus-rows-bounded at 100 TB, same shape as
    * [[wordStats]]. */
  def charEntropy(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docParallel(df, idCol)
      .select(col(idCol), explode(split(col(textCol), "")).as("c"))
      .filter(col("c") =!= "")
      .groupBy(col(idCol), col("c")).agg(count(lit(1)).as("n"))
      .groupBy(col(idCol)).agg(
        sum(col("n")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        round(log2(sum(col("n")).cast("double")) -
          sum(col("n").cast("double") * log2(col("n").cast("double"))) /
            sum(col("n")), 6).as("char_entropy"))

  /** C4-style blocklist screen: per doc, total banned-token occurrences,
    * distinct banned tokens hit, and the keep flag. Pure per-row
    * projection over the word array (the ban list rides inline in the
    * plan — at a realistic list size it would broadcast) — no shuffle,
    * no join, scan-adjacent at any corpus size. */
  def blocklistScreen(docs: DataFrame, banned: Seq[String],
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(banned.nonEmpty, "banned list must not be empty")
    val bl = array(banned.map(lit): _*)
    val w = words(col(textCol))
    docs.select(col(idCol).as("doc_id"),
        size(filter(w, x => array_contains(bl, x))).as("n_banned_hits"),
        size(array_intersect(array_distinct(w), bl))
          .as("n_banned_distinct"))
      .withColumn("is_clean", col("n_banned_hits") === 0)
  }

  /** Top-`vocabSize` corpus vocabulary (by frequency, ties broken by
    * word) and each doc's out-of-vocabulary rate against it — the
    * tokenizer-prep signal: how much of the corpus a fixed-size vocab
    * covers, and which docs fall outside it (transliteration noise,
    * code, other-language contamination all surface as high OOV).
    *
    * Scale shape: the vocabulary is one map-combined word count +
    * TakeOrdered top-V (V rows to the driver-side plan, never the corpus),
    * broadcast back onto the token stream; the per-doc rollup aggregates
    * on doc_id. No corpus-sized shuffle anywhere — the token explode
    * stays inside one stage with its aggregation. */
  def vocabOov(docs: DataFrame, vocabSize: Int = 20,
               textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("word"))
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(vocabSize)
      .select(col("word").as("v_word"))
    toks.join(broadcast(vocab), col("word") === col("v_word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("v_word").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** Sparse TF-IDF cosine similarity pairs via the inverted-index join —
    * the term-space sibling of the embedding near-dup family. Weights are
    * tf · round(log2(N/df)·1e6) exact longs (the micro-unit doctrine), so
    * dot products and norms accumulate exactly and the cosine is one
    * shared IEEE tree.
    *
    * Scale shape: the pair space is generated PER TERM (df² pairs for a
    * term shared by df docs), so `maxDf` caps the fan-out exactly like
    * [[graft.operators.DedupOps.ngramJaccardPairs]]' df cap — a stopword
    * shared by a million docs never joins. Terms with df < 2 are pruned
    * (they can't pair). One term-keyed exchange for the join, one
    * pair-keyed aggregation.
    */
  def tfidfCosinePairs(df: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", maxDf: Int = 100,
                       minCos: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = df.select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("t"))
      .filter(col("t") =!= "")
    val tf = w.groupBy("id", "t").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf)
    val n = df.agg(countDistinct(col(idCol)).as("nn"))
    val weights = tf.join(dfreq, "t").crossJoin(broadcast(n))
      .select(col("id"), col("t"),
        (col("tf") * round(log2(col("nn").cast("double") / col("df")) *
          1000000).cast("long")).as("wt"))
    val norms = weights.groupBy("id")
      .agg(sum(col("wt").cast(DecimalType(38, 0)) * col("wt")).as("nrm"))
    val dots = weights.select(col("t"), col("id").as("id_a"), col("wt").as("wa"))
      .join(weights.select(col("t"), col("id").as("id_b"), col("wt").as("wb")),
        "t")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("wa").cast(DecimalType(38, 0)) * col("wb")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("nrm").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          6).as("cosine"))
      .where(col("cosine") >= minCos)
  }

  /** Flesch reading-ease score per document — the readability member of
    * the quality family. Heuristic syllables = vowel-group runs (the
    * standard regex approximation); sentences = terminal-punctuation
    * runs, floored at 1. All three inputs are integer regexp counts, so
    * the score is one shared IEEE tree over exact ints — per-row, no
    * shuffle, RE2-safe patterns (the PII doctrine). */
  def readability(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val w = size(split(trim(col(textCol)), "\\s+")).cast("double")
    val s = greatest(lit(1),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))))
      .cast("double")
    val syl = greatest(lit(1),
      size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0))))
      .cast("double")
    df.select(col(idCol), w.cast("long").as("n_words"),
      s.cast("long").as("n_sentences"), syl.cast("long").as("n_syllables"),
      round(lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (syl / w), 6)
        .as("flesch"))
  }

  /** n-gram repetition statistics — the second Gopher-style repetition
    * family: [[wordStats]] catches single-word spam, this catches looped
    * PHRASES (a doc that repeats "click here to subscribe" scores low on
    * word repetition but high here). Per doc: total/distinct n-gram
    * occurrences, the repeated fraction, and the dominant n-gram's share.
    * Built on the posexplode + window `lead` shape (the measured-fast
    * shingle path — array lambdas were ~11× slower at sf0.1), WITHOUT the
    * distinct: counts matter here. Docs shorter than n words emit no row.
    * Two doc_id-led hash aggregations; uniformly partitioned at scale. */
  def ngramRepetition(df: DataFrame, n: Int = 2, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val ws = docParallel(df, idCol).select(col(idCol).as("doc_id"),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val withLeads = (1 until n).foldLeft(ws)((acc, k) =>
      acc.withColumn(s"w$k", lead(col("w"), k).over(w)))
    val grams = (if (n == 1) withLeads
      else withLeads.filter(col(s"w${n - 1}").isNotNull))
      .select(col("doc_id"), concat_ws(" ",
        col("w") +: (1 until n).map(k => col(s"w$k")): _*).as("sh"))
    grams.groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("mx"))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_ngrams"), 6).as("rep_fraction"),
        round(col("mx").cast("double") / col("n_ngrams"), 6).as("top_fraction"))
  }

  /** Bigram language-model quality score — the KenLM-style perplexity
    * filter of web-scale curation pipelines (CCNet/RedPajama), self-trained:
    * the corpus's own bigram statistics are the model, and each document
    * scores as mean -log2 P(w_i | w_{i-1}) with Laplace smoothing
    * P = (c(w1,w2) + 1) / (c(w1·) + V). Low bits/token = predictable,
    * natural text; high = gibberish or shredded boilerplate.
    *
    * Exactness doctrine: probabilities are exact integer-count ratios
    * evaluated in one shared double tree, each bigram's -log2 rounded to 6
    * decimals and accumulated as DECIMAL(28,6) — so the per-doc mean is
    * order/partitioning-independent and replays bit-for-bit in SQL.
    *
    * Scale shape: the bigram stream (posexplode + lead — the measured-fast
    * shingle path) is the corpus-linear cost; counts are two map-combined
    * aggs; the per-doc score is one join of the stream against its own
    * (much smaller) count tables plus a broadcast vocab scalar. The model
    * tables are reusable: score NEW deltas against stored counts without
    * rescanning the corpus. */
  def lmScore(df: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val ws = docParallel(df, idCol).select(col(idCol).as("doc_id"),
      posexplode(words(col(textCol))).as(Seq("pos", "w1")))
    val bi = ws.withColumn("w2", lead(col("w1"), 1).over(win))
      .filter(col("w2").isNotNull)
    val cb = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cp = bi.groupBy(col("w1")).agg(count(lit(1)).as("cp"))
    val v = ws.agg(count_distinct(col("w1")).as("v"))
    bi.join(cb, Seq("w1", "w2")).join(cp, Seq("w1")).crossJoin(broadcast(v))
      .select(col("doc_id"),
        round(-log2((col("cb") + lit(1)).cast("double") /
          (col("cp") + col("v")).cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("contrib")).cast("double") / count(lit(1)), 6)
          .as("bits_per_token"))
  }

  /** Marker-word occurrence count: occurrences of ` pat ` in ` text `
    * (space-padded so word boundaries are exact). Counted with
    * regexp_count (r11), not the replace-and-measure form the oracle
    * keeps: both count the same left-to-right non-overlapping matches of
    * the same literal needle, so the integers are identical, and counting
    * skips materializing a rewritten copy of the doc per marker — langId
    * runs 12 markers, so this drops 12 full-text rewrites per row
    * (guide §1.2 step 2). */
  private def markerCount(t: Column, pat: String): Column = {
    val padded = concat(lit(" "), lower(t), lit(" "))
    regexp_count(padded, lit(s" $pat "))
  }

  /** Language markers per language — tiny stopword lists. A real system
    * swaps in fastText/CLD3 scores; the heuristic keeps the pipeline
    * self-contained and deterministic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "y"))

  /** Language-ID: per-language marker scores + argmax guess (fixed priority
    * order on ties — earlier in [[langMarkers]] wins). */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val scored = langMarkers.foldLeft(df) { case (acc, (lang, ms)) =>
      acc.withColumn(s"score_$lang",
        ms.map(markerCount(t, _)).reduce(_ + _).cast("double"))
    }
    val scores = langMarkers.map { case (l, _) => col(s"score_$l") }
    val guess = langMarkers.zipWithIndex.foldRight(lit("und")) {
      case (((lang, _), i), elseCol) =>
        val isMax = langMarkers.indices
          .filter(_ != i)
          .map(j => scores(i) >= scores(j))
          .reduce(_ && _)
        when(scores(i) > 0 && isMax, lit(lang)).otherwise(elseCol)
    }
    scored.withColumn("lang_guess", guess)
  }

  /** Document fingerprint: md5 of the normal form, plus a 4-hex shard key —
    * the partition-friendly identity for exact dedup at 100 TB (dedup
    * becomes a shuffle on the fingerprint, perfectly balanced by the hash). */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame =
    df
      .withColumn("fingerprint", md5(normalize(col(textCol)).cast("binary")))
      .withColumn("shard_key", substring(col("fingerprint"), 1, 4))

  /** PII patterns, shared by [[piiStats]] and [[piiRedact]]. Deliberately
    * restricted to constructs with identical semantics in Java regex and
    * RE2-style engines (no lookaround, no backreferences), so the exact
    * same pattern string oracles in any SQL dialect. A production system
    * layers validators on top (checksum'd card numbers, TLD lists); the
    * pattern tier is the cheap per-row screen that runs over all 100 TB. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4"  -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\b\\d{3}-\\d{3}-\\d{4}\\b")

  /** Per-doc PII hit counts (one column per [[piiPatterns]] entry) plus the
    * total — the screening report a corpus release gate needs before the
    * redaction pass. Pure `regexp_count` projections: per-row, no shuffle,
    * whole-stage codegen. */
  def piiStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val counted = piiPatterns.foldLeft(df) { case (acc, (name, pat)) =>
      acc.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)))
    }
    counted.withColumn("n_pii",
      piiPatterns.map { case (n, _) => col(s"n_$n") }.reduce(_ + _))
  }

  /** PII redaction: every [[piiPatterns]] match replaced by its
    * `<TYPE>` placeholder, applied in declaration order (email first —
    * its local part may contain digit runs the narrower patterns would
    * otherwise mangle mid-address). Emits the redacted text and a
    * was-redacted flag so downstream filters can count touched docs
    * without re-scanning. Per-row, no shuffle. */
  def piiRedact(df: DataFrame, textCol: String = "text"): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (acc, (name, pat)) =>
        regexp_replace(acc, lit(pat), lit(s"<${name.toUpperCase}>"))
    }
    df.withColumn("redacted", redacted)
      .withColumn("was_redacted", col("redacted") =!= col(textCol))
  }

  /** Priority sampling (Duffield-Lund-Thorup, SIGMOD'05): weighted
    * sampling without replacement where priority = w/u with u uniform in
    * (0,1]. u derives from md5(id): the first 13 hex chars parse to an
    * integer v < 2^52, and u = (v+1)/2^52 — every step (hex parse,
    * +1, divide by a power of two, w/u) is exact or a single shared IEEE
    * op, so the sample membership AND priorities are reproducible across
    * engines, re-runs and repartitions (a `rand()` sample is none of
    * those). Returns the top-k rows by (priority DESC, id) plus
    * `est_weight = max(w, τ)` where τ is the (k+1)-th priority — the DLT
    * unbiased subset-sum estimator.
    *
    * Scale: the global top-(k+1) plans as TakeOrderedAndProject (per-
    * partition partial top-k, no global sort), and τ joins back as a
    * broadcast scalar. */
  def prioritySample(df: DataFrame, k: Int, weightCol: String,
                     idCol: String = "doc_id"): DataFrame = {
    val v = conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 13), 16, 10).cast("long")
    val u = (v + 1).cast("double") / lit(4503599627370496.0) // 2^52
    val prio = df
      .withColumn("priority", col(weightCol).cast("double") / u)
      .orderBy(col("priority").desc, col(idCol))
      .limit(k + 1)
    val withRn = prio.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("priority").desc, col(idCol))))
    // τ as an AGGREGATE (not a filtered frame): when the input has ≤ k
    // rows there is no (k+1)-th priority, max() returns null, and τ
    // coalesces to 0 so est_weight = w — the DLT n ≤ k contract (take
    // everything, exact weights). The filtered-frame form returned zero
    // rows there and the crossJoin annihilated the whole sample.
    val tau = withRn
      .agg(max(when(col("rn") === k + 1, col("priority"))).as("tau"))
      .select(coalesce(col("tau"), lit(0.0)).as("tau"))
    withRn.filter(col("rn") <= k).drop("rn")
      .crossJoin(broadcast(tau))
      .withColumn("est_weight",
        greatest(col(weightCol).cast("double"), col("tau")))
  }

  /** Okapi BM25 scores of every document against a fixed query-term set
    * (k1 = 1.2, b = 0.75). Term statistics follow [[words]] + the ≥3-char
    * filter (the q_tfidf convention); dl = per-doc filtered term count,
    * avgdl = corpus mean. Per-term contributions land in fixed-order
    * conditional sums and total left-associatively — float sums over an
    * unordered aggregation would be partitioning-dependent; ≤|Q| pivoted
    * columns added in query order are not. Only documents containing at
    * least one query term appear.
    *
    * Scale: two hash aggregations — (doc, term) tf and per-term df — the
    * df/avgdl/N statistics broadcast as 1-row scalars; no corpus-wide
    * shuffle beyond the tf aggregation every retrieval engine pays. */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 16,
      "queryTerms must be 1..16 fixed terms")
    val terms = docs.select(col(idCol),
      explode(words(col(textCol))).as("term"))
      .filter(length(col("term")) >= 3)
    val dl = terms.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = terms.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfc), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0))
      .withColumn("contrib",
        // operand order flipped vs the SQL text where Scala needs
        // Column-first (1.2 * col doesn't compile); IEEE ·/+ are
        // commutative so the values are bit-identical
        col("idf") * ((col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            (((col("dl").cast("double") / col("avgdl")) * 0.75 + 0.25) * 1.2))))
    // pivot the fixed terms into columns (each a ≤1-element sum — exact),
    // then total in declaration order: deterministic float association
    val aggs = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("contrib"))).as(s"c$i")
    }
    val byDoc = scored.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    val total = queryTerms.indices
      .map(i => coalesce(col(s"c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    byDoc.select(col(idCol), total.as("score"))
  }

  /** One trained BPE merge: `idx` is 1-based merge order, `pair` the
    * winning adjacent symbol pair IN SENTINEL SPACE (earlier merges
    * collapsed to the single char U+000j, so every symbol stays one char and
    * a merge is always a 2-char substring), `merged` the fully decoded
    * surface string the merge produces, `cnt` its corpus-weighted count
    * at selection time. */
  case class BpeMerge(idx: Int, pair: String, merged: String, cnt: Long)

  /** BPE tokenizer training TO CONVERGENCE — the driver-local merge loop
    * over aggregated pair counts (the `kmeansCentroids` trainSample
    * pattern: training state is bounded and driver-side; the corpus is
    * touched only by ONE word-count aggregation). q_bpe_pairs/
    * q_bpe_merge2 are iterations 1 and 2 of exactly this loop.
    *
    * Semantics (chosen to be replayable verbatim by a SQL oracle):
    * pair counts are corpus-frequency-weighted counts of adjacent 2-char
    * substrings (overlaps counted — "aaa" contributes "aa" twice);
    * the winner is (max count, ties → lexicographically smallest pair),
    * stops early below `minCount`; applying a merge is leftmost
    * non-overlapping `replace` of the pair with the sentinel char
    * U+000idx (Java String.replace ≡ SQL replace); words collapsed
    * below 2 symbols leave the working vocabulary.
    *
    * Scale shape: ONE map-combined word-count shuffle + a TakeOrdered
    * top-`maxVocab` to the driver (vocabulary-bounded, never the token
    * stream — the q_bpe_pairs trick); every merge iteration then runs
    * over the ≤`maxVocab` in-memory word table, which is the standard
    * industrial shape (HF/sentencepiece train on a word-count table,
    * not the raw corpus). Sentinels require corpus text free of
    * control chars <   (true of [[words]] output on any sane
    * corpus; merges never exceed 30 so sentinels stay in C0 space). */
  def bpeTrain(docs: DataFrame, nMerges: Int = 8, minCount: Long = 2,
               maxVocab: Int = 50000, textCol: String = "text")
      : Seq[BpeMerge] = {
    require(nMerges >= 1 && nMerges <= 30,
      s"sentinel space supports 1..30 merges, got $nMerges")
    val wcRows = docs
      .select(explode(words(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .filter(length(col("word")) >= 2)
      .orderBy(col("wc").desc, col("word")).limit(maxVocab)
      .collect()
    var vocab = wcRows.map(r => (r.getString(0), r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var converged = false
    while (merges.size < nMerges && !converged) {
      val counts = new java.util.HashMap[String, Long]()
      vocab.foreach { case (w, c) =>
        var i = 0
        while (i < w.length - 1) {
          counts.merge(w.substring(i, i + 2), c, _ + _); i += 1
        }
      }
      var bestPair: String = null; var bestCnt = 0L
      counts.forEach { (p, c) =>
        if (c > bestCnt || (c == bestCnt && (bestPair == null || p < bestPair))) {
          bestPair = p; bestCnt = c
        }
      }
      if (bestPair == null || bestCnt < minCount) converged = true
      else {
        val idx = merges.size + 1
        val sentinel = (1 + merges.size).toChar.toString
        // decoded surface form: expand earlier sentinels (distinct chars,
        // decoded forms are sentinel-free, so order is irrelevant)
        val merged = merges.foldLeft(bestPair) { (s, m) =>
          s.replace(m.idx.toChar.toString, m.merged)
        }
        merges += BpeMerge(idx, bestPair, merged, bestCnt)
        vocab = vocab
          .map { case (w, c) => (w.replace(bestPair, sentinel), c) }
          .filter(_._1.length >= 2)
      }
    }
    merges.toSeq
  }

  /** The trained merge table as a persistable DataFrame (what a training
    * job writes next to the corpus card). */
  def bpeMergesToDf(spark: org.apache.spark.sql.SparkSession,
                    merges: Seq[BpeMerge]): DataFrame = {
    import spark.implicits._
    merges.toDF("idx", "pair", "merged", "cnt")
      .select(col("idx").cast("int"), col("pair"), col("merged"),
        col("cnt").cast("long"))
  }

  /** Apply a trained merge table to the corpus: per word, replay every
    * merge in training order (chained codegen'd `replace` expressions —
    * per-row, zero shuffle at any corpus size). Output keeps the word in
    * sentinel space plus its symbol count — the encoded stream a
    * sequence-packing stage consumes. */
  def bpeApply(docs: DataFrame, merges: Seq[BpeMerge],
               textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(words(col(textCol))).as(Seq("pos", "word")))
    val encoded = merges.foldLeft(col("word")) { (c, m) =>
      replace(c, lit(m.pair), lit(m.idx.toChar.toString))
    }
    tok.select(col("doc_id"), col("pos"), col("word"),
      encoded.as("encoded"), length(encoded).as("n_symbols"))
  }

  /** Invert [[bpeApply]]: expand sentinels in REVERSE merge order (merge
    * i's pair may contain sentinels j < i). `bpeDecode(bpeApply(w)) == w`
    * for any input — the round-trip law the spec pins. */
  def bpeDecode(encoded: Column, merges: Seq[BpeMerge]): Column =
    merges.reverse.foldLeft(encoded) { (c, m) =>
      replace(c, lit(m.idx.toChar.toString), lit(m.pair))
    }
}
