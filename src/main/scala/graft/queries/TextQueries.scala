package graft.queries

import graft.Tables
import graft.operators.{DedupOps, SimilarityOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data pipeline operators (dedup / similarity / text analysis /
  * WARC) over the `documents` and `embeddings` fixtures, each with a
  * DuckDB oracle that rebuilds the identical md5-derived hashing.
  */
object TextQueries {

  /** Documents with deterministic PII planted as a doc_id function — the
    * synthetic corpus carries none, and an all-zeros oracle would verify
    * nothing. Same arithmetic in the SQL oracle below. */
  private def piiSalted(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 1,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 2,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), ((col("doc_id") * 3) % 256).cast("string")))
          .otherwise(lit(""))).as("text"))

  /** Documents with a deterministic crawl URL per doc — exercises scheme /
    * host case, default ports, utm params in first/last/only position, and
    * trailing slashes, all as doc_id arithmetic the oracle rebuilds. */
  private def urlSalted(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 7 === 0, lit("HTTPS://")).otherwise(lit("https://")),
        when(col("doc_id") % 6 === 1, lit("WWW.")).otherwise(lit("www.")),
        col("source"), (col("doc_id") % 5).cast("string"), lit("-ex."),
        when(col("doc_id") % 3 === 0, lit("com"))
          .when(col("doc_id") % 3 === 1, lit("org")).otherwise(lit("net")),
        when(col("doc_id") % 11 === 4, lit(":443")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 11 === 5, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string")))
          .when(col("doc_id") % 9 === 3,
            concat(lit("?id="), (col("doc_id") % 7).cast("string"),
              lit("&utm_campaign=x")))
          .when(col("doc_id") % 9 === 7, lit("?utm_medium=rss"))
          .otherwise(lit(""))).as("url"))

  /** SQL twin of [[piiSalted]]. */
  private val piiSaltedCte: String =
    """WITH pii AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 1
      |      THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      |        || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 2
      |      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
      |        || '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR)
      |      ELSE '' END AS text
      |  FROM documents)""".stripMargin

  /** SQL twin of [[urlSalted]]. */
  private val urlSaltedCte: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
      |    CASE WHEN doc_id % 6 = 1 THEN 'WWW.' ELSE 'www.' END ||
      |    source || CAST(doc_id % 5 AS VARCHAR) || '-ex.' ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'com'
      |         WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END ||
      |    CASE WHEN doc_id % 11 = 4 THEN ':443' ELSE '' END ||
      |    '/p/' || CAST(doc_id AS VARCHAR) ||
      |    CASE WHEN doc_id % 11 = 5 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
      |         WHEN doc_id % 9 = 3
      |      THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x'
      |         WHEN doc_id % 9 = 7 THEN '?utm_medium=rss'
      |         ELSE '' END AS url
      |  FROM documents)""".stripMargin

  /** Per-dimension value + codebook CTEs for the scalar-quantization
    * oracles (dim = 64). */
  private val sqStatsCte: String =
    """WITH ex AS (
      |  SELECT vec_id, CAST(i AS INTEGER) AS pos,
      |    CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) AS v
      |  FROM embeddings, range(64) t(i)),
      |stats AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY 1)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_text_tokens" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCountWs(col("text")).as("ws_tokens"),
        TextOps.tokenCountRegex(col("text")).cast("int").as("re_tokens"))),

    "q_text_quality" -> ((s, dir) =>
      TextOps.qualityMetrics(Tables.documents(s, dir))
        .select("doc_id", "n_chars_calc", "n_words", "mean_word_len",
          "punct_ratio", "space_ratio")),

    "q_word_stats" -> ((s, dir) =>
      TextOps.wordStats(Tables.documents(s, dir))),

    // Character-level Shannon entropy — the low-entropy screen for blob /
    // filler docs; order-independent count formula, rounded 6 dp.
    "q_char_entropy" -> ((s, dir) =>
      TextOps.charEntropy(Tables.documents(s, dir))),

    // Flesch reading ease — integer regexp counts through one shared
    // IEEE tree; per-row projection, no shuffle.
    "q_readability" -> ((s, dir) =>
      TextOps.readability(Tables.documents(s, dir))),

    // Sparse TF-IDF cosine pairs — inverted-index join with a df cap
    // bounding the per-term fan-out; micro-unit integer weights.
    "q_tfidf_cosine" -> ((s, dir) =>
      TextOps.tfidfCosinePairs(
        Tables.documents(s, dir).where(col("doc_id") < 1000))),

    // Bigram LM quality score — the self-trained perplexity filter
    // (mean -log2 P(w2|w1), Laplace-smoothed, micro-unit-decimal summed).
    "q_lm_score" -> ((s, dir) =>
      TextOps.lmScore(Tables.documents(s, dir))),

    // Unigram language-model scoring (the CCNet-style fluency proxy): word
    // frequencies trained on the corpus itself, each doc scored by its
    // mean -log2 p(word) — high bits/word flags gibberish and boilerplate
    // against the corpus distribution. Scale shape: the vocabulary table
    // is sub-linear in the corpus (heap's law), so at 100 TB the freq side
    // broadcasts or AQE skew-splits the join on hot stopwords; scoring is
    // then one words-sized join + one doc_id aggregation. Float doctrine:
    // each word's bit cost is rounded then summed as DECIMAL (exact,
    // order-independent — the q_corr power-sum doctrine), so the per-doc
    // mean is bit-identical across engines and partitionings.
    "q_unigram_lm" -> ((s, dir) => {
      val words = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
      val freq = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).as("tot"))
      words.join(freq, "w").crossJoin(broadcast(tot))
        .withColumn("bits",
          round(-log2(col("c").cast("double") / col("tot").cast("double")), 6)
            .cast(DecimalType(28, 6)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          // UNROUNDED (q_holt doctrine): the decimal bit sum and the
          // division are shared trees; round(…,4) split near 4-dp halves
          // at sf0.1 (Spark rounds the shortest decimal repr, DuckDB the
          // binary value — 3 of 5000 docs diverged)
          (sum(col("bits")).cast("double") / count(lit(1)))
            .as("bits_per_word"))
    }),

    // bigram-LM fluency (q_unigram_lm's sequence-aware sibling): per-pair
    // bit cost -log2((c(w1,w2)+1)/(c(w1)+V)) with add-one smoothing, V =
    // corpus vocabulary. Conditional probability means scrambled word
    // order raises the score even when the unigram mix is identical — the
    // repetition/boilerplate signal unigrams can't see. Pair construction
    // is a per-row lambda (no shuffle); then two corpus-keyed joins (pair
    // counts, context counts) + one broadcast scalar; per-pair bits round
    // to 1e-6 and sum as DECIMAL (order-proof, the q_corr doctrine).
    "q_bigram_lm" -> ((s, dir) => {
      val pairs = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("g"))
      val words = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w1"))
        .filter(col("w1") =!= "")
      val c2 = pairs.groupBy(col("g")).agg(count(lit(1)).as("c2"))
      val c1 = words.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val vocab = c1.agg(count(lit(1)).as("v"))
      pairs.join(c2, "g")
        .withColumn("w1", expr("split(g, ' ')[0]"))
        .join(c1, "w1").crossJoin(broadcast(vocab))
        .withColumn("bits",
          round(-log2((col("c2") + 1).cast("double") /
            (col("c1") + col("v")).cast("double")), 6)
            .cast(DecimalType(28, 6)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"),
          (sum(col("bits")).cast("double") / count(lit(1)))
            .as("bits_per_pair"))
    }),

    // composite quality FILTER — the accept/reject gate every corpus
    // pipeline runs on top of the raw metrics (Gopher-style thresholds on
    // length, word shape, punctuation, repetition). Per-rule flags are
    // emitted alongside the verdict so rejected docs are attributable.
    // One metrics projection + one word-stats aggregation, joined on
    // doc_id — the gate itself adds no extra pass over the text.
    "q_quality_filter" -> ((s, dir) => {
      val m = TextOps.qualityMetrics(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("punct_ratio"))
      val w = TextOps.wordStats(Tables.documents(s, dir))
        .select(col("doc_id"), col("rep_ratio"))
      val passLen = col("n_words") >= 10
      val passWordLen = col("mean_word_len") >= 2 && col("mean_word_len") <= 12
      val passPunct = col("punct_ratio") <= 0.2
      val passRep = col("rep_ratio") <= 0.4
      m.join(w, Seq("doc_id"))
        .select(col("doc_id"),
          passLen.as("pass_len"), passWordLen.as("pass_wordlen"),
          passPunct.as("pass_punct"), passRep.as("pass_rep"),
          (passLen && passWordLen && passPunct && passRep).as("keep"))
    }),

    "q_lang_id" -> ((s, dir) =>
      TextOps.langId(Tables.documents(s, dir))
        .select("doc_id", "lang", "score_en", "score_de", "score_fr",
          "score_es", "lang_guess")),

    "q_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Tables.documents(s, dir))
        .select("doc_id", "fingerprint", "shard_key")),

    // winnowing fingerprints (the rolling-hash document sketch): hash every
    // char k-gram, slide a w-window over the hash sequence, keep each
    // window's minimum — near-identical docs share most selected
    // fingerprints, and any doc pair sharing one is findable by an
    // equi-join on fp (same shape as the shingle inverted index). Ties
    // break on position via the lexicographic (hash:pos) key, so selection
    // is total-order deterministic in any engine. The w-row frame is
    // CONSTANT (w=4) — O(rows·w), not the banned O(rows×data-frame) shape.
    "q_winnow_fingerprint" -> ((s, dir) => {
      val k = 8; val w = 4
      val grams = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), TextOps.normalize(col("text")).as("t"))
        .filter(length(col("t")) >= k)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, length(t) - $k), i -> substring(t, i + 1, $k))"))
          .as(Seq("pos", "g")))
      val sel = concat(substring(md5(col("g").cast("binary")), 1, 8),
        lit(":"), lpad(col("pos").cast("string"), 8, "0"))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(-(w - 1), 0)
      grams.withColumn("sel", sel)
        .withColumn("m", min(col("sel")).over(win))
        .filter(col("pos") >= w - 1)
        .select(col("doc_id"), col("m")).distinct()
        .select(col("doc_id"), substring(col("m"), 1, 8).as("fp"),
          expr("cast(substring(m, 10, 8) as int)").as("fp_pos"))
    }),

    // deterministic hash split/sample: same membership on any re-run,
    // any partitioning, any engine (rand() sampling is none of those).
    "q_hash_split" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.hashBucket(col("doc_id")).as("bucket"),
        TextOps.splitAssign(col("doc_id")).as("split"))),

    // token budget report: total tokens per (lang, train/val/test split) —
    // the accounting step every training-data pipeline runs before a
    // mixing decision. One map-side-combined aggregation; token counting
    // and split assignment are the already-oracled per-row expressions.
    "q_token_budget" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), TextOps.splitAssign(col("doc_id")).as("split"),
          TextOps.tokenCountWs(col("text")).as("ws"),
          TextOps.tokenCountRegex(col("text")).cast("long").as("re"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws").cast("long")).as("ws_tokens"),
          sum(col("re")).as("re_tokens"))),

    // budget-fill selection: after q_token_budget reports, THIS executes a
    // mixing decision — keep docs per language, in deterministic md5
    // order, until a per-language token budget is exhausted (the first doc
    // to cross the line is kept, so every budget is met, not undershot).
    // One window per language partition: running sums scale out across
    // languages and are O(1)-state within each.
    "q_budget_fill" -> ((s, dir) => {
      val budget = 2000L
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCountWs(col("text")).cast("long").as("toks"))
        .withColumn("cum", sum(col("toks")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") - col("toks") < budget)
        .select(col("doc_id"), col("lang"), col("toks"), col("cum"))
    }),

    // sequence packing (concat-and-split): concatenate each language's
    // docs in deterministic md5 order and split the token stream into
    // fixed 256-token context windows — the step that turns a curated
    // corpus into training sequences. Per doc: its first/last window and
    // whether it was fragmented across a boundary (the packing-efficiency
    // signal a mixing report needs). Per-lang window partitions scale out;
    // running sums are O(1)-state within each.
    "q_pack_sequences" -> ((s, dir) => {
      val win = 256L
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCountWs(col("text")).cast("long").as("toks"))
        .withColumn("cum", sum(col("toks")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("lang"), col("toks"),
          floor((col("cum") - col("toks")) / win).as("first_window"),
          floor((col("cum") - 1) / win).as("last_window"),
          (floor((col("cum") - 1) / win) >
            floor((col("cum") - col("toks")) / win)).as("fragmented"))
    }),

    // train/test contamination screen: test-split docs sharing a MinHash
    // LSH band bucket with any train doc — the near-dup decontamination
    // pass every eval pipeline runs (exact-fingerprint equality misses
    // paraphrased leaks; band collision is the standard suspect filter,
    // exact verification follows on the tiny suspect set). One banding
    // pass + a semi-join on (band, bucket).
    "q_split_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bands = DedupOps.lshBands(DedupOps.minhashSignatures(docs), 4, 2)
        .join(docs.select(col("doc_id"),
          TextOps.splitAssign(col("doc_id")).as("split")), Seq("doc_id"))
      val trainBuckets = bands.filter(col("split") === "train")
        .select(col("band"), col("bucket"))
      bands.filter(col("split") === "test")
        .join(trainBuckets, Seq("band", "bucket"), "left_semi")
        .select(col("doc_id")).distinct()
    }),

    // decontamination REMOVAL (the screen above reports; this drops):
    // train docs sharing an LSH band bucket with any test doc are removed,
    // the surviving train ids are the clean training corpus.
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("split", TextOps.splitAssign(col("doc_id")))
      DedupOps.decontaminate(docs, "split")
    }),

    // Gopher-style PHRASE repetition: per-doc 2-gram totals, repeated
    // fraction, and the dominant 2-gram's share — catches looped phrases
    // that single-word stats miss.
    "q_rep_ngram" -> ((s, dir) =>
      TextOps.ngramRepetition(Tables.documents(s, dir), n = 2)),

    // BPE-prep pair counting: the first merge step of byte-pair-encoding
    // tokenizer training — corpus-frequency-weighted counts of adjacent
    // CHAR pairs inside words, top 20. The word table is aggregated
    // FIRST (distinct word + its corpus count), so the char-level explode
    // runs over |vocab| rows, not the token stream — the trick that keeps
    // BPE statistics linear in vocabulary, not corpus, per merge.
    "q_bpe_pairs" -> ((s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
        .filter(length(col("word")) >= 2)
      wc.select(col("wc"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)
    }),

    // second BPE iteration: apply merge #1 (the top pair, collapsed to a
    // single sentinel char — exactly how byte-level BPE folds a merged
    // token back into a 1-symbol alphabet) and recount adjacent pairs.
    // Proves the iterative merge loop is expressible: each round is a
    // broadcast of ONE scalar (the winning pair) + a per-row replace —
    // the corpus is never re-tokenized from scratch.
    "q_bpe_merge2" -> ((s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
        .filter(length(col("word")) >= 2)
      def pairCounts(df: org.apache.spark.sql.DataFrame) = df
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      val top1 = pairCounts(wc)
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(col("pair").as("m1"))
      pairCounts(wc.crossJoin(broadcast(top1))
          .select(org.apache.spark.sql.functions.replace(col("word"),
            col("m1"), lit("\u0001")).as("word"), col("wc"))
          .filter(length(col("word")) >= 2))
        .orderBy(col("cnt").desc, col("pair")).limit(20)
    }),

    // BPE training TO CONVERGENCE: the driver-local merge loop over the
    // vocabulary-bounded word-count table (q_bpe_pairs/q_bpe_merge2 are
    // its first two iterations). Output is the persistable merge table —
    // (idx, sentinel-space pair, decoded surface form, count at
    // selection) — the artifact a tokenizer-prep run stores next to the
    // corpus card; the oracle replays all 8 merges as unrolled SQL.
    "q_bpe_train" -> ((s, dir) =>
      TextOps.bpeMergesToDf(s,
        TextOps.bpeTrain(Tables.documents(s, dir), nMerges = 8))),

    // per-doc n-gram NOVELTY: fraction of the doc's distinct trigrams
    // appearing in no other doc (corpus df = 1) — the memorization-risk /
    // uniqueness signal dual to the duplication stats. df-agg + join-back
    // on the gram key (the measured-faster chunk_dedup shape), then one
    // doc_id rollup.
    // keyed on the 64-bit shingle hash, not the gram string (r12): df and
    // the join-back need gram EQUALITY only — same collision bet as every
    // dedup verification; the df exchange and join carry 8-byte keys.
    // Scale bound: unlike dedup (where a collision is re-verified), here a
    // collision changes output — two grams sharing a key merge their df, so
    // n_grams/n_novel are exact only while xxhash64 keeps every distinct
    // trigram distinct. Expected colliding pairs ≈ n²/2⁶⁵ for n distinct
    // shingles: ≪ 1 up to ~1e9, but ~3e4 at ~1e12 (100 TB corpora), where
    // the counts turn slightly inexact.
    "q_novelty" -> ((s, dir) => {
      val shr = DedupOps.shingleHashRows(Tables.documents(s, dir), 3)
      val dfreq = shr.groupBy(col("shh")).agg(count(lit(1)).as("df"))
      shr.join(dfreq, Seq("shh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") /
            col("n_grams").cast("double"), 6).as("novelty"))
    }),

    // KL divergence between the word distributions of two corpus slices
    // (even vs odd doc_id) with add-1 smoothing over the union vocab —
    // the distribution-shift check between shards/sources/time slices.
    // Per-word terms are doubles from identical expression trees,
    // DECIMAL-summed so the reduction is order-independent.
    "q_vocab_kl" -> ((s, dir) => {
      val dec = DecimalType(38, 12)
      val w = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
      val counts = w.groupBy(col("word"))
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ce"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("co"))
      val tot = counts.agg(sum(col("ce")).as("ne"), sum(col("co")).as("no"),
        count(lit(1)).as("v"))
      val pe = (col("ce") + 1).cast("double") /
        (col("ne") + col("v")).cast("double")
      val po = (col("co") + 1).cast("double") /
        (col("no") + col("v")).cast("double")
      counts.crossJoin(broadcast(tot))
        .select((pe * log(pe / po)).cast(dec).as("t"),
          col("ne"), col("no"), col("v"))
        .groupBy(col("ne"), col("no"), col("v"))
        .agg(sum(col("t")).as("ts"))
        .select(round(col("ts").cast("double"), 6).as("kl_pq"),
          col("v").as("vocab"), col("ne").as("n_even"),
          col("no").as("n_odd"))
    }),

    // chunk-level cross-corpus dedup report: 8-word non-overlapping chunks,
    // md5 df across the corpus, per-doc duplicated-passage fraction — the
    // passage-granularity dedup signal doc-level near-dup can't see.
    "q_chunk_dedup" -> ((s, dir) =>
      DedupOps.chunkDupStats(Tables.documents(s, dir))),

    // per-source top-quartile pruning: keep docs whose per-source quality
    // rank clears the EXACT 25% threshold (4·rank <= count — pure integer
    // predicate, no percentile interpolation). Dynamic per-group
    // thresholds are what a real quality gate runs, vs one global cutoff
    // that over-prunes weak domains. Windows are source-partitioned.
    "q_quality_prune" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rnk", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(cw))
        .filter(col("rnk") * 4 <= col("cnt"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("rnk"))
    }),

    // domain-mixture rebalancing toward a uniform source distribution:
    // per-source keep rate = min(1, target/n) in basis points, membership
    // by the deterministic md5 bucket — the DoReMi-style static reweight,
    // reproducible on any engine or cluster. Per-source rates broadcast;
    // the corpus is touched by one projection + filter.
    "q_mixture_sample" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val per = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = per.agg(sum(col("n_docs")).as("total"),
        count(lit(1)).as("nsrc"))
      val wr = per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          least(lit(10000L), floor(col("total").cast("double") * 10000.0 /
            (col("nsrc") * col("n_docs"))).cast("long")).as("rate_bp"))
      d.join(broadcast(wr), Seq("source"))
        .filter(TextOps.hashBucket(col("doc_id"), 10000) < col("rate_bp"))
        .groupBy(col("source"), col("n_docs"), col("rate_bp"))
        .agg(count(lit(1)).as("n_kept"))
    }),

    // deterministic shuffle-and-shard: md5 shard + md5-order position
    // within the shard — the reproducible training order, windowed per
    // shard (no global sort).
    "q_shard_assign" -> ((s, dir) =>
      TextOps.shardAssign(Tables.documents(s, dir))),

    // Zipf's-law fit: OLS slope of log2(freq) on log2(rank) over the word
    // frequency table — the power-law sanity check every corpus report
    // carries. Micro-unit doctrine: both logs round to 1e-6 integer units,
    // all moment sums accumulate in DECIMAL(38,0) (order-proof), one
    // double division at the end. The rank window is global but runs over
    // the VOCABULARY (bounded by the language, not the corpus).
    "q_zipf" -> ((s, dir) => {
      val D = org.apache.spark.sql.types.DecimalType(38, 0)
      val toks = Tables.documents(s, dir)
        .select(explode(TextOps.words(col("text"))).as("word"))
      val freqs = toks.groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("word"))
      val m = freqs.withColumn("rank", row_number().over(w))
        .select(
          round(log2(col("rank").cast("double")) * 1000000).cast("long")
            .as("x"),
          round(log2(col("freq").cast("double")) * 1000000).cast("long")
            .as("y"))
      m.agg(count(lit(1)).as("n_terms"),
          sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
          sum(col("x").cast(D) * col("x")).as("sxx"),
          sum(col("x").cast(D) * col("y")).as("sxy"))
        .select(col("n_terms"),
          ((col("n_terms").cast(D) * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
           (col("n_terms").cast(D) * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("zipf_slope"))
    }),

    // Heaps'-law vocabulary growth: cumulative distinct words vs
    // cumulative tokens along the doc_id order, at 50-doc bucket grain —
    // new words attribute to the bucket of their FIRST doc, so the curve
    // needs only a bucket-grain running sum (the window carries
    // |docs|/50 rows, never the token stream).
    "q_heaps" -> ((s, dir) => {
      val toks = Tables.documents(s, dir).select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("word"))
      val bTok = toks.groupBy(floor(col("doc_id") / 50).as("bucket"))
        .agg(count(lit(1)).as("toks"))
      val firstB = toks.groupBy(col("word")).agg(min(col("doc_id")).as("fd"))
        .groupBy(floor(col("fd") / 50).as("bucket"))
        .agg(count(lit(1)).as("new_words"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      bTok.join(firstB, Seq("bucket"), "left")
        .select(col("bucket"),
          sum(col("toks")).over(w).as("cum_tokens"),
          sum(coalesce(col("new_words"), lit(0L))).over(w).as("cum_vocab"))
    }),

    // C4-style blocklist screen: occurrences + distinct hits of a banned
    // token list, pure per-row projection (no shuffle, no join).
    "q_blocklist" -> ((s, dir) =>
      TextOps.blocklistScreen(Tables.documents(s, dir),
        Seq("slow", "dup", "stale"))),

    // fixed-size vocabulary coverage: top-20 words by corpus frequency
    // (ties by word), per-doc OOV rate against that vocab — the
    // tokenizer-prep coverage signal.
    "q_vocab_oov" -> ((s, dir) =>
      TextOps.vocabOov(Tables.documents(s, dir))),

    // cross-doc duplicated SPANS (Lee et al. 2107.06499 at word grain):
    // 3-gram lattice with positions, md5 df >= 2 distinct docs, islands of
    // consecutive duplicated positions merged into maximal spans — finds
    // shared passages at ANY alignment, where fixed chunks miss shifted
    // overlap.
    "q_dup_spans" -> ((s, dir) =>
      DedupOps.duplicatedSpans(Tables.documents(s, dir))),

    // incremental passage dedup: delta docs (>= 400) probe the stored
    // chunk-hash index of docs < 400 — occurrence = stored + delta, the
    // batch pass restricted to the delta, with stored reads as point
    // lookups on the delta's hashes (the chunk-granularity sibling of
    // q_dedup_incremental / q_semantic_dedup_incr).
    "q_chunk_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.incrementalChunkDupStats(
        docs.filter(col("doc_id") >= 400),
        DedupOps.buildChunkIndex(docs.filter(col("doc_id") < 400)))
    }),

    // incremental span dedup: delta docs (>= 400) probe the stored
    // per-gram df index of docs < 400 — union df = stored + delta
    // (disjoint doc sets), the batch span pass restricted to the delta.
    // Completes the incremental quartet: bands / clusters / chunks /
    // spans.
    "q_span_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.incrementalDuplicatedSpans(
        docs.filter(col("doc_id") >= 400),
        DedupOps.buildSpanIndex(docs.filter(col("doc_id") < 400)))
    }),

    // the REMOVAL pass over q_dup_spans: cut every duplicated passage
    // except in its canonical owner doc (min doc_id per gram) — one copy
    // of every shared passage survives corpus-wide; emits the cleaned
    // normalized text + removal counts.
    "q_span_removal" -> ((s, dir) =>
      DedupOps.removeDuplicatedSpans(Tables.documents(s, dir))),

    // content-defined chunking twin of q_chunk_dedup: boundaries from the
    // words themselves (md5 hex < '2', expected 8-word chunks), so shared
    // passages at shifted offsets still hash identically.
    "q_cdc_chunks" -> ((s, dir) =>
      DedupOps.cdcChunkStats(Tables.documents(s, dir))),

    // T5-style span-corruption pair construction (the denoising
    // objective's data prep): every 7th token masks to a sentinel, the
    // masked tokens concatenate into the target sequence. Deterministic
    // (position-driven, no RNG), pure per-row lambda projection — zero
    // shuffle, trivially linear at any corpus size.
    "q_span_corrupt" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"),
          size(col("w")).as("n_tokens"),
          expr("cast(size(filter(sequence(1, size(w)), i -> i % 7 = 0)) as int)")
            .as("n_masked"),
          expr("array_join(transform(sequence(1, size(w)), " +
            "i -> CASE WHEN i % 7 = 0 THEN '<X>' ELSE element_at(w, i) END), ' ')")
            .as("corrupted"),
          expr("array_join(transform(filter(sequence(1, size(w)), " +
            "i -> i % 7 = 0), i -> element_at(w, i)), ' ')")
            .as("targets"))),

    // strided context-window chunking (long-doc splitting for a fixed
    // model context): 16-word windows at stride 8, so consecutive chunks
    // overlap by half and no boundary-straddling span is ever unseen —
    // the third member of the splitting family (q_pack_sequences packs
    // SHORT docs, q_segment_pairs cuts non-overlapping segments). Pure
    // per-row generator, no shuffle.
    "q_stride_chunks" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).as("nw"), posexplode(expr(
          "transform(sequence(0, cast(floor((size(w) - 1) / 8) as int)), " +
            "j -> array_join(slice(w, j * 8 + 1, 16), ' '))"))
          .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(16), col("nw") - col("chunk_idx") * 8).as("n_words"),
          md5(col("chunk").cast("binary")).as("fp"))),

    // adjacent-segment pair construction (next-segment / contrastive
    // training data): non-overlapping 8-word segments, each paired with
    // its successor inside the doc. The lead window is doc-partitioned
    // (segments per doc, never the corpus); pairs ship as md5
    // fingerprints so the output stays narrow at any segment length.
    "q_segment_pairs" -> ((s, dir) => {
      val segs = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, cast(floor((size(w) - 1) / 8) as int)), " +
            "j -> array_join(slice(w, j * 8 + 1, 8), ' '))"))
          .as(Seq("seg_idx", "seg")))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("seg_idx"))
      segs.withColumn("next_seg", lead(col("seg"), 1).over(win))
        .filter(col("next_seg").isNotNull)
        .select(col("doc_id"), col("seg_idx"),
          md5(col("seg").cast("binary")).as("a_fp"),
          md5(col("next_seg").cast("binary")).as("b_fp"))
    }),

    // PII screening report over the deterministically PII-salted corpus
    // (the synthetic docs carry no PII, so the fixture plants emails /
    // phones / IPs as a doc_id function both engines rebuild identically —
    // nonzero, varied counts instead of a vacuous all-zeros oracle).
    "q_pii_stats" -> ((s, dir) =>
      TextOps.piiStats(piiSalted(s, dir))
        .select(col("doc_id"), col("n_email").cast("int"),
          col("n_ipv4").cast("int"), col("n_phone").cast("int"),
          col("n_pii").cast("int"))),

    // PII redaction: every pattern hit replaced by its <TYPE> placeholder;
    // emits the redacted text + touched flag.
    "q_pii_redact" -> ((s, dir) =>
      TextOps.piiRedact(piiSalted(s, dir))
        .select(col("doc_id"), col("redacted"), col("was_redacted"))),

    // URL parsing + canonicalization over deterministically constructed
    // crawl URLs (scheme/host case, default ports, utm params, trailing
    // slashes all exercised by doc_id arithmetic).
    // HTML visible-text extraction — crawled page → documents-table text.
    // The fixture wraps the corpus in a deterministic page (title, style
    // block, a script whose BODY contains a bare '<' — the case naive
    // tag-stripping corrupts, block removal handles) plus the five core
    // entities; the oracle rebuilds the page and replays the identical
    // RE2-safe regexp chain. Pure per-row projection, zero shuffle.
    "q_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style>p { color: red; }</style>"),
        lit("<script type=\"text/javascript\">var x = 1 < 2; </script>"),
        lit("</head><body><h1 class=\"hd\">Doc "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><p>Tom &amp; Jerry say 1 &lt; 2 &gt; 0 &quot;ok&quot; " +
          "&#39;yes&#39;</p></body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.operators.WebOps.htmlVisibleText(html).as("t"))
        .select(col("doc_id"), length(col("t")).as("n_chars"),
          md5(col("t").cast("binary")).as("text_md5"))
    }),

    // the crawl chain END TO END under one hash: corpus → deterministic
    // HTML page → real .warc.gz container → WARC record parse → response
    // bodies → visible-text extraction. The oracle never sees the
    // container — it rebuilds the page from the corpus and replays only
    // the extraction chain — so a WARC framing bug, a body mis-slice, or
    // a filter inverse error all surface as hash mismatches here.
    "q_crawl_extract" -> ((s, dir) => {
      val pages = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(lit("<html><head><style>p{color:red}</style>"),
            lit("<script>if (1 < 2) { x(); }</script></head><body><p>"),
            col("text"), lit("</p></body></html>")).as("text"),
          col("lang"))
      graft.operators.WarcOps.decodeWarcBodies(
        graft.operators.WarcOps.encodeWarc(pages))
        .filter(col("rec_type") === "response")
        .select(col("doc_id"),
          graft.operators.WebOps.htmlVisibleText(col("body")).as("t"))
        .select(col("doc_id"), length(col("t")).as("n_chars"),
          md5(col("t").cast("binary")).as("text_md5"))
    }),

    // robots.txt politeness screen: parse per-domain Disallow rules (the
    // rules text is a closed-form function of the domain, so the oracle
    // rebuilds it), prefix-match each URL's path. The per-domain rule
    // digit is the SOURCE digit, so blocked = "doc's leading digit equals
    // its source number" — varied, non-vacuous. Per-row lambdas only.
    "q_robots" -> ((s, dir) => {
      val u = urlSalted(s, dir)
        .withColumn("domain",
          graft.operators.WebOps.registeredDomain(col("url")))
        .withColumn("path",
          regexp_extract(col("url"), "://[^/?#]*(/[^?#]*)", 1))
        .withColumn("rt", concat(
          lit("User-agent: *\nDisallow: /admin\nDisallow: /p/"),
          substring(col("domain"), 4, 1), lit("\nAllow: /\n")))
      u.select(col("doc_id"), col("domain"), col("path"),
        graft.operators.WebOps.robotsBlocked(col("path"),
          graft.operators.WebOps.robotsDisallows(col("rt")))
          .cast("int").as("blocked"))
    }),

    "q_url_normalize" -> ((s, dir) => {
      val u = urlSalted(s, dir)
      u.select(col("doc_id"),
        graft.operators.WebOps.scheme(col("url")).as("scheme"),
        graft.operators.WebOps.host(col("url")).as("host"),
        graft.operators.WebOps.registeredDomain(col("url")).as("domain"),
        graft.operators.WebOps.normalizeUrl(col("url")).as("norm_url"))
    }),

    // per-domain cap: at most 3 docs per registered domain, kept in
    // md5(doc_id) order — the crawl-balance primitive.
    "q_domain_cap" -> ((s, dir) =>
      graft.operators.WebOps.domainCap(urlSalted(s, dir), maxPerDomain = 3)
        .select(col("doc_id"), col("domain"))),

    // int8 scalar-quantization reconstruction error: per-dimension codebook
    // trained on the corpus (one pass), per-vector mean absolute error of
    // the encode→decode round trip.
    "q_sq_error" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(e))
      SimilarityOps.sqError(e, mns, mxs)
    }),

    // int8 encode itself, exploded to (vec_id, pos, code) rows so the
    // integer codes — not a float summary — are what hashes against the
    // oracle.
    "q_sq_encode" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(e))
      SimilarityOps.sqEncode(e, mns, mxs)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("pos", "code")))
    }),

    // ANN in the quantized domain: integer int8-dot candidate scan (the
    // 4×-cheaper pass a compressed vector store runs), exact-cosine
    // re-rank of the top k*refine — candidate set AND ranking both
    // deterministic because the candidate scores are exact integers.
    "q_sq_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(e))
      SimilarityOps.sqKnn(e, e.filter(col("vec_id") < 10), k = 5, mns, mxs)
    }),

    // COMPRESSED ANN — IVF probing × int8 scan composed: the probed
    // inverted lists bound which codes are scanned, the integer dot ranks
    // them, exact cosine re-ranks the top k·refine. The production query
    // shape neither q_ivf_knn (float re-rank of probed lists) nor q_sq_knn
    // (full-corpus code scan) has alone.
    "q_sq_ivf_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val (mns, mxs) = SimilarityOps.sqCodebook(SimilarityOps.sqStats(e))
      val cents = SimilarityOps.kmeansCentroids(e, 16, iters = 2, trainSample = 512)
      SimilarityOps.sqIvfKnn(e, e.filter(col("vec_id") < 10), k = 5,
        cents, mns, mxs)
    }),

    // the CORPUS CARD — the per-language release report every dataset ships
    // with, composed from the curation families in one query: doc/token
    // counts, quality-gate keep rate, PII incidence, mean duplicated-passage
    // fraction. Per-doc signals are per-row projections or doc_id-led aggs;
    // the final rollup is one map-combined groupBy(lang). Mean dup_fraction
    // aggregates in micro-units (exact integer sums — float order never
    // reaches a compared value).
    "q_corpus_card" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // lang rides in the metrics projection (r11): qualityMetrics is
      // per-row over docs, so joining it back to a bare docs projection
      // was a whole corpus-rows exchange for columns the projection
      // already had (guide §2.4; card plan: 4 joins → 3)
      val m = TextOps.qualityMetrics(docs)
        .select(col("doc_id"), col("lang"), col("n_words"),
          col("mean_word_len"), col("punct_ratio"))
      val w = TextOps.wordStats(docs).select(col("doc_id"), col("rep_ratio"))
      val pii = TextOps.piiStats(piiSalted(s, dir))
        .select(col("doc_id"), col("n_pii"))
      val dup = DedupOps.chunkDupStats(docs)
        .select(col("doc_id"), col("dup_fraction"))
      val keep = col("n_words") >= 10 && col("mean_word_len") >= 2 &&
        col("mean_word_len") <= 12 && col("punct_ratio") <= 0.2 &&
        col("rep_ratio") <= 0.4
      m.join(w, Seq("doc_id")).join(pii, Seq("doc_id"))
        .join(dup, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words").cast("long")).as("total_words"),
          sum(when(keep, 1L).otherwise(0L)).as("n_keep"),
          sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("n_pii_docs"),
          sum(floor(coalesce(col("dup_fraction"), lit(0.0)) * 1e6 + 0.5)
            .cast("long")).as("dup_u"))
        .select(col("lang"), col("n_docs"), col("total_words"),
          round(col("n_keep").cast("double") / col("n_docs").cast("double"), 6)
            .as("keep_rate"),
          round(col("n_pii_docs").cast("double") / col("n_docs").cast("double"), 6)
            .as("pii_doc_rate"),
          round(col("dup_u").cast("double") / col("n_docs").cast("double") / 1e6, 6)
            .as("mean_dup_fraction"))
    }),

    // stratified deterministic sampling: per-language keep-rates over the
    // same hash buckets — the downsample/rebalance op every corpus mix
    // needs, reproducible across engines and re-runs.
    "q_stratified_sample" -> ((s, dir) => {
      val b = TextOps.hashBucket(col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("bucket", b)
        .filter((col("lang") === "en" && col("bucket") < 50) ||
          (col("lang") =!= "en" && col("bucket") < 10))
        .select(col("doc_id"), col("lang"), col("bucket"))
    }),

    "q_dedup_exact" -> ((s, dir) =>
      DedupOps.exactDedup(Tables.documents(s, dir))),

    // survivorship-policy dedup: within each exact-dup group keep the
    // HIGHEST-QUALITY copy (longest raw text, id tiebreak) instead of the
    // smallest id — the policy knob real corpus dedup exposes.
    "q_dedup_survivor" -> ((s, dir) => {
      val fp = md5(TextOps.normalize(col("text")).cast("binary"))
      val w = Window.partitionBy(col("fingerprint"))
        .orderBy(length(col("text")).desc, col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("fingerprint", fp)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("fingerprint"), col("doc_id").as("survivor_id"),
          length(col("text")).as("survivor_len"))
    }),

    // TF-IDF top terms: idf as the exact rational n_docs/df (one IEEE
    // division — no log, so both engines produce the identical double);
    // top-3 terms per doc ranked on the unrounded score with a term
    // tiebreak. At scale: two hash aggregations + a broadcast of the tiny
    // doc-count, all shuffles on (doc_id|term).
    "q_tfidf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
      val terms = docs.select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("term"))
        .filter(length(col("term")) >= 3)
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nd = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      tf.join(dfc, "term").crossJoin(broadcast(nd))
        .withColumn("score", col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"),
          round(col("score"), 6).as("score"), col("rn"))
    }),

    // class-balanced cap: deterministically keep ≤25 docs per language —
    // the per-class/per-source cap every corpus mix applies. The keep-pick
    // follows the md5 order, so membership is stable across engines,
    // re-runs, and repartitions (rand()-based caps are none of those).
    "q_class_cap" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 25)
        .select(col("doc_id"), col("lang"), col("rn"))
    }),

    // Mergeable KMV sketch algebra: per-lang bottom-k sketches over doc
    // ids, then union/Jaccard/intersection estimates for every lang pair
    // computed from the k-sized arrays ALONE (Beyer et al. SIGMOD'07) —
    // the partial-aggregation property that lets sketches combine across
    // partitions/days without rescanning data.
    "q_kmv_setops" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id").cast("string").as("did"))
      graft.functions.Sketches.kmvSetOps(
        graft.functions.Sketches.kmvSketch(docs, "lang", "did"), "lang")
    }),

    // Distributed PCA: dominant eigenvector of the 16-dim embedding Gram
    // matrix via fixed-point power iteration — exact integer accumulation
    // throughout (the GraphOps doctrine), so the iterate sequence is
    // bit-identical to the oracle's unrolled CTEs on any partitioning.
    "q_pca" -> ((s, dir) => {
      import graft.operators.LinAlgOps
      val vecs = Tables.embeddings(s, dir).where(col("vec_id") < 2000)
        .select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb"))
      LinAlgOps.powerIterationFp(
        LinAlgOps.gramFp(vecs, "emb", "vec_id"), iters = 3)
    }),

    // Count-min sketch heavy-hitter counts: d=3 seeded md5 hash rows ×
    // w=256 counters over lineitem part keys, per-item min-counter
    // estimate vs the exact count — deterministic hashes make the
    // one-sided overestimates oracle-replayable (cf. q_approx_distinct's
    // KMV doctrine: the mergeable-sketch family, frequency flavor).
    "q_cms_counts" -> ((s, dir) => {
      // one corpus scan: the item-count agg feeds the sketch build, the
      // probe side, AND the exact column (shared exchange, reused)
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").cast("string").as("item"))
        .agg(count(lit(1)).as("item_cnt"))
      graft.functions.Sketches.cmsEstimatesFromCounts(counts, d = 3, w = 256)
        .join(counts.select(col("item"), col("item_cnt").as("exact_cnt")),
          Seq("item"))
        .select(col("item"), col("exact_cnt"), col("est_cnt"))
    }),

    // Duffield-Lund-Thorup priority sampling: weighted top-k by w/u with
    // md5-derived u and the unbiased max(w, τ) estimator — the weighted
    // counterpart of q_sample_n's deterministic uniform sample.
    "q_priority_sample" -> ((s, dir) =>
      TextOps.prioritySample(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        k = 50, weightCol = "n_chars")
        .select(col("doc_id"), col("n_chars"), col("priority"),
          col("est_weight"))),

    // Okapi BM25 ranked retrieval against a fixed query-term set (k1=1.2,
    // b=0.75) — the scoring layer over q_tfidf's term statistics.
    "q_bm25" -> ((s, dir) =>
      TextOps.bm25(Tables.documents(s, dir),
        Seq("hash", "join", "vector", "stream", "window"))
        .withColumn("score", round(col("score"), 6))),

    "q_minhash_sig" -> ((s, dir) =>
      DedupOps.minhashSignatures(Tables.documents(s, dir))),

    // the engine measuring ITSELF, oracle-exact: banded-LSH candidate
    // recall against the exhaustive share-a-shingle truth at Jaccard ≥
    // 0.5. Every component (shingles, md5 minhash, banding, verified
    // jaccard) is already engine-exact, so even this meta-measurement
    // hash-matches. The exhaustive side is the measurement's ground truth
    // — df caps deliberately OFF; it is a diagnostics query, not a
    // production candidate generator.
    "q_lsh_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val truePairs = DedupOps.ngramJaccardPairs(docs, shingleN = 3,
          maxDf = Int.MaxValue)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      val banded = DedupOps.minhashNearDups(docs)
        .select(col("id_a"), col("id_b"))
      val hit = truePairs.join(banded, Seq("id_a", "id_b"), "left_semi")
      truePairs.agg(count(lit(1)).as("n_true"))
        .crossJoin(banded.agg(count(lit(1)).as("n_banded")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_true"), col("n_banded"), col("n_hit"),
          when(col("n_true") === 0, 0L)
            .otherwise(expr("n_hit * 10000 div n_true")).as("recall_bp"))
    }),

    "q_minhash_pairs" -> ((s, dir) =>
      DedupOps.minhashNearDups(Tables.documents(s, dir))),

    // incremental dedup: docs >= 400 arrive as a new batch and are checked
    // against the stored index of docs < 400 — stored×stored pairs are
    // never re-examined, the delta alone is hashed. Runs the INDEXED form
    // (bands + per-doc hash sets): the stored corpus is touched only by
    // member lookups, never an O(corpus) shingle re-aggregation. The
    // oracle is the batch pipeline restricted to pairs touching a new doc
    // (the equivalence TextOpsSpec asserts directly for both forms).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (bandIdx, setsIdx) =
        DedupOps.buildNearDupIndex(docs.filter(col("doc_id") < 400))
      DedupOps.incrementalNearDupsIndexed(docs.filter(col("doc_id") >= 400),
        bandIdx, setsIdx)
    }),

    // headline n-gram dedup runs the operator's DEFAULT df cap (100): the
    // scale-safe phrasing is the benched one; the uncapped O(d²) fan-out is
    // opt-in via maxDf = Int.MaxValue, never the path a user lands on.
    "q_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 300),
        shingleN = 2, minJaccard = 0.05, maxDf = 100)),

    // df-capped candidate generation: the anti-skew knob for the
    // inverted-index join (hot boilerplate shingles are dropped from
    // candidate generation; Jaccard still verified over full sets).
    "q_jaccard_pruned" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 300),
        shingleN = 2, minJaccard = 0.05, maxDf = 20)),

    // containment / overlap-coefficient pairs: |A∩B|/min(|A|,|B|) — the
    // unequal-length near-dup screen Jaccard misses (a doc quoted whole
    // inside a longer one scores overlap 1.0, Jaccard ~|A|/|B|).
    "q_containment" -> ((s, dir) =>
      DedupOps.ngramContainmentPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 300),
        shingleN = 2, minOverlap = 0.2, maxDf = 100)),

    "q_simhash" -> ((s, dir) =>
      DedupOps.simhash(Tables.documents(s, dir))),

    // Hamming near-dup over simhash: high-byte bucket join + bit_count(xor).
    "q_simhash_neardup" -> ((s, dir) =>
      DedupOps.simhashNearDups(Tables.documents(s, dir))),

    // blocked sorted-neighborhood entity resolution: per-block sort +
    // sliding window candidates, codegen Jaro-Winkler confirm — the
    // record-linkage pipeline over part names; fan-out is window-bounded
    // by construction (equi-join on (blk, rn+k)).
    "q_er_pairs" -> ((s, dir) =>
      DedupOps.sortedNeighborPairs(Tables.part(s, dir),
        keyCol = "p_name", idCol = "p_partkey", window = 3, minSim = 0.9)),

    // two-stage fuzzy dedup: relaxed SimHash candidates, exact Levenshtein
    // confirm — the sketch bounds the candidate set so the O(len²) edit
    // distance never touches the O(n²) pair space.
    "q_fuzzy_dedup" -> ((s, dir) =>
      // bounded slice: the relaxed Hamming pre-filter passes O(cluster²)
      // candidates on a dup-heavy corpus, and Levenshtein is O(len²) per
      // pair — cap the exact-confirm stage's input like any production
      // fuzzy pass does (shard by cluster, not the whole corpus at once)
      DedupOps.fuzzyNearDups(Tables.documents(s, dir)
        .filter(col("doc_id") < 1000))),

    "q_cosine_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityOps.bruteForceKnn(e, e.filter(col("vec_id") < 10), k = 5)
    }),

    "q_embed_neardup" -> ((s, dir) =>
      SimilarityOps.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.4)),

    // contrastive triplet mining: exact top-1 positive + md5-deterministic
    // negative draw per anchor — the (anchor, positive, negative) batches
    // an embedding trainer consumes, reproducible with no rand().
    "q_triplet_mine" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityOps.tripletMine(e, e.filter(col("vec_id") < 50))
    }),

    // LSH-bucketed embedding near-dup — the benched/100 TB path (the
    // all-pairs q_embed_neardup above is the documented exact baseline).
    // 4 planes here: bucket granularity trades recall vs candidate-join
    // size; a production corpus raises planes (and adds tables) as n grows.
    "q_embed_neardup_lsh" -> ((s, dir) =>
      SimilarityOps.lshNearDupPairs(Tables.embeddings(s, dir),
        threshold = 0.4, planes = 4)),

    "q_lsh_buckets" -> ((s, dir) =>
      SimilarityOps.lshBuckets(Tables.embeddings(s, dir))),

    // IVF assignment under k-means-trained centroids (2 Lloyd rounds over
    // the md5-ordered 512-vector sample — the oracle replays the identical
    // training; sample-bounded so training cost never scales with corpus).
    "q_ivf_assign" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityOps.ivfAssign(e,
        SimilarityOps.kmeansCentroids(e, 16, iters = 2, trainSample = 512))
    }),

    // cluster cards: k-means assignment (same trained centroids as
    // q_ivf_assign) labeled with each cluster's top-3 terms by
    // within-cluster token count (ties → term asc) — the corpus-triage
    // view of an embedding clustering. Term counts aggregate on (cid,
    // term); the per-cluster rank window runs over the tiny k×vocab
    // count table, never the token stream.
    "q_cluster_card" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val assign = SimilarityOps.ivfAssign(e,
        SimilarityOps.kmeansCentroids(e, 16, iters = 2, trainSample = 512))
        .select(col("vec_id"), col("cid"))
      val toks = Tables.documents(s, dir).select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("term"))
      val counts = toks.join(assign, col("doc_id") === col("vec_id"))
        .groupBy(col("cid"), col("term"))
        .agg(count(lit(1)).as("term_count"))
      val sizes = assign.groupBy(col("cid")).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid"))
        .orderBy(col("term_count").desc, col("term"))
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .join(broadcast(sizes), Seq("cid"))
        .select(col("cid"), col("n_docs"), col("rank"), col("term"),
          col("term_count"))
    }),

    // SemDeDup: k-means clusters bound the pair space (within-cluster
    // cosine only — never all-pairs), CC labels the dup components, the
    // smallest id per component survives. Same trained centroids as
    // q_ivf_assign (2 Lloyd rounds over the md5-ordered 512-vector
    // sample), which the oracle replays verbatim.
    "q_semantic_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityOps.semanticDedup(e, threshold = 0.4,
        SimilarityOps.kmeansCentroids(e, 16, iters = 2, trainSample = 512))
    }),

    // incremental SemDeDup: the pairs a 10% delta introduces against the
    // stored 90%'s assignment index — centroids train on the STORED side
    // only (index-build time), the delta touches at most k cluster lists.
    "q_semantic_dedup_incr" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val stored = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      val delta = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      val cents = SimilarityOps.kmeansCentroids(stored, 16, iters = 2,
        trainSample = 512)
      SimilarityOps.semanticDedupIncremental(delta,
        SimilarityOps.buildSemanticIndex(stored, cents),
        threshold = 0.4, cents)
    }),

    // kNN classification: majority label of the 5 nearest neighbors under
    // a deterministic vote tiebreak — the label-propagation/eval step on
    // top of the exact kNN path.
    "q_knn_classify" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val knn = SimilarityOps.bruteForceKnn(e, e.filter(col("vec_id") < 10), k = 5)
      val votes = knn.withColumn("label", (col("nid") % 7).cast("int"))
        .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("votes").desc, col("label"))
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("label").as("pred_label"), col("votes"))
    }),

    // per-class embedding centroids (the k-means/IVF training step): each
    // dimension in micro-units (1e-6 ints) through the sums so the mean is
    // exact and order-independent; one explode + one (class, dim) shuffle.
    "q_centroids" -> ((s, dir) => {
      val cls = Tables.embeddings(s, dir)
        .withColumn("cls", (col("vec_id") % 7).cast("int"))
        .select(col("cls"), posexplode(col("embedding")))
        .withColumn("u",
          round(col("col").cast("double") * 1e6).cast("long"))
      cls.filter(col("pos") < 8) // keep the checked slice small per class
        .groupBy(col("cls"), col("pos"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("u")).cast("double").as("s"))
        .select(col("cls"), col("pos"),
          round((col("s") / col("n")) / 1e6, 8).as("centroid_val"))
    }),

    // IVF ANN with sample-bounded training (512-vector md5 sample, local
    // Lloyd — one TakeOrderedAndProject job, zero per-iteration cluster
    // passes); at scale centroids persist via centroidsToDf and queries
    // call ivfKnnWith instead of retraining (CentroidStoreSpec).
    "q_ivf_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityOps.ivfKnn(e, e.filter(col("vec_id") < 10), k = 5)
    }),

    // Partitioned-HNSW shard/level assignment — the deterministic half
    // of the graph tier (construction itself is a greedy walk, gated in
    // SimilarityOpsSpec by recall vs brute force + build determinism +
    // the exhaustive-beam==brute-force law). Level = leading [0-3] run
    // of md5(id‖"_lvl"), the P(level≥L)=4^-L geometric ladder with NO
    // float ln — integer-exact on any engine, so DuckDB replays it.
    "q_hnsw_levels" -> ((s, dir) =>
      SimilarityOps.hnswAssign(Tables.embeddings(s, dir))
        .groupBy(col("shard"), col("level"))
        .agg(count(lit(1)).as("n"))),

    // The graph tier's oracled END-TO-END query: exhaustive-beam HNSW.
    // With ef ≥ shard size the beam explores each shard's whole
    // (connected) level-0 graph, so build → walk → scatter-gather merge
    // must equal brute-force top-k EXACTLY — the oracle gates graph
    // connectivity, the walk machinery, and the merge at every SF. The
    // approximate-ef production setting is recall-gated in
    // SimilarityOpsSpec (measured 1.00 at ef=64).
    "q_hnsw_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityOps.hnswKnn(e, SimilarityOps.hnswBuild(e),
        e.filter(col("vec_id") < 10), k = 5, ef = 4096)
    }),

    // Near-dup clustering end-to-end (LSH → connected components →
    // canonical pick). Oracle: the same pipeline with CC as a recursive
    // CTE — min reachable id per vertex is the propagation fixpoint.
    "q_neardup_clusters" -> ((s, dir) =>
      DedupOps.dedupNearDups(Tables.documents(s, dir), minJaccard = 0.3)
        .select(col("doc_id"), col("cluster"), col("is_canonical"))),

    // Approximate distinct (A9) via the deterministic KMV bottom-k sketch
    // (Sketches.kmvDistinct): unlike HLL — whose register layout is
    // engine-private, leaving only bound checks — every step (md5,
    // bottom-k, integer division) replays exactly in the DuckDB oracle,
    // so this query hash-matches like any other. HLL remains available
    // through approx_count_distinct for cluster use; accuracy of this
    // sketch vs exact is asserted in QueryBoundsSpec.
    "q_approx_distinct" -> ((s, dir) =>
      graft.functions.Sketches.kmvDistinct(
        Tables.documents(s, dir), "lang", "source", k = 64)),

    // REAL WARC parse — the Common Crawl container: per-record gzip
    // members inflated through the multi-member stream, CRLF header-block
    // scan, Content-Length-octet body slice, terminator required. The
    // oracle replays headers and body digests from the corpus columns, so
    // a mis-sliced body or a skipped record breaks the hash.
    "q_warc_parse" -> ((s, dir) =>
      graft.operators.WarcOps.decodeWarc(
        graft.operators.WarcOps.encodeWarc(Tables.documents(s, dir))))
  )

  // ---- oracle SQL ----------------------------------------------------------

  /** words + distinct n-shingles CTEs (DuckDB lists are 1-based). */
  private def shingleCte(n: Int, docFilter: String = "") = {
    val terms = (0 until n).map(k => s"w[i${if (k > 0) s"+$k" else ""}]")
      .mkString(" || ' ' || ")
    s"""words AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents $docFilter),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= $n
       |         THEN list_distinct(list_transform(range(1, len(w) - ${n - 2}),
       |              i -> $terms))
       |         ELSE CAST([] AS VARCHAR[]) END AS shs
       |  FROM words)""".stripMargin
  }

  // mirrors DedupOps.minhashSignatures: hash i = 8-hex slice i%4 of
  // md5("⌊i/4⌋:" || s)
  private val sigCols = (0 until 8).map(i =>
    s"list_min(list_transform(shs, s -> substr(md5('${i / 4}:' || s), ${1 + 8 * (i % 4)}, 8))) AS sig_$i")
    .mkString(",\n    ")

  private val sigCte =
    s"""sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM sh)""".stripMargin

  private val bandsCte = {
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(sig_${2 * b} || sig_${2 * b + 1}) AS bucket FROM sig WHERE sig_${2 * b} IS NOT NULL")
      .mkString("\n  UNION ALL ")
    s"bands AS (\n  $bands)"
  }

  /** md5-derived hash bucket value as a CTE ending in `hv(doc_id, v)` —
    * shared by the split-assignment and stratified-sample oracles
    * (rebuilds [[graft.operators.TextOps.hashBucket]] verbatim). */
  private val hashBucketCte =
    """WITH h AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
      |hv AS (
      |  SELECT doc_id,
      |    (CASE WHEN ascii(substr(hx,1,1)) >= 97 THEN ascii(substr(hx,1,1))-87
      |          ELSE ascii(substr(hx,1,1))-48 END) * 4096 +
      |    (CASE WHEN ascii(substr(hx,2,1)) >= 97 THEN ascii(substr(hx,2,1))-87
      |          ELSE ascii(substr(hx,2,1))-48 END) * 256 +
      |    (CASE WHEN ascii(substr(hx,3,1)) >= 97 THEN ascii(substr(hx,3,1))-87
      |          ELSE ascii(substr(hx,3,1))-48 END) * 16 +
      |    (CASE WHEN ascii(substr(hx,4,1)) >= 97 THEN ascii(substr(hx,4,1))-87
      |          ELSE ascii(substr(hx,4,1))-48 END) AS v
      |  FROM h)""".stripMargin

  /** SimHash computation as a CTE ending in `sh(doc_id, simhash)` —
    * shared by the hash dump and the Hamming near-dup pair oracle. */
  private def simhashCteFor(pred: String): String =
    s"""WITH words AS (
      |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |  FROM documents WHERE $pred),
      |wb AS (SELECT doc_id, substr(md5(w), 1, 4) AS h4 FROM words),
      |bits AS (SELECT doc_id, h4, i AS j FROM wb, range(0, 16) t(i)),
      |hv AS (
      |  SELECT doc_id, j,
      |    CASE WHEN ASCII(substr(h4, CAST(FLOOR(j / 4.0) AS INTEGER) + 1, 1)) >= 97
      |         THEN ASCII(substr(h4, CAST(FLOOR(j / 4.0) AS INTEGER) + 1, 1)) - 87
      |         ELSE ASCII(substr(h4, CAST(FLOOR(j / 4.0) AS INTEGER) + 1, 1)) - 48
      |    END AS hexval
      |  FROM bits),
      |votes AS (
      |  SELECT doc_id, j,
      |    SUM((CAST(FLOOR(hexval / POW(2, j % 4)) AS BIGINT) % 2) * 2 - 1) AS v
      |  FROM hv GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN POW(2, j) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY 1)""".stripMargin

  private val simhashCte = simhashCteFor("1 = 1")

  /** Exact-jaccard verification over candidate pairs (expects CTEs `cand`
    * with (id_a, id_b) and `sh` with (doc_id, shs)). Split so the final
    * select can also be embedded as a CTE (`jaccardAsCte`). */
  private val jaccardCtes =
    """shr AS (SELECT doc_id, UNNEST(shs) AS s FROM sh),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY 1),
      |inter AS (
      |  SELECT c.id_a, c.id_b, COUNT(*) AS i
      |  FROM cand c
      |  JOIN shr a ON a.doc_id = c.id_a
      |  JOIN shr b ON b.doc_id = c.id_b AND b.s = a.s
      |  GROUP BY 1, 2)""".stripMargin

  private val jaccardSelect =
    """SELECT c.id_a, c.id_b,
      |  ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) /
      |        CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE), 6) AS jaccard
      |FROM cand c
      |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      |JOIN sizes sa ON sa.doc_id = c.id_a
      |JOIN sizes sb ON sb.doc_id = c.id_b""".stripMargin

  private val jaccardTail = jaccardCtes + "\n" + jaccardSelect

  private val jaccardAsCte =
    jaccardCtes + ",\njac AS (\n" + jaccardSelect + ")"

  private def markerSql(pat: String): String = {
    val needle = s" $pat "
    s"(length(' ' || lower(text) || ' ') - length(regexp_replace(' ' || lower(text) || ' ', '$needle', '', 'g'))) / ${needle.length}"
  }

  private def langScoreSql(markers: Seq[String]): String =
    "CAST(" + markers.map(markerSql).mkString(" + ") + " AS DOUBLE)"

  /** LSH plane weights as literal rows — same md5-derived constants the
    * Scala side computes; i is 1-based to match DuckDB list indexing. */
  private lazy val planesValues: String = {
    val rows = for (p <- 0 until 8; i <- 0 until 64) yield {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$i".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      val w = Integer.parseInt(hex, 16) / 32768.0 - 1.0
      s"($p,${i + 1},$w)"
    }
    rows.mkString(",")
  }

  /** Rounded cosine of every `evT` vector against a (cid, pos, v) centroid
    * CTE — the shared scoring shape inside the k-means replay. `evT` /
    * `normsT` select the vector universe: the training sample during Lloyd
    * iterations, the full corpus for the final scores. */
  private def centroidScoreCte(name: String, centsCte: String,
                               normCte: String, evT: String = "ev",
                               normsT: String = "norms"): String =
    s"""$normCte AS (SELECT cid, SQRT(SUM(v * v)) AS cnrm FROM $centsCte GROUP BY 1),
       |$name AS (
       |  SELECT ev.vec_id, c.cid,
       |    ROUND(SUM(ev.v * c.v) / (MAX(n.nrm) * MAX(cn.cnrm)), 6) AS s
       |  FROM $evT ev JOIN $centsCte c ON c.pos = ev.pos
       |  JOIN $normsT n ON n.vec_id = ev.vec_id
       |  JOIN $normCte cn ON cn.cid = c.cid
       |  GROUP BY ev.vec_id, c.cid)""".stripMargin

  /** Shared IVF CTEs — a verbatim replay of
    * [[graft.operators.SimilarityOps.kmeansCentroids]] with
    * `trainSample = sample`: md5-seeded init, `iters` Lloyd rounds over the
    * first `sample` vectors of the SAME md5 order (assignment argmax on the
    * 6-rounded cosine with smallest-cid tiebreak, means rounded to 6
    * decimals, empty clusters keep their previous centroid), then the
    * rounded cosine of every vector against every trained centroid. Ends
    * in `scores(vec_id, cid, s)`; leaves `e(vec_id, embedding)` and
    * `norms(vec_id, nrm)` in scope for the knn tail. */
  /** `trainWhere` restricts the seed/sample TRAINING universe (e.g. the
    * stored 90% in the incremental-dedup replay) while `scores` still
    * covers every vector — mirroring kmeansCentroids(storedSubset) on the
    * Spark side followed by assignment of the full corpus. */
  private def kmeansScoresCte(k: Int, iters: Int, sample: Int,
                              trainWhere: String = ""): String = {
    val iterCtes = (1 to iters).map { t =>
      s"""${centroidScoreCte(s"s$t", s"c${t - 1}", s"cn$t", "sev", "snorms")},
         |a$t AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |    FROM s$t) WHERE rn = 1),
         |m$t AS (
         |  SELECT a.cid, ev.pos, ROUND(AVG(ev.v), 6) AS v
         |  FROM a$t a JOIN sev ev ON ev.vec_id = a.vec_id GROUP BY 1, 2),
         |c$t AS (
         |  SELECT cid, pos, v FROM m$t
         |  UNION ALL
         |  SELECT c.cid, c.pos, c.v FROM c${t - 1} c
         |  WHERE c.cid NOT IN (SELECT cid FROM m$t))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |ev AS (
       |  SELECT vec_id, CAST(i AS INTEGER) AS pos,
       |    CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM e CROSS JOIN range(0, 64) t(i)),
       |norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ev GROUP BY 1),
       |samp AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id,
       |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |    FROM e $trainWhere) WHERE rn <= $sample),
       |sev AS (SELECT ev.* FROM ev JOIN samp USING (vec_id)),
       |snorms AS (SELECT norms.* FROM norms JOIN samp USING (vec_id)),
       |c0 AS (
       |  SELECT s.cid, ev.pos, ev.v FROM (
       |    SELECT vec_id AS cid FROM (
       |      SELECT vec_id,
       |        ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |      FROM e $trainWhere) WHERE rn <= $k) s
       |  JOIN ev ON ev.vec_id = s.cid),
       |$iterCtes,
       |${centroidScoreCte("scores", s"c$iters", "fcn")}
       |""".stripMargin
  }

  private val ivfScoresCte = kmeansScoresCte(16, 2, 512)

  /** Unrolled-SQL replay of [[graft.operators.TextOps.bpeTrain]]: step i
    * computes pair counts over vocabulary v(i-1), picks the (cnt DESC,
    * pair) winner with cnt >= 2, and rewrites the vocabulary with the
    * winner collapsed to chr(i) — exactly the engine's loop, one CTE
    * trio per merge. d(i) decodes the sentinel-space pair back to its
    * surface form via the earlier steps' decoded strings (sentinels are
    * distinct chars and decoded forms are sentinel-free, so replace
    * order is irrelevant). If a step converges (no pair >= 2), its
    * scalar subquery is NULL, the rewritten vocabulary empties, and the
    * step emits no row — matching the engine's early stop. */
  private def bpeTrainOracle(nMerges: Int): String = {
    val steps = (1 to nMerges).map { i =>
      // MATERIALIZED: each v(i) references v(i-1) three times (pair
      // count + two replace arms); inlined CTEs would blow up ~3^n
      s"""p$i AS MATERIALIZED (
         |  SELECT substr(word, i, 2) AS pair, SUM(wcnt) AS cnt
         |  FROM (SELECT word, wcnt, unnest(range(1, length(word))) AS i
         |        FROM v${i - 1})
         |  GROUP BY 1),
         |s$i AS MATERIALIZED (SELECT pair, cnt FROM p$i WHERE cnt >= 2
         |  ORDER BY cnt DESC, pair LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT replace(word, (SELECT pair FROM s$i), chr($i)) AS word,
         |    wcnt
         |  FROM v${i - 1}
         |  WHERE length(replace(word, (SELECT pair FROM s$i), chr($i)))
         |    >= 2)""".stripMargin
    }
    val decodes = (1 to nMerges).map { i =>
      val dec = (1 until i).foldLeft("pair") { (e, j) =>
        s"replace($e, chr($j), (SELECT merged FROM d$j))"
      }
      s"d$i AS MATERIALIZED (SELECT $i AS idx, pair, $dec AS merged, cnt FROM s$i)"
    }
    val union = (1 to nMerges).map(i => s"SELECT * FROM d$i")
      .mkString("\n  UNION ALL ")
    s"""WITH words AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents),
       |t AS (SELECT unnest(w) AS word FROM words),
       |v0 AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt FROM t
       |  GROUP BY 1 HAVING length(word) >= 2
       |  ORDER BY wcnt DESC, word LIMIT 50000),
       |${steps.mkString(",\n")},
       |${decodes.mkString(",\n")}
       |SELECT CAST(idx AS INTEGER) AS idx, pair, merged,
       |  CAST(cnt AS BIGINT) AS cnt
       |FROM (${union}) ORDER BY idx""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_bpe_train" -> bpeTrainOracle(8),
    "q_approx_distinct" ->
      graft.functions.Sketches.kmvOracleSql("documents", "lang", "source",
        k = 64),

    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS INTEGER) AS re_tokens
        |FROM documents""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars_calc,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER) AS n_words,
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |    / len(string_split_regex(lower(trim(text)), '\s+')) AS mean_word_len,
        |  CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |    / length(text) AS space_ratio
        |FROM documents""".stripMargin,

    "q_word_stats" ->
      """WITH w AS (
        |  SELECT doc_id, w
        |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
        |  WHERE w <> ''),
        |f AS (
        |  SELECT doc_id, w, COUNT(*) AS f FROM w GROUP BY doc_id, w)
        |SELECT doc_id,
        |  CAST(SUM(f) AS BIGINT) AS n_words,
        |  COUNT(*) AS n_distinct_words,
        |  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(f) AS BIGINT), 6)
        |    AS rep_ratio,
        |  CAST(MAX(f) AS BIGINT) AS max_word_freq
        |FROM f GROUP BY doc_id""".stripMargin,

    "q_tfidf_cosine" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |w AS (
        |  SELECT doc_id AS id, t
        |  FROM d, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS u(t)
        |  WHERE t <> ''),
        |tf AS (SELECT id, t, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
        |        HAVING COUNT(*) >= 2 AND COUNT(*) <= 100),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM d),
        |wt AS (
        |  SELECT id, tf.t,
        |    tf * CAST(ROUND(LOG2(CAST(nn AS DOUBLE) / df) * 1000000)
        |         AS BIGINT) AS wt
        |  FROM tf JOIN dfq ON tf.t = dfq.t, n),
        |norms AS (
        |  SELECT id, SUM(CAST(wt AS HUGEINT) * wt) AS nrm FROM wt GROUP BY 1),
        |dots AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    SUM(CAST(a.wt AS HUGEINT) * b.wt) AS dot
        |  FROM wt a JOIN wt b ON a.t = b.t AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  ROUND(CAST(dot AS DOUBLE) /
        |    (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE))), 6)
        |    AS cosine
        |FROM dots
        |JOIN norms na ON na.id = dots.id_a
        |JOIN norms nb ON nb.id = dots.id_b
        |WHERE ROUND(CAST(dot AS DOUBLE) /
        |    (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE))), 6)
        |  >= 0.5""".stripMargin,

    "q_lm_score" ->
      """WITH wrds AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM wrds)),
        |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
        |cp AS (SELECT w1, COUNT(*) AS cp FROM bi GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT x) AS v
        |      FROM (SELECT unnest(w) AS x FROM wrds)),
        |sc AS (
        |  SELECT bi.doc_id,
        |    CAST(ROUND(-log2((cb.cb + 1) / CAST(cp.cp + v.v AS DOUBLE)), 6)
        |      AS DECIMAL(28,6)) AS contrib
        |  FROM bi JOIN cb USING (w1, w2) JOIN cp USING (w1) CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(contrib) AS DOUBLE) / COUNT(*), 6) AS bits_per_token
        |FROM sc GROUP BY doc_id""".stripMargin,

    "q_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS w,
        |    CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS DOUBLE) AS s,
        |    CAST(GREATEST(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
        |      AS DOUBLE) AS syl
        |  FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
        |  CAST(s AS BIGINT) AS n_sentences,
        |  CAST(syl AS BIGINT) AS n_syllables,
        |  ROUND(206.835 - 1.015 * (w / s) - 84.6 * (syl / w), 6) AS flesch
        |FROM c""".stripMargin,

    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, c
        |  FROM documents, UNNEST(string_split(text, '')) AS t(c)
        |  WHERE c <> ''),
        |cnt AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(n) AS BIGINT) AS n_chars,
        |  COUNT(*) AS n_distinct_chars,
        |  ROUND(LOG2(CAST(SUM(n) AS DOUBLE)) -
        |        SUM(CAST(n AS DOUBLE) * LOG2(CAST(n AS DOUBLE))) /
        |          CAST(SUM(n) AS BIGINT), 6) AS char_entropy
        |FROM cnt GROUP BY doc_id""".stripMargin,

    "q_unigram_lm" ->
      """WITH w AS (
        |  SELECT doc_id, w
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t(w)
        |  WHERE w <> ''),
        |f AS (SELECT w, COUNT(*) AS c FROM w GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM f),
        |b AS (
        |  SELECT doc_id,
        |    CAST(ROUND(-log2(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)), 6)
        |      AS DECIMAL(28,6)) AS bits
        |  FROM w JOIN f USING (w) CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_words,
        |  CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS bits_per_word
        |FROM b GROUP BY doc_id""".stripMargin,

    "q_bigram_lm" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    w[CAST(i + 1 AS INTEGER)] || ' ' || w[CAST(i + 2 AS INTEGER)]
        |      AS g
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 1)) AS i
        |        FROM d WHERE len(w) >= 2)),
        |wd AS (
        |  SELECT doc_id, w1
        |  FROM documents,
        |    UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS t(w1)
        |  WHERE w1 <> ''),
        |c2 AS (SELECT g, COUNT(*) AS c2 FROM p GROUP BY 1),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM wd GROUP BY 1),
        |v AS (SELECT COUNT(*) AS v FROM c1),
        |b AS (
        |  SELECT p.doc_id,
        |    CAST(ROUND(-log2(CAST(c2.c2 + 1 AS DOUBLE)
        |      / CAST(c1.c1 + v.v AS DOUBLE)), 6) AS DECIMAL(28,6)) AS bits
        |  FROM p JOIN c2 USING (g)
        |  JOIN c1 ON c1.w1 = string_split(p.g, ' ')[1]
        |  CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_pairs,
        |  CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS bits_per_pair
        |FROM b GROUP BY doc_id""".stripMargin,

    "q_quality_filter" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER) AS n_words,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+')) AS mean_word_len,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_ratio
        |  FROM documents),
        |wd AS (
        |  SELECT doc_id, w
        |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
        |  WHERE w <> ''),
        |f AS (SELECT doc_id, w, COUNT(*) AS f FROM wd GROUP BY doc_id, w),
        |w AS (
        |  SELECT doc_id,
        |    ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(f) AS BIGINT), 6)
        |      AS rep_ratio
        |  FROM f GROUP BY doc_id)
        |SELECT m.doc_id,
        |  m.n_words >= 10 AS pass_len,
        |  m.mean_word_len >= 2 AND m.mean_word_len <= 12 AS pass_wordlen,
        |  m.punct_ratio <= 0.2 AS pass_punct,
        |  w.rep_ratio <= 0.4 AS pass_rep,
        |  (m.n_words >= 10 AND m.mean_word_len >= 2 AND m.mean_word_len <= 12
        |   AND m.punct_ratio <= 0.2 AND w.rep_ratio <= 0.4) AS keep
        |FROM m JOIN w ON w.doc_id = m.doc_id""".stripMargin,

    "q_lang_id" ->
      s"""SELECT doc_id, lang,
         |  ${langScoreSql(Seq("the", "and", "of"))} AS score_en,
         |  ${langScoreSql(Seq("der", "und", "die"))} AS score_de,
         |  ${langScoreSql(Seq("le", "la", "et"))} AS score_fr,
         |  ${langScoreSql(Seq("el", "los", "y"))} AS score_es,
         |  CASE
         |    WHEN ${langScoreSql(Seq("the", "and", "of"))} > 0
         |     AND ${langScoreSql(Seq("the", "and", "of"))} >= ${langScoreSql(Seq("der", "und", "die"))}
         |     AND ${langScoreSql(Seq("the", "and", "of"))} >= ${langScoreSql(Seq("le", "la", "et"))}
         |     AND ${langScoreSql(Seq("the", "and", "of"))} >= ${langScoreSql(Seq("el", "los", "y"))} THEN 'en'
         |    WHEN ${langScoreSql(Seq("der", "und", "die"))} > 0
         |     AND ${langScoreSql(Seq("der", "und", "die"))} >= ${langScoreSql(Seq("the", "and", "of"))}
         |     AND ${langScoreSql(Seq("der", "und", "die"))} >= ${langScoreSql(Seq("le", "la", "et"))}
         |     AND ${langScoreSql(Seq("der", "und", "die"))} >= ${langScoreSql(Seq("el", "los", "y"))} THEN 'de'
         |    WHEN ${langScoreSql(Seq("le", "la", "et"))} > 0
         |     AND ${langScoreSql(Seq("le", "la", "et"))} >= ${langScoreSql(Seq("the", "and", "of"))}
         |     AND ${langScoreSql(Seq("le", "la", "et"))} >= ${langScoreSql(Seq("der", "und", "die"))}
         |     AND ${langScoreSql(Seq("le", "la", "et"))} >= ${langScoreSql(Seq("el", "los", "y"))} THEN 'fr'
         |    WHEN ${langScoreSql(Seq("el", "los", "y"))} > 0
         |     AND ${langScoreSql(Seq("el", "los", "y"))} >= ${langScoreSql(Seq("the", "and", "of"))}
         |     AND ${langScoreSql(Seq("el", "los", "y"))} >= ${langScoreSql(Seq("der", "und", "die"))}
         |     AND ${langScoreSql(Seq("el", "los", "y"))} >= ${langScoreSql(Seq("le", "la", "et"))} THEN 'es'
         |    ELSE 'und' END AS lang_guess
         |FROM documents""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 4) AS shard_key
        |FROM documents""".stripMargin,

    "q_winnow_fingerprint" ->
      """WITH d AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 200),
        |g AS (
        |  -- constant range bound + filter (DuckDB range() can't take a
        |  -- lateral column); 8192 comfortably exceeds the fixture's max
        |  -- normalized doc length
        |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |    substr(t, CAST(i AS INTEGER) + 1, 8) AS g
        |  FROM d CROSS JOIN range(0, 8192) r(i)
        |  WHERE length(t) >= 8 AND i + 8 <= length(t)),
        |s AS (
        |  SELECT doc_id, pos,
        |    substr(md5(g), 1, 8) || ':' || lpad(CAST(pos AS VARCHAR), 8, '0') AS sel
        |  FROM g),
        |m AS (
        |  SELECT doc_id, pos,
        |    MIN(sel) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
        |  FROM s)
        |SELECT DISTINCT doc_id, substr(m, 1, 8) AS fp,
        |  CAST(substr(m, 10, 8) AS INTEGER) AS fp_pos
        |FROM m WHERE pos >= 3""".stripMargin,

    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, fingerprint
        |FROM (SELECT doc_id,
        |        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |      FROM documents)
        |GROUP BY fingerprint""".stripMargin,

    "q_dedup_survivor" ->
      """WITH f AS (
        |  SELECT doc_id, length(text) AS len,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
        |    ORDER BY len DESC, doc_id) AS rn
        |  FROM f)
        |SELECT fingerprint, doc_id AS survivor_id,
        |  CAST(len AS INTEGER) AS survivor_len
        |FROM r WHERE rn = 1""".stripMargin,

    "q_tfidf" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id < 200),
        |terms AS (
        |  SELECT doc_id, t.term
        |  FROM docs, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(term)
        |  WHERE length(t.term) >= 3),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM docs),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf AS DOUBLE) * (CAST(nd.n_docs AS DOUBLE) / CAST(dfc.df AS DOUBLE)) AS score
        |  FROM tf JOIN dfc USING (term) CROSS JOIN nd),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rn
        |      FROM scored)
        |SELECT doc_id, term, ROUND(score, 6) AS score, CAST(rn AS INT) AS rn
        |FROM r WHERE rn <= 3""".stripMargin,

    "q_class_cap" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM r WHERE rn <= 25""".stripMargin,

    "q_kmv_setops" -> graft.functions.Sketches.kmvSetOpsOracleSql(
      "(SELECT lang, CAST(doc_id AS VARCHAR) AS did FROM documents)",
      "lang", "did"),

    "q_cms_counts" -> graft.functions.Sketches.cmsOracleSql(
      "lineitem", "l_partkey", d = 3, w = 256),

    "q_pca" -> {
      def iter(i: Int): String = {
        val (prev, w, m, cur) = (s"v${i - 1}", s"w$i", s"m$i", s"v$i")
        s"""$w AS (SELECT m.i, SUM(m.c * v.v) AS w
           |       FROM mat m JOIN $prev v ON m.j = v.j GROUP BY 1),
           |$m AS (SELECT MAX(ABS(w)) AS m FROM $w),
           |$cur AS (SELECT i AS j, (w * 1000000) // m AS v FROM $w, $m)""".stripMargin
      }
      s"""WITH q AS (
         |  SELECT vec_id AS id, CAST(i AS INTEGER) AS i,
         |    CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
         |  FROM embeddings, range(16) t(i)
         |  WHERE vec_id < 2000),
         |mat AS (
         |  SELECT a.i AS i, b.i AS j, SUM(CAST(a.q AS HUGEINT) * b.q) AS c
         |  FROM q a JOIN q b ON a.id = b.id GROUP BY 1, 2),
         |v0 AS (SELECT DISTINCT i AS j, CAST(1000000 AS HUGEINT) AS v FROM mat),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT j AS i, CAST(v AS BIGINT) AS v_fp FROM v3""".stripMargin
    },

    // u = (first 13 md5 hex chars + 1) / 2^52 — hex parse, +1, and the
    // power-of-two divide are exact, so priority = w/u is one shared IEEE
    // division and needs no rounding
    "q_priority_sample" ->
      """WITH pr AS (
        |  SELECT doc_id, n_chars,
        |    CAST(n_chars AS DOUBLE) /
        |      ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |             AS BIGINT) + 1) / 4503599627370496.0) AS priority
        |  FROM documents),
        |top AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn
        |    FROM pr) WHERE rn <= 51),
        |tau AS (SELECT priority AS tau FROM top WHERE rn = 51)
        |SELECT t.doc_id, t.n_chars, t.priority,
        |  GREATEST(CAST(t.n_chars AS DOUBLE), tau.tau) AS est_weight
        |FROM top t, tau WHERE t.rn <= 50""".stripMargin,

    "q_bm25" ->
      """WITH terms AS (
        |  SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(term)
        |  WHERE length(t.term) >= 3),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |                 CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
        |       WHERE term IN ('hash','join','vector','stream','window')
        |       GROUP BY 1, 2),
        |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    LN((CAST(s.n_docs AS DOUBLE) - CAST(dfc.df AS DOUBLE) + 0.5)
        |       / (CAST(dfc.df AS DOUBLE) + 0.5) + 1.0)
        |    * ((CAST(tf.tf AS DOUBLE) * 2.2)
        |       / (CAST(tf.tf AS DOUBLE)
        |          + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / s.avgdl)))) AS contrib
        |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
        |byd AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN term = 'hash'   THEN contrib END) AS c0,
        |    SUM(CASE WHEN term = 'join'   THEN contrib END) AS c1,
        |    SUM(CASE WHEN term = 'vector' THEN contrib END) AS c2,
        |    SUM(CASE WHEN term = 'stream' THEN contrib END) AS c3,
        |    SUM(CASE WHEN term = 'window' THEN contrib END) AS c4
        |  FROM scored GROUP BY 1)
        |SELECT doc_id, ROUND(COALESCE(c0, 0.0) + COALESCE(c1, 0.0)
        |  + COALESCE(c2, 0.0) + COALESCE(c3, 0.0) + COALESCE(c4, 0.0), 6) AS score
        |FROM byd""".stripMargin,

    "q_minhash_sig" ->
      s"""WITH ${shingleCte(3)},
         |$sigCte
         |SELECT * FROM sig""".stripMargin,

    "q_lsh_recall" ->
      s"""WITH ${shingleCte(3)},
         |$sigCte,
         |$bandsCte,
         |bcand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |    AND a.doc_id < b.doc_id),
         |shr AS (SELECT doc_id, UNNEST(shs) AS s FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shr a JOIN shr b ON b.s = a.s AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, COUNT(*) AS i
         |  FROM cand c
         |  JOIN shr a ON a.doc_id = c.id_a
         |  JOIN shr b ON b.doc_id = c.id_b AND b.s = a.s
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT c.id_a, c.id_b,
         |    ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) /
         |          CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE), 6)
         |      AS jaccard
         |  FROM cand c
         |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |  JOIN sizes sa ON sa.doc_id = c.id_a
         |  JOIN sizes sb ON sb.doc_id = c.id_b),
         |tp AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
         |agg AS (
         |  SELECT
         |    (SELECT COUNT(*) FROM tp) AS n_true,
         |    (SELECT COUNT(*) FROM bcand) AS n_banded,
         |    (SELECT COUNT(*) FROM tp JOIN bcand USING (id_a, id_b))
         |      AS n_hit)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_banded AS BIGINT) AS n_banded,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(CASE WHEN n_true = 0 THEN 0
         |       ELSE n_hit * 10000 // n_true END AS BIGINT) AS recall_bp
         |FROM agg""".stripMargin,

    "q_minhash_pairs" ->
      s"""WITH ${shingleCte(3)},
         |$sigCte,
         |$bandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |$jaccardTail""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH ${shingleCte(3)},
         |$sigCte,
         |$bandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |  WHERE a.doc_id >= 400 OR b.doc_id >= 400),
         |$jaccardTail""".stripMargin,

    // exhaustive-beam HNSW == brute force (connectivity + walk + merge
    // gate): the oracle is exact top-k, identical to q_cosine_knn's
    "q_hnsw_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |    SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS dot,
        |    SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS qq,
        |    SUM(CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS nn
        |  FROM e q, e n, range(1, 65) t(i)
        |  WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, nid, ROUND(dot / (SQRT(qq) * SQRT(nn)), 6) AS cosine
        |  FROM pairs)
        |SELECT qid, nid, cosine, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, nid) AS rn
        |  FROM scored) WHERE rn <= 5""".stripMargin,

    // HNSW shard = first 4 md5 nibbles mod nShards; level = leading
    // [0-3] run of md5(id||'_lvl') capped at 6 — both integer-exact
    "q_hnsw_levels" ->
      """WITH h AS (
        |  SELECT vec_id,
        |    md5(CAST(vec_id AS VARCHAR)) AS hx,
        |    md5(CAST(vec_id AS VARCHAR) || '_lvl') AS lx
        |  FROM embeddings),
        |a AS (
        |  SELECT
        |    CAST((
        |      (CASE WHEN ascii(substr(hx,1,1)) >= 97
        |            THEN ascii(substr(hx,1,1))-87
        |            ELSE ascii(substr(hx,1,1))-48 END) * 4096 +
        |      (CASE WHEN ascii(substr(hx,2,1)) >= 97
        |            THEN ascii(substr(hx,2,1))-87
        |            ELSE ascii(substr(hx,2,1))-48 END) * 256 +
        |      (CASE WHEN ascii(substr(hx,3,1)) >= 97
        |            THEN ascii(substr(hx,3,1))-87
        |            ELSE ascii(substr(hx,3,1))-48 END) * 16 +
        |      (CASE WHEN ascii(substr(hx,4,1)) >= 97
        |            THEN ascii(substr(hx,4,1))-87
        |            ELSE ascii(substr(hx,4,1))-48 END)
        |    ) % 4 AS INTEGER) AS shard,
        |    CAST(LEAST(length(regexp_extract(lx, '^[0-3]+')), 6)
        |      AS INTEGER) AS level
        |  FROM h)
        |SELECT shard, level, COUNT(*) AS n
        |FROM a GROUP BY shard, level""".stripMargin,

    // same LSH candidate pipeline as q_minhash_pairs, thresholded at 0.3,
    // then connected components as a recursive CTE: reach(id) = every label
    // reachable through the near-dup edges; MIN(reachable) per id is
    // exactly the engine's min-label-propagation fixpoint.
    "q_neardup_clusters" ->
      s"""WITH RECURSIVE ${shingleCte(3)},
         |$sigCte,
         |$bandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |$jaccardAsCte,
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM jac WHERE jaccard >= 0.3
         |  UNION ALL
         |  SELECT id_b, id_a FROM jac WHERE jaccard >= 0.3),
         |reach(id, lbl) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.id = e.b),
         |labels AS (SELECT id, MIN(lbl) AS label FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |  COALESCE(l.label, d.doc_id) AS cluster,
         |  COALESCE(l.label, d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN labels l ON l.id = d.doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH ${shingleCte(2, "WHERE doc_id < 300")},
         |shrd AS (SELECT doc_id, UNNEST(shs) AS s FROM sh),
         |dfreq AS (SELECT s, COUNT(*) AS df FROM shrd GROUP BY 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shrd a
         |  JOIN shrd b ON a.s = b.s AND a.doc_id < b.doc_id
         |  JOIN dfreq d ON d.s = a.s
         |  WHERE d.df <= 100),
         |$jaccardTail
         |WHERE ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) /
         |      CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE), 6) >= 0.05""".stripMargin,

    "q_containment" ->
      s"""WITH ${shingleCte(2, "WHERE doc_id < 300")},
         |shrd AS (SELECT doc_id, UNNEST(shs) AS s FROM sh),
         |dfreq AS (SELECT s, COUNT(*) AS df FROM shrd GROUP BY 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shrd a
         |  JOIN shrd b ON a.s = b.s AND a.doc_id < b.doc_id
         |  JOIN dfreq d ON d.s = a.s
         |  WHERE d.df <= 100),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shrd GROUP BY 1),
         |inter AS (
         |  SELECT c.id_a, c.id_b, COUNT(*) AS i
         |  FROM cand c
         |  JOIN shrd a ON a.doc_id = c.id_a
         |  JOIN shrd b ON b.doc_id = c.id_b AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b,
         |  ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) /
         |        CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6) AS overlap,
         |  ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) /
         |        CAST(sa.n AS DOUBLE), 6) AS contain_a
         |FROM cand c
         |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |JOIN sizes sa ON sa.doc_id = c.id_a
         |JOIN sizes sb ON sb.doc_id = c.id_b
         |WHERE ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) /
         |      CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6) >= 0.2""".stripMargin,

    "q_hash_split" -> (hashBucketCte +
      """
        |SELECT doc_id, v % 100 AS bucket,
        |  CASE WHEN v % 100 < 80 THEN 'train'
        |       WHEN v % 100 < 90 THEN 'val' ELSE 'test' END AS split
        |FROM hv""".stripMargin),

    "q_budget_fill" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, toks,
        |    CAST(SUM(toks) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, lang, toks, cum FROM c
        |WHERE cum - toks < 2000""".stripMargin,

    // same per-lang md5-ordered running sum as q_budget_fill, mapped to
    // fixed 256-token windows
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, toks,
        |    CAST(SUM(toks) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, lang, toks,
        |  CAST(FLOOR((cum - toks) / 256) AS BIGINT) AS first_window,
        |  CAST(FLOOR((cum - 1) / 256) AS BIGINT) AS last_window,
        |  FLOOR((cum - 1) / 256) > FLOOR((cum - toks) / 256) AS fragmented
        |FROM c""".stripMargin,

    "q_split_contamination" -> (hashBucketCte +
      s""",
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN v % 100 < 80 THEN 'train'
         |         WHEN v % 100 < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM hv),
         |${shingleCte(3)},
         |$sigCte,
         |$bandsCte,
         |bs AS (
         |  SELECT b.doc_id, b.band, b.bucket, sp.split
         |  FROM bands b JOIN sp ON sp.doc_id = b.doc_id)
         |SELECT DISTINCT t.doc_id
         |FROM bs t
         |WHERE t.split = 'test'
         |  AND EXISTS (SELECT 1 FROM bs tr
         |              WHERE tr.split = 'train'
         |                AND tr.band = t.band AND tr.bucket = t.bucket)""".stripMargin),

    // the removal twin of q_split_contamination: same banding replay, but
    // the output is the SURVIVING train set (no-shingle train docs can't
    // collide and are kept — the base set is sp, not bands)
    "q_decontaminate" -> (hashBucketCte +
      s""",
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN v % 100 < 80 THEN 'train'
         |         WHEN v % 100 < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM hv),
         |${shingleCte(3)},
         |$sigCte,
         |$bandsCte,
         |bs AS (
         |  SELECT b.doc_id, b.band, b.bucket, sp.split
         |  FROM bands b JOIN sp ON sp.doc_id = b.doc_id),
         |susp AS (
         |  SELECT DISTINCT t.doc_id
         |  FROM bs t
         |  WHERE t.split = 'train'
         |    AND EXISTS (SELECT 1 FROM bs tr
         |                WHERE tr.split = 'test'
         |                  AND tr.band = t.band AND tr.bucket = t.bucket))
         |SELECT doc_id FROM sp
         |WHERE split = 'train'
         |  AND doc_id NOT IN (SELECT doc_id FROM susp)""".stripMargin),

    "q_rep_ngram" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS sh
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM words)),
        |f AS (SELECT doc_id, sh, COUNT(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_ngrams,
        |  COUNT(*) AS n_distinct,
        |  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT), 6)
        |    AS rep_fraction,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT), 6)
        |    AS top_fraction
        |FROM f GROUP BY doc_id""".stripMargin,

    "q_bpe_pairs" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |t AS (SELECT unnest(w) AS word FROM words),
        |wc AS (
        |  SELECT word, COUNT(*) AS wcnt FROM t
        |  GROUP BY 1 HAVING length(word) >= 2),
        |p AS (
        |  SELECT substr(word, i, 2) AS pair, wcnt
        |  FROM (SELECT word, wcnt, unnest(range(1, length(word))) AS i
        |        FROM wc))
        |SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt
        |FROM p GROUP BY 1
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "q_bpe_merge2" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |t AS (SELECT unnest(w) AS word FROM words),
        |wc AS (
        |  SELECT word, COUNT(*) AS wcnt FROM t
        |  GROUP BY 1 HAVING length(word) >= 2),
        |p1 AS (
        |  SELECT substr(word, i, 2) AS pair, SUM(wcnt) AS cnt
        |  FROM (SELECT word, wcnt, unnest(range(1, length(word))) AS i
        |        FROM wc)
        |  GROUP BY 1),
        |top1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |merged AS (
        |  SELECT replace(word, (SELECT pair FROM top1), chr(1)) AS word,
        |    wcnt
        |  FROM wc
        |  WHERE length(replace(word, (SELECT pair FROM top1), chr(1))) >= 2)
        |SELECT substr(word, i, 2) AS pair, CAST(SUM(wcnt) AS BIGINT) AS cnt
        |FROM (SELECT word, wcnt, unnest(range(1, length(word))) AS i
        |      FROM merged)
        |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "q_novelty" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        |        FROM words)),
        |d AS (SELECT sh, COUNT(*) AS df FROM g GROUP BY 1)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  ROUND(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        |FROM g JOIN d USING (sh) GROUP BY g.doc_id""".stripMargin,

    "q_vocab_kl" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS word FROM words),
        |c AS (
        |  SELECT word,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ce,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS co
        |  FROM t GROUP BY 1),
        |tt AS (
        |  SELECT CAST(SUM(ce) AS BIGINT) AS ne, CAST(SUM(co) AS BIGINT)
        |    AS nodd, COUNT(*) AS v
        |  FROM c),
        |terms AS (
        |  SELECT CAST(
        |      (CAST(ce + 1 AS DOUBLE) / CAST(ne + v AS DOUBLE))
        |      * LN((CAST(ce + 1 AS DOUBLE) / CAST(ne + v AS DOUBLE))
        |          / (CAST(co + 1 AS DOUBLE) / CAST(nodd + v AS DOUBLE)))
        |    AS DECIMAL(38,12)) AS trm, ne, nodd, v
        |  FROM c, tt)
        |SELECT ROUND(CAST(SUM(trm) AS DOUBLE), 6) AS kl_pq, v AS vocab,
        |  ne AS n_even, nodd AS n_odd
        |FROM terms GROUP BY ne, nodd, v""".stripMargin,

    "q_chunk_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |d AS (SELECT doc_id, w, CAST(FLOOR(len(w) / 8) AS INTEGER) AS nc
        |      FROM words),
        |chunks AS (
        |  SELECT doc_id,
        |    md5(array_to_string(w[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(0, nc)) AS i FROM d)),
        |df AS (SELECT h, COUNT(*) AS occ FROM chunks GROUP BY 1)
        |SELECT c.doc_id,
        |  COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN df.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  ROUND(CAST(SUM(CASE WHEN df.occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_fraction
        |FROM chunks c JOIN df ON df.h = c.h
        |GROUP BY c.doc_id""".stripMargin,

    // exact-quartile prune replay: 4·rank <= count integer predicate
    "q_quality_prune" ->
      """SELECT doc_id, source, n_chars, CAST(rnk AS INTEGER) AS rnk
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rnk,
        |    COUNT(*) OVER (PARTITION BY source) AS cnt
        |  FROM documents)
        |WHERE rnk * 4 <= cnt""".stripMargin,

    // mixture replay: per-source rate in basis points, md5-bucket
    // membership
    "q_mixture_sample" -> (hashBucketCte +
      """,
        |per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
        |  COUNT(*) AS nsrc FROM per),
        |wr AS (
        |  SELECT source, n_docs,
        |    LEAST(10000, CAST(FLOOR(CAST(total AS DOUBLE) * 10000.0
        |      / (nsrc * n_docs)) AS BIGINT)) AS rate_bp
        |  FROM per, tot)
        |SELECT d.source, wr.n_docs, wr.rate_bp, COUNT(*) AS n_kept
        |FROM documents d
        |JOIN hv ON d.doc_id = hv.doc_id
        |JOIN wr ON d.source = wr.source
        |WHERE hv.v % 10000 < wr.rate_bp
        |GROUP BY 1, 2, 3""".stripMargin),

    // shard replay: hashBucket mod 8, md5-order rank within shard
    "q_shard_assign" -> (hashBucketCte +
      """,
        |sh AS (
        |  SELECT h.doc_id, hv.v % 8 AS shard, h.hx
        |  FROM h JOIN hv ON h.doc_id = hv.doc_id)
        |SELECT doc_id, CAST(shard AS INTEGER) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY hx, doc_id) - 1 AS BIGINT) AS pos_in_shard
        |FROM sh""".stripMargin),

    // Zipf replay: same rank order (freq desc, word), micro-unit logs,
    // HUGEINT moment sums, one double division
    "q_zipf" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |f AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY 1),
        |r AS (
        |  SELECT freq,
        |    ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank
        |  FROM f),
        |m AS (
        |  SELECT
        |    CAST(ROUND(LOG2(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |    CAST(ROUND(LOG2(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |  FROM r),
        |a AS (
        |  SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM m)
        |SELECT n AS n_terms,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
        |FROM a""".stripMargin,

    // Heaps replay: bucket token counts + first-doc new-word counts,
    // bucket-grain running sums
    "q_heaps" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |bt AS (
        |  SELECT CAST(FLOOR(doc_id / 50) AS BIGINT) AS bucket,
        |    COUNT(*) AS toks
        |  FROM toks GROUP BY 1),
        |fw AS (SELECT word, MIN(doc_id) AS fd FROM toks GROUP BY 1),
        |nb AS (
        |  SELECT CAST(FLOOR(fd / 50) AS BIGINT) AS bucket,
        |    COUNT(*) AS new_words
        |  FROM fw GROUP BY 1)
        |SELECT bt.bucket,
        |  CAST(SUM(toks) OVER (ORDER BY bt.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_tokens,
        |  CAST(SUM(COALESCE(new_words, 0)) OVER (ORDER BY bt.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_vocab
        |FROM bt LEFT JOIN nb ON bt.bucket = nb.bucket""".stripMargin,

    "q_blocklist" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(w,
        |    x -> list_contains(['slow', 'dup', 'stale'], x)))
        |    AS INTEGER) AS n_banned_hits,
        |  CAST(len(list_intersect(list_distinct(w),
        |    ['slow', 'dup', 'stale'])) AS INTEGER) AS n_banned_distinct,
        |  len(list_filter(w,
        |    x -> list_contains(['slow', 'dup', 'stale'], x))) = 0 AS is_clean
        |FROM w""".stripMargin,

    // top-20-by-frequency vocab (ties by word) + per-doc OOV rollup
    "q_vocab_oov" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |vocab AS (
        |  SELECT word FROM toks GROUP BY word
        |  ORDER BY COUNT(*) DESC, word LIMIT 20)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN word IN (SELECT word FROM vocab)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN word IN (SELECT word FROM vocab)
        |    THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS oov_rate
        |FROM toks GROUP BY doc_id""".stripMargin,

    // duplicated-span replay: same 3-gram lattice (0-based positions),
    // md5 over the gram text, df >= 2 DISTINCT docs, pos − row_number
    // islands, span_words = run + 2
    "q_dup_spans" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |    md5(array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)],
        |      ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        |        FROM words WHERE len(w) >= 3)),
        |dup AS (
        |  SELECT h FROM grams GROUP BY h
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |dp AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM grams WHERE h IN (SELECT h FROM dup))
        |SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
        |  CAST(COUNT(*) + 2 AS INTEGER) AS span_words
        |FROM dp GROUP BY doc_id, grp""".stripMargin,

    // incremental chunk replay: the BATCH pipeline over the full corpus,
    // restricted to the delta docs (the equivalence the operator promises)
    "q_chunk_incremental" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |d AS (SELECT doc_id, w, CAST(FLOOR(len(w) / 8) AS INTEGER) AS nc
        |      FROM words),
        |chunks AS (
        |  SELECT doc_id,
        |    md5(array_to_string(w[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(0, nc)) AS i FROM d)),
        |df AS (SELECT h, COUNT(*) AS occ FROM chunks GROUP BY 1)
        |SELECT c.doc_id,
        |  COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN df.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  ROUND(CAST(SUM(CASE WHEN df.occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_fraction
        |FROM chunks c JOIN df ON df.h = c.h
        |WHERE c.doc_id >= 400
        |GROUP BY c.doc_id""".stripMargin,

    // incremental span replay: the BATCH lattice over the full corpus,
    // islands restricted to the delta docs
    "q_span_incremental" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |    md5(array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)],
        |      ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        |        FROM words WHERE len(w) >= 3)),
        |dup AS (
        |  SELECT h FROM grams GROUP BY h
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |dp AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM grams WHERE h IN (SELECT h FROM dup) AND doc_id >= 400)
        |SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
        |  CAST(COUNT(*) + 2 AS INTEGER) AS span_words
        |FROM dp GROUP BY doc_id, grp""".stripMargin,

    // span-removal replay: gram lattice + min-doc owner, covered word
    // positions from exploding removable gram starts, order-preserving
    // string_agg rebuild of the kept words
    "q_span_removal" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |    w[CAST(i AS INTEGER) + 1] AS word
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM words)),
        |grams AS (
        |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |    md5(array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)],
        |      ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        |        FROM words WHERE len(w) >= 3)),
        |stats AS (
        |  SELECT h, MIN(doc_id) AS owner FROM grams GROUP BY h
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT g.doc_id, g.pos + t.k AS wpos
        |  FROM grams g JOIN stats s ON g.h = s.h AND g.doc_id <> s.owner,
        |       UNNEST([0, 1, 2]) AS t(k))
        |SELECT t.doc_id, COUNT(*) AS n_words,
        |  CAST(SUM(CASE WHEN c.wpos IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_removed,
        |  COALESCE(string_agg(CASE WHEN c.wpos IS NULL THEN t.word END,
        |    ' ' ORDER BY t.pos), '') AS cleaned_text
        |FROM toks t LEFT JOIN cov c
        |  ON t.doc_id = c.doc_id AND t.pos = c.wpos
        |GROUP BY t.doc_id""".stripMargin,

    // CDC replay: same boundary rule (md5 hex digit < '2' closes the
    // chunk), running-sum window for the chunk index, order-preserving
    // string_agg for the chunk text, then the q_chunk_dedup df/join tail.
    "q_cdc_chunks" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |wr AS (
        |  SELECT doc_id, i AS pos, w[CAST(i AS INTEGER) + 1] AS wd
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM words)),
        |ck AS (
        |  SELECT doc_id, pos, wd,
        |    COALESCE(SUM(CASE WHEN substr(md5(wd), 1, 1) < '2'
        |                      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS cidx
        |  FROM wr),
        |chunks AS (
        |  SELECT doc_id, md5(string_agg(wd, ' ' ORDER BY pos)) AS h
        |  FROM ck GROUP BY doc_id, cidx),
        |df AS (SELECT h, COUNT(*) AS occ FROM chunks GROUP BY 1)
        |SELECT c.doc_id,
        |  COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN df.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  ROUND(CAST(SUM(CASE WHEN df.occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_fraction
        |FROM chunks c JOIN df ON df.h = c.h
        |GROUP BY c.doc_id""".stripMargin,

    "q_span_corrupt" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(w) AS INT) AS n_tokens,
        |  CAST(len(list_filter(range(1, len(w) + 1), i -> i % 7 = 0)) AS INT)
        |    AS n_masked,
        |  array_to_string(list_transform(range(1, len(w) + 1),
        |    i -> CASE WHEN i % 7 = 0 THEN '<X>'
        |              ELSE w[CAST(i AS INTEGER)] END), ' ') AS corrupted,
        |  array_to_string(list_transform(
        |    list_filter(range(1, len(w) + 1), i -> i % 7 = 0),
        |    i -> w[CAST(i AS INTEGER)]), ' ') AS targets
        |FROM d""".stripMargin,

    "q_stride_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id, CAST(j AS INTEGER) AS chunk_idx,
        |  CAST(LEAST(16, len(w) - j * 8) AS INT) AS n_words,
        |  md5(array_to_string(
        |    w[CAST(j * 8 + 1 AS INTEGER):CAST(j * 8 + 16 AS INTEGER)],
        |    ' ')) AS fp
        |FROM d CROSS JOIN range(0, 1024) r(j)
        |WHERE j * 8 < len(w)""".stripMargin,

    "q_segment_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |s AS (
        |  -- constant range + filter (the winnow-oracle idiom); 1024
        |  -- segments = 8192 words, far past the fixture's max doc
        |  SELECT doc_id, CAST(j AS INTEGER) AS seg_idx,
        |    array_to_string(
        |      w[CAST(j * 8 + 1 AS INTEGER):CAST(j * 8 + 8 AS INTEGER)],
        |      ' ') AS seg
        |  FROM d CROSS JOIN range(0, 1024) r(j)
        |  WHERE j * 8 < len(w)),
        |p AS (
        |  SELECT doc_id, seg_idx, seg,
        |    LEAD(seg) OVER (PARTITION BY doc_id ORDER BY seg_idx)
        |      AS next_seg
        |  FROM s)
        |SELECT doc_id, seg_idx, md5(seg) AS a_fp, md5(next_seg) AS b_fp
        |FROM p WHERE next_seg IS NOT NULL""".stripMargin,

    "q_pii_stats" -> (piiSaltedCte +
      """
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_phone,
        |  CAST(len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(text,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |    + len(regexp_extract_all(text,
        |      '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_pii
        |FROM pii""".stripMargin),

    "q_pii_redact" -> (piiSaltedCte +
      """,
        |r AS (
        |  SELECT doc_id, text,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        |  FROM pii)
        |SELECT doc_id, redacted, (redacted <> text) AS was_redacted
        |FROM r""".stripMargin),

    "q_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title><style>p { color: red; }</style>' ||
        |    '<script type="text/javascript">var x = 1 < 2; </script>' ||
        |    '</head><body><h1 class="hd">Doc ' || doc_id || '</h1><p>' ||
        |    text ||
        |    '</p><p>Tom &amp; Jerry say 1 &lt; 2 &gt; 0 &quot;ok&quot; ' ||
        |    '&#39;yes&#39;</p></body></html>' AS html
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(html,
        |            '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS t
        |  FROM h)
        |SELECT doc_id, CAST(length(t) AS INT) AS n_chars, md5(t) AS text_md5
        |FROM t""".stripMargin,

    "q_crawl_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style>' ||
        |    '<script>if (1 < 2) { x(); }</script></head><body><p>' ||
        |    text || '</p></body></html>' AS html
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(html,
        |            '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS t
        |  FROM h)
        |SELECT doc_id, CAST(length(t) AS INT) AS n_chars, md5(t) AS text_md5
        |FROM t""".stripMargin,

    "q_robots" -> (urlSaltedCte +
      """,
        |d AS (
        |  SELECT doc_id,
        |    regexp_extract(
        |      regexp_replace(lower(regexp_extract(url,
        |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |        ':(80|443)$', ''),
        |      '([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$', 1) AS domain,
        |    regexp_extract(url, '://[^/?#]*(/[^?#]*)', 1) AS path
        |  FROM u),
        |r AS (
        |  SELECT doc_id, domain, path,
        |    'User-agent: *' || chr(10) || 'Disallow: /admin' || chr(10) ||
        |    'Disallow: /p/' || substr(domain, 4, 1) || chr(10) ||
        |    'Allow: /' || chr(10) AS rt
        |  FROM d),
        |p AS (
        |  SELECT doc_id, domain, path,
        |    list_transform(
        |      list_filter(string_split(replace(rt, chr(13) || chr(10), chr(10)), chr(10)),
        |        l -> lower(l) LIKE 'disallow:%'),
        |      l -> trim(substr(l, 10))) AS rules
        |  FROM r)
        |SELECT doc_id, domain, path,
        |  CAST(CASE WHEN len(list_filter(rules,
        |    x -> x <> '' AND starts_with(path, x))) > 0
        |    THEN 1 ELSE 0 END AS INT) AS blocked
        |FROM p""".stripMargin),

    "q_url_normalize" -> (urlSaltedCte +
      """,
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':(80|443)$', '', 'g')
        |      AS host,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1)
        |      AS rest
        |  FROM u)
        |SELECT doc_id, scheme, host,
        |  regexp_extract(host, '([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$', 1) AS domain,
        |  scheme || '://' || host ||
        |    regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(rest,
        |        '([?&])(utm_[A-Za-z]+=[^&#]*&)+', '\1', 'g'),
        |        '[?&]utm_[A-Za-z]+=[^&#]*', '', 'g'),
        |      '\?$', '', 'g'), '/$', '', 'g') AS norm_url
        |FROM parts""".stripMargin),

    "q_domain_cap" -> (urlSaltedCte +
      """,
        |d AS (
        |  SELECT doc_id,
        |    regexp_extract(
        |      regexp_replace(lower(regexp_extract(url,
        |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':(80|443)$', '', 'g'),
        |      '([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$', 1) AS domain
        |  FROM u),
        |r AS (
        |  SELECT doc_id, domain,
        |    ROW_NUMBER() OVER (PARTITION BY domain
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, domain FROM r WHERE rn <= 3""".stripMargin),

    "q_sq_error" -> (sqStatsCte +
      """
        |SELECT e.vec_id,
        |  ROUND(CAST(SUM(CAST(FLOOR(
        |      ABS(e.v - CASE WHEN s.mx > s.mn
        |        THEN FLOOR((e.v - s.mn) / (s.mx - s.mn) * 255.0 + 0.5)
        |          / 255.0 * (s.mx - s.mn) + s.mn
        |        ELSE s.mn END) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / 1e9, 6) AS mae
        |FROM ex e JOIN stats s ON s.pos = e.pos
        |GROUP BY e.vec_id""".stripMargin),

    "q_sq_encode" -> (sqStatsCte +
      """
        |SELECT e.vec_id, e.pos,
        |  CASE WHEN s.mx > s.mn
        |    THEN CAST(FLOOR((e.v - s.mn) / (s.mx - s.mn) * 255.0 + 0.5) - 128
        |      AS INTEGER)
        |    ELSE 0 END AS code
        |FROM ex e JOIN stats s ON s.pos = e.pos""".stripMargin),

    "q_sq_knn" -> (sqStatsCte +
      """,
        |codes AS (
        |  SELECT e.vec_id, e.pos,
        |    CASE WHEN s.mx > s.mn
        |      THEN CAST(FLOOR((e.v - s.mn) / (s.mx - s.mn) * 255.0 + 0.5) - 128
        |        AS BIGINT)
        |      ELSE 0 END AS code
        |  FROM ex e JOIN stats s ON s.pos = e.pos),
        |qd AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid, SUM(q.code * n.code) AS qdot
        |  FROM codes q JOIN codes n ON n.pos = q.pos
        |  WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT qid, nid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY qdot DESC, nid) AS arn
        |    FROM qd) WHERE arn <= 20),
        |pr AS (
        |  SELECT c.qid, c.nid,
        |    SUM(CAST(eq.embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |      * CAST(en.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS dot,
        |    SUM(CAST(eq.embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |      * CAST(eq.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS qq2,
        |    SUM(CAST(en.embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |      * CAST(en.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS nn2
        |  FROM cand c
        |  JOIN embeddings eq ON eq.vec_id = c.qid
        |  JOIN embeddings en ON en.vec_id = c.nid
        |  CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, nid, ROUND(dot / (SQRT(qq2) * SQRT(nn2)), 6) AS cosine
        |  FROM pr)
        |SELECT qid, nid, cosine, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, nid) AS rn
        |  FROM scored) WHERE rn <= 5""".stripMargin),

    // compressed ANN: the IVF CTEs (training replay → scores) feed the
    // probe/assign lists; the SQ codebook (stats over the SAME ev explode)
    // feeds integer codes; candidates = probed lists, ranked by integer
    // dot, top k·refine re-ranked by exact cosine — a verbatim replay of
    // SimilarityOps.sqIvfKnn.
    "q_sq_ivf_knn" -> (ivfScoresCte + ",\n" +
      """stats AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM ev GROUP BY 1),
        |codes AS (
        |  SELECT ev.vec_id, ev.pos,
        |    CASE WHEN s.mx > s.mn
        |      THEN CAST(FLOOR((ev.v - s.mn) / (s.mx - s.mn) * 255.0 + 0.5) - 128
        |        AS BIGINT)
        |      ELSE 0 END AS code
        |  FROM ev JOIN stats s ON s.pos = ev.pos),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |    FROM scores) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS qid, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |    FROM scores WHERE vec_id < 10) WHERE rn <= 12),
        |cand AS (
        |  SELECT DISTINCT p.qid, a.vec_id AS nid
        |  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
        |qd AS (
        |  SELECT c.qid, c.nid, SUM(cq.code * cn.code) AS qdot
        |  FROM cand c
        |  JOIN codes cq ON cq.vec_id = c.qid
        |  JOIN codes cn ON cn.vec_id = c.nid AND cn.pos = cq.pos
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT qid, nid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY qdot DESC, nid) AS arn
        |    FROM qd) WHERE arn <= 20),
        |pairs AS (
        |  SELECT t.qid, t.nid,
        |    ROUND(SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |            * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |          / (MAX(nq.nrm) * MAX(nn.nrm)), 6) AS cosine
        |  FROM top t
        |  JOIN e q ON q.vec_id = t.qid
        |  JOIN e n ON n.vec_id = t.nid
        |  JOIN norms nq ON nq.vec_id = t.qid
        |  JOIN norms nn ON nn.vec_id = t.nid
        |  CROSS JOIN range(1, 65) t2(i)
        |  GROUP BY t.qid, t.nid)
        |SELECT qid, nid, cosine, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, nid) AS rn
        |  FROM pairs) WHERE rn <= 5""".stripMargin),

    "q_corpus_card" -> (piiSaltedCte +
      """,
        |pc AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(text,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |    + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS n_pii
        |  FROM pii),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER)
        |      AS n_words,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+')) AS mean_word_len,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_ratio
        |  FROM documents),
        |wd AS (
        |  SELECT doc_id, w
        |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
        |  WHERE w <> ''),
        |f AS (SELECT doc_id, w, COUNT(*) AS f FROM wd GROUP BY doc_id, w),
        |ws AS (
        |  SELECT doc_id,
        |    ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(f) AS BIGINT), 6)
        |      AS rep_ratio
        |  FROM f GROUP BY doc_id),
        |cw AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |cd0 AS (SELECT doc_id, w, CAST(FLOOR(len(w) / 8) AS INTEGER) AS nc
        |        FROM cw),
        |chunks AS (
        |  SELECT doc_id,
        |    md5(array_to_string(w[CAST(i*8+1 AS INTEGER):CAST(i*8+8 AS INTEGER)], ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(0, nc)) AS i FROM cd0)),
        |cdf AS (SELECT h, COUNT(*) AS occ FROM chunks GROUP BY 1),
        |cd AS (
        |  SELECT c.doc_id,
        |    ROUND(CAST(SUM(CASE WHEN cdf.occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / COUNT(*), 6) AS dup_fraction
        |  FROM chunks c JOIN cdf ON cdf.h = c.h
        |  GROUP BY c.doc_id)
        |SELECT d.lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(m.n_words) AS BIGINT) AS total_words,
        |  ROUND(CAST(SUM(CASE WHEN m.n_words >= 10 AND m.mean_word_len >= 2
        |      AND m.mean_word_len <= 12 AND m.punct_ratio <= 0.2
        |      AND ws.rep_ratio <= 0.4 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate,
        |  ROUND(CAST(SUM(CASE WHEN pc.n_pii > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS pii_doc_rate,
        |  ROUND(CAST(SUM(CAST(FLOOR(COALESCE(cd.dup_fraction, 0) * 1e6 + 0.5)
        |      AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS mean_dup_fraction
        |FROM documents d
        |JOIN m ON m.doc_id = d.doc_id
        |JOIN ws ON ws.doc_id = d.doc_id
        |JOIN pc ON pc.doc_id = d.doc_id
        |LEFT JOIN cd ON cd.doc_id = d.doc_id
        |GROUP BY d.lang""".stripMargin),

    "q_token_budget" -> (hashBucketCte +
      """,
        |t AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN hv.v % 100 < 80 THEN 'train'
        |         WHEN hv.v % 100 < 90 THEN 'val' ELSE 'test' END AS split,
        |    CAST(len(string_split_regex(lower(trim(d.text)), '\s+')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+')) AS BIGINT) AS re
        |  FROM documents d JOIN hv ON hv.doc_id = d.doc_id)
        |SELECT lang, split, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(re) AS BIGINT) AS re_tokens
        |FROM t GROUP BY 1, 2""".stripMargin),

    "q_stratified_sample" -> (hashBucketCte +
      """
        |SELECT d.doc_id, d.lang, hv.v % 100 AS bucket
        |FROM documents d JOIN hv ON hv.doc_id = d.doc_id
        |WHERE (d.lang = 'en' AND hv.v % 100 < 50)
        |   OR (d.lang <> 'en' AND hv.v % 100 < 10)""".stripMargin),

    "q_jaccard_pruned" ->
      s"""WITH ${shingleCte(2, "WHERE doc_id < 300")},
         |shrd AS (SELECT doc_id, UNNEST(shs) AS s FROM sh),
         |dfreq AS (SELECT s, COUNT(*) AS df FROM shrd GROUP BY 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shrd a
         |  JOIN shrd b ON a.s = b.s AND a.doc_id < b.doc_id
         |  JOIN dfreq d ON d.s = a.s
         |  WHERE d.df <= 20),
         |$jaccardTail
         |WHERE ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) /
         |      CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE), 6) >= 0.05""".stripMargin,

    "q_simhash" -> (simhashCte + "\nSELECT doc_id, simhash FROM sh"),

    "q_simhash_neardup" -> (simhashCte + """
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sh a JOIN sh b
        |  ON (a.simhash // 256) = (b.simhash // 256) AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    "q_er_pairs" ->
      """WITH r AS (
        |  SELECT p_name AS key, p_partkey AS id, substr(p_name, 1, 1) AS blk,
        |    ROW_NUMBER() OVER (PARTITION BY substr(p_name, 1, 1)
        |                       ORDER BY p_name, p_partkey) AS rn
        |  FROM part),
        |a AS (
        |  SELECT blk, key AS key_a, id AS id_a, rn + k.k AS rn_b
        |  FROM r, (SELECT UNNEST([1, 2, 3]) AS k) k)
        |SELECT a.id_a, b.id AS id_b,
        |  ROUND(jaro_winkler_similarity(a.key_a, b.key), 6) AS sim
        |FROM a JOIN r b ON a.blk = b.blk AND a.rn_b = b.rn
        |WHERE jaro_winkler_similarity(a.key_a, b.key) >= 0.9""".stripMargin,

    "q_fuzzy_dedup" -> (simhashCteFor("doc_id < 1000") + """
        |, cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |  FROM sh a JOIN sh b
        |    ON (a.simhash // 256) = (b.simhash // 256) AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
        |nt AS (SELECT doc_id,
        |         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS ntext
        |       FROM documents)
        |SELECT c.id_a, c.id_b, c.hamming,
        |  CAST(levenshtein(ta.ntext, tb.ntext) AS INTEGER) AS edit_dist
        |FROM cand c JOIN nt ta ON c.id_a = ta.doc_id
        |            JOIN nt tb ON c.id_b = tb.doc_id
        |WHERE levenshtein(ta.ntext, tb.ntext) <= 25""".stripMargin),

    "q_knn_classify" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |    SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS dot,
        |    SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS qq,
        |    SUM(CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS nn
        |  FROM e q, e n, range(1, 65) t(i)
        |  WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, nid, ROUND(dot / (SQRT(qq) * SQRT(nn)), 6) AS cosine
        |  FROM pairs),
        |knn AS (
        |  SELECT qid, nid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cosine DESC, nid) AS rn
        |    FROM scored) WHERE rn <= 5),
        |votes AS (
        |  SELECT qid, CAST(nid % 7 AS INTEGER) AS label, COUNT(*) AS votes
        |  FROM knn GROUP BY 1, 2)
        |SELECT qid, label AS pred_label, votes FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY votes DESC, label) AS rn
        |  FROM votes) WHERE rn = 1""".stripMargin,

    "q_centroids" ->
      """WITH ex AS (
        |  SELECT CAST(vec_id % 7 AS INTEGER) AS cls, CAST(i AS INTEGER) AS pos,
        |    CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1e6) AS BIGINT) AS u
        |  FROM embeddings, range(8) t(i))
        |SELECT cls, pos,
        |  ROUND((CAST(SUM(u) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6, 8)
        |    AS centroid_val
        |FROM ex GROUP BY 1, 2""".stripMargin,

    "q_cosine_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |    SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS dot,
        |    SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS qq,
        |    SUM(CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS nn
        |  FROM e q, e n, range(1, 65) t(i)
        |  WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, nid, ROUND(dot / (SQRT(qq) * SQRT(nn)), 6) AS cosine
        |  FROM pairs)
        |SELECT qid, nid, cosine, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, nid) AS rn
        |  FROM scored) WHERE rn <= 5""".stripMargin,

    // triplet replay: same all-pairs cosine lattice for the bounded
    // anchors, top-1 positive, arg_min-md5 negative excluding both
    "q_triplet_mine" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |    SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS dot,
        |    SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS qq,
        |    SUM(CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS nn
        |  FROM e q, e n, range(1, 65) t(i)
        |  WHERE q.vec_id < 50 AND n.vec_id <> q.vec_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, nid, ROUND(dot / (SQRT(qq) * SQRT(nn)), 6) AS cosine
        |  FROM pairs),
        |pos AS (
        |  SELECT qid, nid AS pos_id, cosine AS pos_cos FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cosine DESC, nid) AS rn
        |    FROM scored) WHERE rn = 1),
        |neg AS (
        |  SELECT s.qid,
        |    arg_min(s.nid, md5(CAST(s.qid AS VARCHAR) || '_'
        |      || CAST(s.nid AS VARCHAR))) AS neg_id
        |  FROM scored s JOIN pos p ON s.qid = p.qid AND s.nid <> p.pos_id
        |  GROUP BY 1)
        |SELECT p.qid AS anchor, p.pos_id, p.pos_cos, n.neg_id,
        |  sc.cosine AS neg_cos
        |FROM pos p
        |JOIN neg n ON p.qid = n.qid
        |JOIN scored sc ON sc.qid = p.qid AND sc.nid = n.neg_id""".stripMargin,

    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    SUM(CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS dot,
        |    SUM(CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS aa,
        |    SUM(CAST(b.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS bb
        |  FROM e a, e b, range(1, 65) t(i)
        |  WHERE a.vec_id < b.vec_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, cosine FROM (
        |  SELECT id_a, id_b, ROUND(dot / (SQRT(aa) * SQRT(bb)), 6) AS cosine
        |  FROM pairs)
        |WHERE cosine >= 0.4""".stripMargin,

    "q_embed_neardup_lsh" ->
      s"""WITH planes(p, i, w) AS (SELECT * FROM (VALUES $planesValues)),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |dots AS (
         |  SELECT e.vec_id, pl.p,
         |    SUM(CAST(e.embedding[pl.i] AS DOUBLE) * pl.w) AS d
         |  FROM e, planes pl WHERE pl.p < 4 GROUP BY 1, 2),
         |buckets AS (
         |  SELECT vec_id,
         |    CAST(SUM(CASE WHEN ROUND(d, 6) > 0 THEN POW(2, p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY 1),
         |bsz AS (SELECT bucket, COUNT(*) AS n FROM buckets GROUP BY 1),
         |capped AS (
         |  SELECT b.vec_id, b.bucket FROM buckets b
         |  JOIN bsz ON bsz.bucket = b.bucket WHERE bsz.n <= 1000),
         |cand AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM capped a JOIN capped b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT c.id_a, c.id_b,
         |    SUM(CAST(ea.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(eb.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS dot,
         |    SUM(CAST(ea.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(ea.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS aa,
         |    SUM(CAST(eb.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(eb.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS bb
         |  FROM cand c
         |  JOIN e ea ON ea.vec_id = c.id_a
         |  JOIN e eb ON eb.vec_id = c.id_b
         |  CROSS JOIN range(1, 65) t(i)
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT id_a, id_b, ROUND(dot / (SQRT(aa) * SQRT(bb)), 6) AS cosine
         |  FROM pairs)
         |WHERE cosine >= 0.4""".stripMargin,

    "q_lsh_buckets" ->
      s"""WITH planes(p, i, w) AS (SELECT * FROM (VALUES $planesValues)),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |dots AS (
         |  SELECT e.vec_id, pl.p,
         |    SUM(CAST(e.embedding[pl.i] AS DOUBLE) * pl.w) AS d
         |  FROM e, planes pl GROUP BY 1, 2)
         |SELECT vec_id,
         |  CAST(SUM(CASE WHEN ROUND(d, 6) > 0 THEN POW(2, p) ELSE 0 END) AS BIGINT) AS bucket
         |FROM dots GROUP BY 1""".stripMargin,

    "q_ivf_assign" -> (ivfScoresCte +
      """SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |  FROM scores) WHERE rn = 1""".stripMargin),

    "q_cluster_card" -> (ivfScoresCte + ",\n" +
      """assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |    FROM scores) WHERE rn = 1),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |counts AS (
        |  SELECT a.cid, t.term, COUNT(*) AS term_count
        |  FROM toks t JOIN assign a ON t.doc_id = a.vec_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT cid, COUNT(*) AS n_docs FROM assign GROUP BY 1),
        |ranked AS (
        |  SELECT cid, term, term_count,
        |    ROW_NUMBER() OVER (PARTITION BY cid
        |      ORDER BY term_count DESC, term) AS rank
        |  FROM counts)
        |SELECT r.cid, s.n_docs, CAST(r.rank AS INTEGER) AS rank, r.term,
        |  r.term_count
        |FROM ranked r JOIN sizes s USING (cid) WHERE r.rank <= 3""".stripMargin),

    "q_ivf_knn" -> (ivfScoresCte + ",\n" +
      """assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |    FROM scores) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS qid, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |    FROM scores WHERE vec_id < 10) WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.qid, a.vec_id AS nid
        |  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
        |pairs AS (
        |  SELECT c.qid, c.nid,
        |    ROUND(SUM(CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |            * CAST(n.embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |          / (MAX(nq.nrm) * MAX(nn.nrm)), 6) AS cosine
        |  FROM cand c
        |  JOIN e q ON q.vec_id = c.qid
        |  JOIN e n ON n.vec_id = c.nid
        |  JOIN norms nq ON nq.vec_id = c.qid
        |  JOIN norms nn ON nn.vec_id = c.nid
        |  CROSS JOIN range(1, 65) t(i)
        |  GROUP BY c.qid, c.nid)
        |SELECT qid, nid, cosine, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, nid) AS rn
        |  FROM pairs) WHERE rn <= 5""".stripMargin),

    // incremental SemDeDup replay: k-means trains on the stored (vec_id %
    // 10 <> 0) universe only, every vector is assigned, and the
    // within-cluster pairs are restricted to those touching the delta.
    "q_semantic_dedup_incr" -> (
      kmeansScoresCte(16, 2, 512, "WHERE vec_id % 10 <> 0") + ",\n" +
      """assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |    FROM scores) WHERE rn = 1),
        |cand AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE a.vec_id % 10 = 0 OR b.vec_id % 10 = 0),
        |dup AS (
        |  SELECT c.id_a, c.id_b,
        |    ROUND(SUM(CAST(va.embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |            * CAST(vb.embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |          / (MAX(na.nrm) * MAX(nb.nrm)), 6) AS cosine
        |  FROM cand c
        |  JOIN e va ON va.vec_id = c.id_a
        |  JOIN e vb ON vb.vec_id = c.id_b
        |  JOIN norms na ON na.vec_id = c.id_a
        |  JOIN norms nb ON nb.vec_id = c.id_b
        |  CROSS JOIN range(1, 65) t(i)
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b, cosine FROM dup WHERE cosine >= 0.4""".stripMargin),

    // Same k-means replay as q_ivf_assign, then within-cluster rounded
    // cosine, CC as a recursive CTE (the q_neardup_clusters shape), keep
    // the min id per component. `e`/`norms` stay in scope from the kmeans
    // CTE; `e2` aliases edges to avoid colliding with the `e` CTE.
    // MATERIALIZED is a DuckDB planner hint, not a change of meaning: each
    // of `assign`, `dup` and `edges` is read twice or inside the recursion,
    // and inlined copies re-run the k-means replay per reference, which
    // exhausts DuckDB's default 12.5 GiB memory limit on a 15 GB host.
    "q_semantic_dedup" -> (
      ivfScoresCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      """assign AS MATERIALIZED (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |    FROM scores) WHERE rn = 1),
        |cand AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |dup AS MATERIALIZED (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN e va ON va.vec_id = c.id_a
        |  JOIN e vb ON vb.vec_id = c.id_b
        |  JOIN norms na ON na.vec_id = c.id_a
        |  JOIN norms nb ON nb.vec_id = c.id_b
        |  CROSS JOIN range(1, 65) t(i)
        |  GROUP BY c.id_a, c.id_b
        |  HAVING ROUND(SUM(CAST(va.embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |           * CAST(vb.embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |         / (MAX(na.nrm) * MAX(nb.nrm)), 6) >= 0.4),
        |edges AS MATERIALIZED (
        |  SELECT id_a AS a, id_b AS b FROM dup
        |  UNION ALL
        |  SELECT id_b, id_a FROM dup),
        |reach(id, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e2.a, r.lbl FROM edges e2 JOIN reach r ON r.id = e2.b),
        |labels AS (SELECT id, MIN(lbl) AS label FROM reach GROUP BY id)
        |SELECT em.vec_id,
        |  COALESCE(l.label, em.vec_id) AS cluster,
        |  COALESCE(l.label, em.vec_id) = em.vec_id AS is_kept
        |FROM embeddings em LEFT JOIN labels l ON l.id = em.vec_id""".stripMargin),

    "q_warc_parse" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents)
        |SELECT doc_id, CAST(0 AS INT) AS seq, 'response' AS rec_type,
        |  'https://example.com/doc/' || doc_id AS uri,
        |  CAST(strlen(text) AS INT) AS content_length,
        |  md5(text) AS body_md5
        |FROM d
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INT), 'metadata',
        |  'https://example.com/doc/' || doc_id,
        |  CAST(strlen('lang=' || lang) AS INT), md5('lang=' || lang)
        |FROM d""".stripMargin
  )
}
