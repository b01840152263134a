package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication for training corpora: exact, MinHash+LSH, SimHash and
  * n-gram Jaccard (builder brief — first-class alongside SURVEY §2).
  *
  * Scale design (100 TB):
  *  - exact dedup is a shuffle on the md5 fingerprint — uniformly hashed,
  *    skew-free, map-side-combined;
  *  - MinHash/LSH avoids the O(n²) pair space: candidates come from a join
  *    on (band, band_hash) buckets, so the shuffle carries k·|docs| rows,
  *    and only bucket-colliding pairs are verified with exact Jaccard;
  *  - SimHash reduces each doc to one integer; near-dup search is then a
  *    bucket join on the simhash (optionally rotated for Hamming tolerance);
  *  - all hashing is md5-derived — deterministic, seedless, identically
  *    computable by any engine (the DuckDB oracles rebuild it verbatim).
  */
object DedupOps {

  /** Pre-partition a CPU-dense per-row stage's input by the doc id when
    * the corpus is SMALL (zero-job optimizer-stats gate, the
    * overCapBloomWorthIt mechanism): small inputs are one or two scan
    * splits (single-row-group files are unsplittable — guide §2.5 "input
    * skew"), and AQE's byte-based coalescing then collapses any
    * downstream exchange to 1-2 partitions (minPartitionSize floors at
    * 1 MB), so the per-gram/per-word hash work that DOMINATES these
    * operators runs nearly serial no matter how many cores the session
    * has — measured at sf0.1/local[32]: the minhash bands stage burned
    * 30+ task-seconds at ≤2-way parallelism. An EXPLICIT numbered
    * repartition is exempt from AQE coalescing, its doc_id key is reused
    * by every window/agg the builders run (no second exchange appears),
    * and redistribution cannot change any value (every operator here is
    * partitioning-independent by the repo's exactness doctrine). The
    * gate keeps production-scale inputs on the default path — many
    * splits + AQE byte sizing are correct there — and bounds the fired
    * exchange's volume at cores × 4 MB of text. */
  private def docParallel(docs: DataFrame, idCol: String): DataFrame =
    TextOps.docParallel(docs, idCol)

  /** Exact dedup: group by normalized-text fingerprint, keep the smallest
    * doc id as canonical; emits (keep_id, n_copies, fingerprint). */
  def exactDedup(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    TextOps.fingerprint(docs, textCol)
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fingerprint"))

  /** Distinct shingle rows (doc_id, sh) — the shared input for signatures
    * and Jaccard verification.
    *
    * Built as posexplode(words) + window `lead` instead of array lambdas:
    * `transform`+`array_distinct` are interpreted per element and were ~11×
    * slower at sf0.1; r12 re-measured the plain-transform HOF lattice
    * (no array_distinct; OPTIMIZATION_r12.md §1) and it STILL loses here
    * (interleaved A/B at sf0.1: 0.86 vs 0.98 s under the signature agg) —
    * the interpreted per-gram lambda costs more than the window exchange
    * it removes when the gram STRING must materialize anyway. The window
    * shuffles on doc_id and the distinct on (doc_id, sh) — both uniformly
    * hashed, both linear in corpus size. (Consumers that need only gram
    * EQUALITY use [[shingleHashRows]], where the distinct carries 8-byte
    * keys instead.) */
  def shingleRows(docs: DataFrame, shingleN: Int,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // docParallel: the window reuses this doc_id partitioning, so the
    // per-gram md5/signature work downstream runs session-wide instead of
    // on AQE's 1-2 byte-coalesced partitions (small inputs only)
    val words = docParallel(docs, idCol).select(col(idCol).as("doc_id"),
      posexplode(TextOps.words(col(textCol))).as(Seq("pos", "w")))
    val withLeads = (1 until shingleN).foldLeft(words)((acc, k) =>
      acc.withColumn(s"w$k", lead(col("w"), k).over(w)))
    val complete = if (shingleN == 1) withLeads
      else withLeads.filter(col(s"w${shingleN - 1}").isNotNull)
    complete
      .select(col("doc_id"),
        concat_ws(" ", col("w") +: (1 until shingleN).map(k => col(s"w$k")): _*).as("sh"))
      .distinct()
  }

  /** Distinct 64-bit-HASHED shingle rows (doc_id, shh) — the shingle
    * lattice for consumers that never need the shingle STRING: the ngram
    * inverted-index paths ([[ngramJaccardPairs]] /
    * [[ngramContainmentPairs]]) key their df-cap window, candidate
    * self-join and verification sets on [[shingleHash]] anyway (r11), so
    * building the hash BEFORE the distinct narrows the one corpus-sized
    * exchange this builder owns from a multi-word string to 8 bytes
    * (guide §2.3; VERDICT r11 #4 — this distinct was the biggest dedup
    * exchange left). Construction is the [[gramLattice]] HOF shape
    * (transform + element_at over the in-row word array, zero window
    * exchange) rather than [[shingleRows]]' posexplode + lead:
    * OPTIMIZATION_r12.md §1-2's interleaved A/B at sf0.1 measured the two
    * hashed forms at parity (HOF 0.75 s vs lead-window 0.71 under the
    * df-cap window; both beat the old string-distinct 0.80), so the
    * zero-exchange form wins on the at-scale argument — shuffles get
    * relatively more expensive with cluster size (guide §2.2), per-gram
    * lambda CPU does not.
    * Distinct-on-hash ≡ distinct-on-string modulo 64-bit collisions — the
    * exact bet [[shingleSets]] already made post-distinct (a within-doc
    * collision now merges at the distinct instead of duplicating in the
    * sorted set; both resolve identically through the intersection
    * counts). Minhash paths keep [[shingleRows]]: signatures hash the
    * STRING per component. */
  def shingleHashRows(docs: DataFrame, shingleN: Int,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val w = TextOps.words(col(textCol))
    docParallel(docs, idCol)
      .select(col(idCol).as("doc_id"), w.as("w"))
      .filter(size(col("w")) >= shingleN)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - (shingleN - 1)),
          i => xxhash64(concat_ws(" ",
            (0 until shingleN).map(k => element_at(col("w"), i + k)): _*))))
          .as("shh"))
      .distinct()
  }

  /** MinHash signature: k min-hashes over word n-gram shingles. Hash i of
    * shingle s is an 8-hex-char (32-bit) slice of md5("⌊i/4⌋:s") — slice
    * i%4 — so k hashes cost ⌈k/4⌉ md5 digests per shingle, not k (md5
    * dominated the signature stage 4:1 before slicing). md5 bits are
    * uniform and slice-independent, and candidate recall is the only thing
    * hash quality affects — exact Jaccard verification filters downstream.
    * The signature component is the lexicographic min — string ordering is
    * total and engine-independent. Null signature ⇔ the doc has no shingle.
    *
    * One shuffle on doc_id; the k hashes are k codegen'd aggregate columns
    * with map-side partial mins, so the shuffle carries k·|docs| strings. */
  def minhashSignatures(docs: DataFrame, k: Int = 8, shingleN: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    signaturesFromShingles(docs, shingleRows(docs, shingleN, textCol, idCol),
      k, idCol)

  /** Signatures over ALREADY-computed shingle rows — so callers that also
    * need the shingles (near-dup verification, incremental indexing) hash
    * each shingle once, not twice. */
  private def signaturesFromShingles(docs: DataFrame, shr: DataFrame,
                                     k: Int, idCol: String): DataFrame = {
    def sigExpr(i: Int) =
      min(substring(md5(concat(lit(s"${i / 4}:"), col("sh")).cast("binary")),
        1 + 8 * (i % 4), 8)).as(s"sig_$i")
    val sigs = shr
      .groupBy(col("doc_id"))
      .agg(sigExpr(0), (1 until k).map(sigExpr): _*)
    // left join back so shingle-less docs keep null signatures
    docs.select(col(idCol).as("doc_id")).join(sigs, Seq("doc_id"), "left")
  }

  /** LSH banding over a MinHash signature: `bands` bands of `rowsPerBand`
    * signature components, hashed to a bucket id. Docs sharing any
    * (band, bucket) are candidate near-duplicates.
    *
    * The bucket is a 64-bit xxhash64 of the band's signature components,
    * not an md5 hex string (r12): the bucket never reaches any output —
    * every consumer (candidate self-joins, the stored band index, the
    * incremental path's pushdown key collect and over-cap bloom, the
    * decontamination semi-joins) needs bucket EQUALITY only, so the
    * narrowest collision-free key wins (guide §2.3 "narrower types"): the
    * candidate exchanges, the stored index rows, the IN-pushdown literal
    * lists and the bloom keys all carry 8 bytes instead of a 32-char
    * string. Same collision bet as every hash key in this file (a 64-bit
    * collision within one band mis-proposes one candidate pair, which
    * Jaccard verification then scores — and the screen-style consumers
    * make the identical bet the md5 form already made).
    * NULL GATING matters: xxhash64 skips null inputs instead of
    * propagating (xxhash64(null,…) = seed), so a doc with no shingles —
    * all sig components null — would land in a shared "empty" bucket and
    * pair with every other shingle-less doc. The when() reproduces md5 ∘
    * concat's null-propagation exactly: any null component ⇒ null bucket
    * ⇒ row dropped, as before.
    *
    * STORED-INDEX CONTRACT (r12): persisted band indexes written before
    * this change carry `bucket: string`. Analysis does NOT catch that:
    * under `spark.sql.ansi.enabled=false` (GraftSession) the long = string
    * join and IN pushdown coerce, hex buckets cast to null, and the delta
    * silently finds zero stored candidates. The incremental paths that
    * read stored bands therefore check the type on entry
    * ([[requireLongBuckets]]) and fail with "rebuild stored band index".
    * Rebuild stored band indexes after upgrading; the sets table
    * (array<long>, r11) is unchanged by this round. */
  def lshBands(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}"))
      val bucket = when(parts.map(_.isNotNull).reduce(_ && _),
        xxhash64(parts: _*))
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .filter(col("bucket").isNotNull)
  }


  /** Candidate pairs from LSH buckets, verified with exact Jaccard over the
    * shingle sets. Returns (id_a, id_b, jaccard) for every bucket-colliding
    * pair — callers threshold as needed. Eager: the pair set materializes
    * here so the corpus-sized shingle cache can be released immediately. */
  def minhashNearDups(docs: DataFrame, k: Int = 8, bands: Int = 4,
                      shingleN: Int = 3, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val rowsPerBand = k / bands
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val shr = shingleRows(docs, shingleN, textCol, idCol).persist(disk)
    // both sides of the candidate self-join consume the band rows, and the
    // signature aggregation behind them is the most expensive map stage of
    // the op — persist AND materialize before the join: a persisted-but-
    // unmaterialized cache does not dedupe concurrent computation, so the
    // join's two sides would otherwise race to compute the same partitions
    // twice (a 3× whole-pass slowdown at the 200k-doc scale check; this
    // count also populates the shingle cache in the same single pass)
    val bandRows = lshBands(
      signaturesFromShingles(docs, shr, k, idCol), bands, rowsPerBand)
      .persist(disk)
    graft.pipeline.Timing.stage("dedup", "bands")(bandRows.count())
    val cand = bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    jaccardVerified(cand, shr, shingleSets, minJaccard = 0.0, shr, bandRows)
  }

  /** Per-doc sorted shingle-hash sets — ONE row per doc (sorted 64-bit
    * xxhash64 array, values can be negative, + cardinality): the
    * verification half of the near-dup index. Stored instead of raw shingle rows, Jaccard verification of a
    * delta JOINS this table on the pair members (point lookups on doc_id —
    * bucketable/bloom-filterable at scale) instead of re-aggregating a
    * corpus-sized shingle table on every batch. */
  def shingleSets(shr: DataFrame): DataFrame = setsOf(shr, shingleHash)

  /** [[shingleSets]] over pre-hashed (doc_id, shh) rows from
    * [[shingleHashRows]] — the same sets (the hash is applied at distinct
    * time there instead of here). */
  def shingleSetsFromHashes(hashed: DataFrame): DataFrame = setsOf(hashed, col("shh"))

  private def setsOf(rows: DataFrame, elem: org.apache.spark.sql.Column): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(elem)).as("hs"), count(lit(1)).as("n"))

  /** The persisted LSH index of a corpus, in its INCREMENTAL-friendly
    * form: (doc_id, band, bucket) rows plus [[shingleSets]] (one row per
    * doc) rather than raw shingle rows — the two tables an incremental
    * dedup pipeline stores, so each new batch hashes ONLY the delta and
    * [[incrementalNearDupsIndexed]] verifies it with per-doc joins instead
    * of an O(corpus) shingle re-aggregation. */
  def buildNearDupIndex(docs: DataFrame, k: Int = 8, bands: Int = 4,
                        shingleN: Int = 3, textCol: String = "text",
                        idCol: String = "doc_id"): (DataFrame, DataFrame) =
    indexFrames(docs, shingleRows(docs, shingleN, textCol, idCol), k, bands,
      idCol)

  /** The (bands, sets) index frames over a given shingling — the ONE
    * definition of the index shape, shared by the lazy builder and the
    * one-pass writer so the stored index can never diverge from what
    * [[incrementalNearDupsIndexed]] expects. */
  private def indexFrames(docs: DataFrame, shr: DataFrame, k: Int,
                          bands: Int, idCol: String): (DataFrame, DataFrame) =
    (lshBands(signaturesFromShingles(docs, shr, k, idCol), bands, k / bands),
      shingleSets(shr))

  /** Materialize BOTH index tables in ONE corpus pass. The two frames
    * [[buildNearDupIndex]] returns share the shingle subtree but nothing
    * forces them to share its evaluation — writing them independently
    * shingles the corpus twice (a whole extra corpus scan at index-build
    * scale). Here the shingle rows are persisted, the FIRST writer's job
    * populates the cache (the writers run sequentially, so no eager
    * count() is needed — that doctrine is for concurrent consumers), the
    * second reads it, and the cache is released on every exit path.
    * Writers own the storage choice (path, compression, partitioning). */
  def writeNearDupIndex(docs: DataFrame,
                        writeBands: DataFrame => Unit,
                        writeSets: DataFrame => Unit,
                        k: Int = 8, bands: Int = 4, shingleN: Int = 3,
                        textCol: String = "text",
                        idCol: String = "doc_id"): Unit = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val shr = shingleRows(docs, shingleN, textCol, idCol).persist(disk)
    val (bandFrame, setFrame) = indexFrames(docs, shr, k, bands, idCol)
    // CLUSTER the stored index by its lookup key (bands by bucket, sets by
    // doc_id): range-partitioned + sorted files give every parquet row
    // group a narrow min/max span, so the IN filters the incremental path
    // pushes ([[incrementalIndexedCore]]) skip all but the touched groups.
    // This is what keeps stored-side bytes-read per delta O(delta keys) —
    // an unclustered index forces every batch to scan it end to end no
    // matter how the read is filtered. The extra range shuffle is paid
    // once at build time, where it belongs, not per batch. Writers should
    // also set a small parquet.block.size (~1 MB): the row group is the
    // skipping granularity, and an index table serving point lookups wants
    // many narrow groups, not the scan-optimized 128 MB default.
    try {
      writeBands(bandFrame.repartitionByRange(col("bucket"))
        .sortWithinPartitions("bucket"))
      writeSets(setFrame.repartitionByRange(col("doc_id"))
        .sortWithinPartitions("doc_id"))
    } finally shr.unpersist(false)
  }

  /** Cap on the literal key lists [[incrementalIndexedCore]] collects for
    * stored-side pushdown: a delta's touched buckets (≤ |delta|·bands) and
    * pair-member ids (≤ 2·|candidates|) ride into the plan as IN filters
    * only while they stay driver-sized; past the cap the code falls back
    * to the unpruned scan — at that point the delta is a meaningful
    * fraction of the corpus and a full pass is the right plan anyway.
    * The cap is an explicit parameter (JVM-global state would leak a
    * lowered cap across concurrently-running suites); specs pass a tiny
    * cap to force the over-cap fallback on fixture-sized data (the
    * fixtures never produce 20k candidates, so without the override that
    * code path would ship untested). */
  val DefaultMaxPushdownKeys: Int = 20000

  /** Stored-index point lookups as a pushdown-safe scan: parquet evaluates
    * a pushed In filter as a recursively-built or-chain, and executor
    * threads STACK-OVERFLOW between 1000 and 2000 literals (measured on
    * this Spark build — the reason spark.sql.parquet.pushdown.
    * inFilterThreshold defaults to 10). Chunking the key list into
    * ≤500-literal scans unioned together keeps every pushed chain
    * stack-safe while preserving the row-group skipping that makes the
    * stored-side read O(touched keys): each chunk scan independently
    * skips every row group of the clustered index whose min/max span
    * contains none of its keys. Empty keys ⇒ statically empty relation. */
  private def prunedByKeys(df: DataFrame, key: String,
                           keys: IndexedSeq[Any]): DataFrame =
    if (keys.isEmpty) df.limit(0)
    else keys.grouped(500).map(c => df.filter(col(key).isin(c: _*)))
      .reduce(_.union(_))

  /** Floor + ratio for [[overCapBloomWorthIt]]'s cost gate. The bloom
    * build costs two extra delta-sized jobs (a count for sizing, then a
    * full aggregation pass) BEFORE any stored row moves; at fixture scale
    * that fixed cost is a measured wall-time LOSS (BENCH r7:
    * dedup_overcap_bloom 7.45 s vs 3.54 s plain, to save 0.6 MB of
    * shuffle). The prefilter pays only when the stored side it prunes is
    * big enough that shuffling it dominates those passes: at least a few
    * shuffle partitions' worth of bytes, and several times the delta
    * (when the delta approaches the stored size, most stored rows match a
    * delta bucket anyway and the bloom prunes nothing). */
  val OverCapBloomMinStoredBytes: Long = 256L << 20
  val OverCapBloomMinRatio: Int = 4

  /** Cost gate for the over-cap bloom prefilter: engage only when
    * Catalyst's zero-job size estimates (file stats for parquet-backed
    * indexes — the [[writeNearDupIndex]] form this path reads) say the
    * stored band table clears [[OverCapBloomMinStoredBytes]] AND is at
    * least [[OverCapBloomMinRatio]]× the delta. Estimates, not truths —
    * but the failure mode of a wrong estimate is only a missed
    * optimization (plain scan) or a wasted delta pass, never a wrong
    * result (the bloom admits false positives only; the band join's
    * equality rejects them). */
  private[graft] def overCapBloomWorthIt(storedBands: DataFrame,
                                         newDocs: DataFrame): Boolean = {
    val stored = storedBands.queryExecution.optimizedPlan.stats.sizeInBytes
    val delta = newDocs.queryExecution.optimizedPlan.stats.sizeInBytes
    stored >= BigInt(OverCapBloomMinStoredBytes) &&
      stored >= delta * OverCapBloomMinRatio
  }

  /** The r12 stored-band contract, checked before any stored band is read
    * (see [[lshBands]]): a pre-r12 `bucket: string` index would otherwise
    * coerce silently under ANSI-off and match nothing. */
  private def requireLongBuckets(storedBands: DataFrame): Unit =
    require(storedBands.schema("bucket").dataType ==
        org.apache.spark.sql.types.LongType,
      "rebuild stored band index (r12 bucket format: long), found bucket: " +
        storedBands.schema("bucket").dataType.simpleString)

  /** Incremental near-dup: pairs introduced by a NEW batch against a
    * stored [[buildNearDupIndex]] (bands, sets) index — new×stored
    * candidates come from joining the new docs' bands against the stored
    * band table, new×new from a self-join of the delta; stored×stored
    * pairs are never re-examined. Exactly the batch [[minhashNearDups]]
    * result restricted to pairs touching a new doc (hashing is per-doc
    * deterministic — asserted in TextOpsSpec). The stored corpus is
    * touched ONLY by (a) the band equi-join and (b) a doc_id join on the
    * per-doc set table restricted to pair members — the delta cost is
    * O(delta hashing + candidates), with no corpus-sized aggregation
    * anywhere.
    *
    * Scope of the "delta cost independent of index size" claim
    * (VERDICT r8 #2): it holds in the UNDER-CAP regime — a delta touching
    * ≤ `maxPushdownKeys` buckets reads the stored index via IN-pushdown
    * point lookups, so bytes-read is O(delta buckets) at any index size
    * (BENCH dedup_prune: same delta, 3×-different index, near-equal MB).
    * PAST the cap the stored band table is scanned once per delta — a
    * term linear in index size (though not all SHUFFLED: the
    * [[overCapBloomWorthIt]]-gated bloom prefilter drops non-matching
    * stored rows before the join exchange once the index is
    * shuffle-dominant). Measured at 10× data with a 10× over-cap delta
    * (r8 one-off re-run, medians): ~5.6× wall time — sublinear,
    * because the scan is cheap relative to delta hashing + candidate
    * verification at that shape. */
  def incrementalNearDupsIndexed(newDocs: DataFrame, storedBands: DataFrame,
                                 storedSets: DataFrame, k: Int = 8,
                                 bands: Int = 4, shingleN: Int = 3,
                                 textCol: String = "text",
                                 idCol: String = "doc_id",
                                 maxPushdownKeys: Int = DefaultMaxPushdownKeys,
                                 overCapBloom: Option[Boolean] = None)
  : DataFrame =
    incrementalIndexedCore(newDocs, storedBands, storedSets, k, bands,
      shingleN, textCol, idCol, keepDelta = false, maxPushdownKeys,
      overCapBloom)._1

  /** [[incrementalNearDupsIndexed]] that ALSO returns the delta's own
    * (bands, sets) index rows, computed ONCE from the same cached shingles
    * the pairing used and still persisted on return. This is what an
    * index-maintaining caller (the streaming sink) appends to the stored
    * tables — without it, building those rows separately re-runs the
    * batch's entire shingle/signature/band pipeline a second time, because
    * the pairing's caches are already released by the time the append
    * executes. Caller owns the two returned caches (unpersist after
    * writing). */
  def incrementalNearDupsIndexedWithDelta(
      newDocs: DataFrame, storedBands: DataFrame, storedSets: DataFrame,
      k: Int = 8, bands: Int = 4, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      maxPushdownKeys: Int = DefaultMaxPushdownKeys)
  : (DataFrame, DataFrame, DataFrame) =
    incrementalIndexedCore(newDocs, storedBands, storedSets, k, bands,
      shingleN, textCol, idCol, keepDelta = true, maxPushdownKeys,
      overCapBloom = None)

  private def incrementalIndexedCore(
      newDocs: DataFrame, storedBands: DataFrame, storedSets: DataFrame,
      k: Int, bands: Int, shingleN: Int, textCol: String, idCol: String,
      keepDelta: Boolean, maxPushdownKeys: Int,
      overCapBloom: Option[Boolean]): (DataFrame, DataFrame, DataFrame) = {
    // AQE stays ON here. An earlier build flipped the session-global
    // spark.sql.adaptive.enabled off for the delta pass — it shaved ~40%
    // at local[8] but (a) mutated shared-session state visible to every
    // concurrent query (the sink runs this inside foreachBatch), and
    // (b) without AQE's partition coalescing each delta micro-stage ran
    // the full shuffle.partitions width: at local[32] the pass regressed
    // 1.5 s → 16 s. The pruning that matters (clustered index + chunked-IN
    // point lookups) is independent of AQE and stays.
    requireLongBuckets(storedBands)
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // every persist is tracked so a mid-flight failure (stored-table read,
    // checkpoint, verification join) releases them on the way out — without
    // this, an exception leaks three corpus-sized caches for the session
    // (the writeNearDupIndex finally-release doctrine)
    val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def track(df: DataFrame): DataFrame = { tracked += df.persist(disk); df }
    try {
      val shrNew = track(shingleRows(newDocs, shingleN, textCol, idCol))
      val sigs = signaturesFromShingles(newDocs, shrNew, k, idCol)
      val newBands = track(lshBands(sigs, bands, k / bands))
      // ONE job both materializes the newBands cache (it has three join
      // consumers below) and collects the delta's touched buckets — the
      // stored-side pushdown list. A separate count() here would be a
      // wasted pass.
      val deltaBuckets = newBands.select(col("bucket")).distinct()
        .limit(maxPushdownKeys + 1).collect().map(_.getLong(0)).toIndexedSeq
      // STATIC stored-side pruning: only stored rows in a delta-touched
      // bucket can ever join, so the touched buckets ride into the plan as
      // an IN filter. Against an index clustered by bucket
      // ([[writeNearDupIndex]]) parquet row-group stats skip everything
      // else — per-batch stored-band bytes-read is O(delta buckets), not
      // O(index). Past the cap the delta is corpus-sized and the stored
      // side must be scanned — but it need not all be SHUFFLED: a bloom
      // over the delta's buckets (built from the cache, one cheap job)
      // drops non-matching stored rows at the scan, before the join
      // exchange. False positives only re-admit rows the join's equality
      // rejects, so the result is exact; the shuffled stored volume falls
      // to matching rows + fpp·rest, which at 100 TB is the difference
      // between shuffling the corpus index and shuffling the overlap.
      // (overCapBloom=Some(true)/Some(false) are the measurement
      // controls — Bench times the over-cap delta both ways to keep the
      // claim empirical; None = the overCapBloomWorthIt cost gate, which
      // at fixture scale correctly picks the plain scan: the bloom's two
      // fixed delta passes only pay for themselves once the stored side
      // is shuffle-dominant — measured 7.45 s bloom vs 3.54 s plain at
      // fixture scale, for a 0.6 MB shuffle saving)
      val storedB =
        if (deltaBuckets.size > maxPushdownKeys) {
          if (overCapBloom.getOrElse(
              overCapBloomWorthIt(storedBands, newDocs))) {
            val bloom = newBands.stat.bloomFilter(
              "bucket", math.max(newBands.count(), 1L), 0.01)
            storedBands.filter(graft.functions.BloomExpressions
              .mightContain(bloom, col("bucket")))
          } else storedBands
        } else prunedByKeys(storedBands, "bucket", deltaBuckets)
      // ONE equi-join against the stored bands catches new×stored in both id
      // orders (least/greatest normalizes — the stored side shuffles once,
      // not twice); new×new comes from the delta self-join
      val vsStored = newBands.as("a").join(storedB.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      val vsNew = newBands.as("a").join(newBands.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      // ONE evaluation of the candidate join feeds BOTH the cap probe and
      // the downstream pair joins. Small results (the normal incremental
      // case: a delta's candidates are a sliver of the corpus) come back
      // to the driver and re-enter the plan as a LocalRelation — that
      // derives the pair-member list driver-side for free and lets the
      // verification joins BROADCAST the pair set. Past the cap (a
      // corpus-sized delta) the probe's partial materialization stays in
      // the cache and the pair joins read the SAME cache — no second
      // candidate job, no localCheckpoint recompute.
      val candFrame = track(vsStored.union(vsNew).distinct())
      val candidates = graft.pipeline.Timing.stage("dedup", "cand-ckpt")(
        candFrame.limit(maxPushdownKeys + 1).collect())
      val small = candidates.length <= maxPushdownKeys
      val p =
        if (small) {
          candFrame.unpersist(false)
          newDocs.sparkSession.createDataFrame(
            java.util.Arrays.asList(candidates.toIndexedSeq: _*),
            candFrame.schema)
        } else candFrame
      // pair members as a literal list: under the cap it REPLACES the
      // semi-join restriction and, like the bucket list, statically prunes
      // the stored-sets read down to the touched row groups of the
      // doc_id-clustered index.
      val memberIds: IndexedSeq[Any] =
        if (small)
          candidates.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
            .toSet.toIndexedSeq
        else IndexedSeq.empty
      val pushMembers = small
      lazy val docsInPairs = p.select(col("id_a").as("doc_id"))
        .union(p.select(col("id_b").as("doc_id")))
        .distinct()
      // delta docs' sets are built from the delta's own shingles; stored
      // docs' sets come straight from the index, restricted to pair
      // members (IN-filter point lookups under the cap; a semi-join —
      // which Catalyst pushes through the union — past it). A keepDelta
      // caller needs the FULL delta sets anyway; they are persisted here
      // and MATERIALIZE as a side effect of the verification union's own
      // sets job below (the filter over the cached frame computes every
      // partition), so no separate count() job is spent per micro-batch
      // (r12 — the streaming sink's per-batch fixed cost is job-count-
      // bound; this was one whole job of pure redundancy). In the
      // empty-candidate corner the union prunes to statically empty and
      // the cache stays cold — then the caller's append is the frame's
      // ONLY consumer and computes it once from the still-cached delta
      // shingles, which is exactly as cheap.
      val newSets =
        if (keepDelta) track(shingleSets(shrNew))
        else shingleSets(shrNew)
      // zero-candidate corner: the verification union prunes to statically
      // empty, so nothing below touches newSets — materialize it here,
      // while the delta shingle cache is still alive, or the keepDelta
      // caller's append would re-shingle the whole batch after
      // jaccardFromSets releases shrNew (everywhere else the union's sets
      // job populates the cache for free)
      if (keepDelta && candidates.isEmpty) newSets.count()
      // a doc RE-DELIVERED in the delta also has a row in the stored index;
      // keeping both would double its set row and multiply every pair it
      // appears in through the verification joins — the delta row wins
      // (anti-join on the delta's doc ids: delta-sized build side)
      val deltaIds = newDocs.select(col(idCol).as("doc_id")).distinct()
      val restricted =
        if (pushMembers)
          // point lookups on the doc_id-clustered stored sets (pushdown-
          // safe chunked IN), then the re-delivery anti-join; the delta's
          // own sets filter in memory (InSet — no pushdown involved)
          prunedByKeys(storedSets.select(col("doc_id"), col("hs"), col("n")),
              "doc_id", memberIds)
            .join(broadcast(deltaIds), Seq("doc_id"), "left_anti")
            // the delta sets' lineage ALSO bottoms out in a parquet scan
            // (the feed), so its member filter must be chunked too
            .union(prunedByKeys(
              newSets.select(col("doc_id"), col("hs"), col("n")),
              "doc_id", memberIds))
        else
          storedSets.select(col("doc_id"), col("hs"), col("n"))
            .join(broadcast(deltaIds), Seq("doc_id"), "left_anti")
            .union(newSets.select(col("doc_id"), col("hs"), col("n")))
            .join(docsInPairs, Seq("doc_id"), "left_semi")
      val sets = restricted.persist(disk)
      tracked += sets
      graft.pipeline.Timing.stage("dedup", "sets")(sets.count())
      val released =
        (if (keepDelta) Seq(sets, shrNew) else Seq(sets, shrNew, newBands)) ++
          (if (small) Nil else Seq(p))
      val pairs = jaccardFromSets(p, sets, minJaccard = 0.0, released: _*)
      // success: jaccardFromSets released `released`; keepDelta callers own
      // newBands/newSets (still cached by contract)
      (pairs, newBands, newSets)
    } catch {
      case t: Throwable =>
        tracked.foreach(df => scala.util.Try(df.unpersist(false)))
        throw t
    }
  }

  /** Chunk-level cross-corpus dedup statistics — the "remove duplicated
    * passages" step (C4/RefinedWeb-style): text is cut into NON-overlapping
    * `chunkWords`-word chunks, each chunk md5-hashed, and a chunk
    * occurrence counts as duplicated when its hash appears ≥ 2 times
    * corpus-wide (boilerplate passages, templated intros, within-doc
    * loops all surface here at passage granularity, where doc-level
    * near-dup misses partial overlap). Emits per doc: chunk count,
    * duplicated-occurrence count, duplicated fraction. Docs shorter than
    * one chunk emit no row.
    *
    * Scale shape: chunking is a per-row projection (slice over the word
    * array), persisted+materialized so the two consumers (the df count and
    * the join back) read the cache instead of each re-running the
    * words/slice/md5 subtree (they share no exchange). The occurrence
    * count stays an AGGREGATE + equi-join back, NOT a window over the
    * hash: chunk hashes are nearly unique, so `count over (partition by
    * h)` makes millions of single-row window groups — measured 4× slower
    * at the 200k-doc corpus (20.4 s vs ~5 s) than the map-combined
    * hash aggregate. The removal op is this plus a filter — the stats
    * form is what a corpus report needs. */
  /** One row per non-overlapping `chunkWords`-word chunk: (doc_id, h). */
  private def chunkRows(docs: DataFrame, chunkWords: Int,
                        textCol: String, idCol: String): DataFrame = {
    val w = TextOps.words(col(textCol))
    val nChunks = floor(size(w) / chunkWords).cast("int")
    docParallel(docs, idCol)
      .select(col(idCol).as("doc_id"), w.as("w"), nChunks.as("nc"))
      .filter(col("nc") >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0), col("nc") - 1)).as("i"), col("w"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(col("w"), col("i") * chunkWords + 1, lit(chunkWords))).cast("binary"))
          .as("h"))
  }

  def chunkDupStats(docs: DataFrame, chunkWords: Int = 8,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val chunks = chunkRows(docs, chunkWords, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize before the two consumers fork (in-flight computation is
    // not deduped by an unmaterialized cache)
    chunks.count()
    val df = chunks.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val out = chunks.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6)
          .as("dup_fraction"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (doc-grain, much smaller) stats, then release the
    // chunk-grain cache
    out.count()
    chunks.unpersist(false)
    out
  }

  /** Stored side of incremental passage dedup: the chunk-hash occurrence
    * counts ([[chunkDupStats]]' df table) for the corpus. Persist
    * clustered by `h` at scale (range-partitioned and sorted) so a delta's
    * point lookups read only touched row groups — the chunk-granularity
    * sibling of [[buildNearDupIndex]] / `buildSemanticIndex`. */
  def buildChunkIndex(docs: DataFrame, chunkWords: Int = 8,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    chunkRows(docs, chunkWords, textCol, idCol)
      .groupBy(col("h")).agg(count(lit(1)).as("occ"))

  /** Delta pass of incremental passage dedup: [[chunkDupStats]] for ONLY
    * the delta docs, occurrence = stored occ + delta occ — exactly the
    * batch pass over (stored ∪ delta) restricted to the delta
    * (equivalence asserted in TextOpsSpec, both sides of the cap). The
    * stored index is touched by point lookups on the delta's distinct
    * chunk hashes: ≤500-literal pushdown scans under `maxPushdownKeys`
    * ([[prunedByKeys]] — row-group skipping on the h-clustered index
    * keeps stored bytes O(delta chunks)), a plain scan past it (a
    * corpus-sized delta re-reads the index once — the right degradation).
    * Per-batch cost is delta hashing + touched-key lookups; no
    * corpus-sized re-aggregation anywhere. */
  def incrementalChunkDupStats(delta: DataFrame, storedIndex: DataFrame,
                               chunkWords: Int = 8,
                               textCol: String = "text",
                               idCol: String = "doc_id",
                               maxPushdownKeys: Int = DefaultMaxPushdownKeys)
      : DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val chunks = chunkRows(delta, chunkWords, textCol, idCol).persist(disk)
    try {
      // ONE job materializes the cache (three consumers: key collect, delta
      // counts, join-back) and collects the pushdown key list
      val keys = chunks.select(col("h")).distinct()
        .limit(maxPushdownKeys + 1).collect().map(_.getString(0)).toIndexedSeq
      val stored =
        if (keys.size > maxPushdownKeys) storedIndex
        else prunedByKeys(storedIndex, "h", keys)
      val dCounts = chunks.groupBy(col("h")).agg(count(lit(1)).as("d_occ"))
      val tot = dCounts.join(stored, Seq("h"), "left")
        .select(col("h"),
          (col("d_occ") + coalesce(col("occ"), lit(0L))).as("occ_total"))
      val out = chunks.join(tot, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("occ_total") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6)
            .as("dup_fraction"))
        .persist(disk)
      out.count()
      out
    } finally chunks.unpersist(false)
  }

  /** Cross-document duplicated SPANS at word granularity (the
    * maximal-repeated-substring view of train-data dedup, cf. Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): every position whose `n`-word gram occurs in
    * ≥ `minDocs` DISTINCT documents is duplicated, and runs of
    * consecutive duplicated positions merge (gaps-and-islands) into
    * maximal spans of `run + n - 1` words. Unlike [[chunkDupStats]]'s
    * fixed non-overlapping chunks, the overlapping gram lattice finds
    * shared passages at ANY alignment — the spans are what a removal pass
    * would actually cut.
    *
    * Scale shape: the gram lattice is corpus-words rows (persisted once,
    * materialized, read by both consumers). The document frequency is ONE
    * map-combined aggregate on the md5 gram key — not a window over the
    * near-unique hash space (chunkDupStats doctrine: measured 4× there) —
    * and survivors come back via a semi-join on the same key, so the two
    * shuffles share a partitioning. The island merge windows per doc over
    * ONLY the surviving positions, a small fraction of the lattice in a
    * clean corpus. */
  /** The overlapping word-gram lattice: one row per (doc, 0-based word
    * position), `h` = 64-bit hash of the n-gram starting there. Shared by
    * [[duplicatedSpans]] / [[removeDuplicatedSpans]]; persisted because
    * both consumers (df aggregate, join-back) read it twice. */
  private def gramLattice(docs: DataFrame, n: Int, textCol: String,
                          idCol: String, cache: Boolean = true): DataFrame = {
    val w = TextOps.words(col(textCol))
    val lattice = docParallel(docs, idCol)
      .select(col(idCol).as("doc_id"), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(col("w"), i + k)): _*))))
      .select(col("doc_id"), col("pos"),
        // 64-bit gram key, not an md5 hex string: `h` never reaches any
        // output (spans are (doc, start, len); the df filter only needs
        // hash equality), so the narrowest collision-free key wins — it
        // quarters the bytes through the df-aggregate and semi-join
        // exchanges and skips the digest→hex materialization per gram
        // (optimization guide §2.3 "narrower types"; r11, measured).
        xxhash64(col("col")).as("h"))
    // single-consumer callers (buildSpanIndex) pass cache=false: they
    // read the lattice once and have no point at which to release it
    if (cache)
      lattice.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else lattice
  }

  def duplicatedSpans(docs: DataFrame, n: Int = 3, minDocs: Int = 2,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1 && minDocs >= 2,
      s"need n >= 1 and minDocs >= 2, got n=$n minDocs=$minDocs")
    val grams = gramLattice(docs, n, textCol, idCol)
    try {
      grams.count() // materialize before the consumers fork
      val dup = grams.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= minDocs)
        .select(col("h"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val out = grams.join(dup, Seq("h"), "left_semi")
        .withColumn("grp", col("pos") - row_number().over(win))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("start"), count(lit(1)).as("run"))
        .select(col("doc_id"), col("start").cast("int").as("span_start"),
          (col("run") + (n - 1)).cast("int").as("span_words"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally grams.unpersist(false)
  }

  /** Stored side of incremental span dedup: per-gram DISTINCT-doc counts
    * for the corpus — the word-grain sibling of [[buildChunkIndex]].
    * Persist clustered by `h` at scale so a delta's probes read only
    * touched row groups. */
  def buildSpanIndex(docs: DataFrame, n: Int = 3,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    gramLattice(docs, n, textCol, idCol, cache = false)
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))

  /** Delta pass of incremental span dedup: [[duplicatedSpans]] for ONLY
    * the delta docs, with gram document frequency = stored df + delta
    * distinct-doc df (doc sets are disjoint, so the sum IS the union df —
    * the batch pass over stored ∪ delta restricted to the delta;
    * TextOpsSpec asserts the equality on both sides of the pushdown cap).
    * Stored reads are point lookups on the delta's distinct gram hashes
    * (≤500-literal pushdown scans under the cap, plain scan past it);
    * per-batch cost is delta hashing + touched-key lookups + an island
    * window over the delta's surviving positions only. */
  def incrementalDuplicatedSpans(delta: DataFrame, storedIndex: DataFrame,
                                 n: Int = 3, minDocs: Int = 2,
                                 textCol: String = "text",
                                 idCol: String = "doc_id",
                                 maxPushdownKeys: Int = DefaultMaxPushdownKeys)
      : DataFrame = {
    require(n >= 1 && minDocs >= 2,
      s"need n >= 1 and minDocs >= 2, got n=$n minDocs=$minDocs")
    val grams = gramLattice(delta, n, textCol, idCol)
    try {
      val keys = grams.select(col("h")).distinct()
        .limit(maxPushdownKeys + 1).collect().map(_.getLong(0)).toIndexedSeq
      val stored =
        if (keys.size > maxPushdownKeys) storedIndex
        else prunedByKeys(storedIndex, "h", keys)
      val dDf = grams.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("d_df"))
      val dup = dDf.join(stored, Seq("h"), "left")
        .filter(col("d_df") + coalesce(col("df"), lit(0L)) >= minDocs)
        .select(col("h"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val out = grams.join(dup, Seq("h"), "left_semi")
        .withColumn("grp", col("pos") - row_number().over(win))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("start"), count(lit(1)).as("run"))
        .select(col("doc_id"), col("start").cast("int").as("span_start"),
          (col("run") + (n - 1)).cast("int").as("span_words"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally grams.unpersist(false)
  }

  /** The REMOVAL pass over [[duplicatedSpans]]' signal: emit each doc's
    * cleaned text with every duplicated passage cut EXCEPT in its
    * canonical owner (min doc_id carrying the gram), so exactly one copy
    * of every shared passage survives corpus-wide — the Lee et al.
    * "train on each substring once" policy. A word is cut when ANY
    * duplicated, non-owned gram covers it. Output text is
    * whitespace-normalized lowercase (the gram lattice's token space).
    *
    * Scale shape: the lattice + df aggregate as in [[duplicatedSpans]];
    * covered word positions come from exploding ONLY the removable gram
    * starts (n rows each — a small fraction of the corpus in a clean
    * corpus, and never a sliding window frame over all words), distinct
    * on (doc, pos), then one left join against the token stream and a
    * per-doc order-preserving rebuild (array_sort over (pos, word)
    * structs — no global sort).
    *
    * `passThrough = true` adds a tier that routes docs with ZERO covered
    * positions around the rebuild (anti-join against the broadcast
    * touched-doc set, re-emit the normalized token stream as one per-row
    * projection — identical output by construction). MEASURED A LOSS and
    * therefore OFF by default: an r9 A/B (README) timed it on four corpus
    * shapes at sf0.1 (short/10×/30×-long docs, 90%-clean and
    * replica-heavy) and the rebuild path won every one (pass-through
    * 1.11–1.27× slower; e.g. 8.1M-token 90%-clean: 36.4 vs 32.6 s). The
    * lattice + df aggregate dominate end-to-end cost, and the tier's two
    * extra joins re-tokenize the corpus twice — more than the posexplode/
    * collect_list it skips. This also attributes q_span_removal's r9
    * 2.53 → 3.71 s regression: r9 turned the tier on by default on a
    * fixture where 99.7% of docs are touched (BENCH span_touched_frac),
    * so it added the joins without removing any work. The flag stays for
    * the regime the measurement cannot reach on this box: docs long
    * enough that a touched doc's collect_list rebuild spills. */
  def removeDuplicatedSpans(docs: DataFrame, n: Int = 3, minDocs: Int = 2,
                            textCol: String = "text",
                            idCol: String = "doc_id",
                            passThrough: Boolean = false): DataFrame = {
    require(n >= 1 && minDocs >= 2,
      s"need n >= 1 and minDocs >= 2, got n=$n minDocs=$minDocs")
    val grams = gramLattice(docs, n, textCol, idCol)
    var coveredCache: DataFrame = null
    try {
      grams.count() // materialize before the consumers fork
      val stats = grams.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"),
          min(col("doc_id")).as("owner"))
        .filter(col("df") >= minDocs)
        .select(col("h"), col("owner"))
      val covered = grams.join(stats, Seq("h"))
        .filter(col("doc_id") =!= col("owner"))
        .select(col("doc_id").as("cd"),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("wpos"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      coveredCache = covered
      // two consumers (touched-doc set + the rebuild join) — persisted so
      // the removable-gram aggregation runs once, released in finally
      val touched = covered.select(col("cd")).distinct()
      val docWords = docs.select(col(idCol).as("doc_id"),
        TextOps.words(col(textCol)).as("ws"))
      // pass-through tier (opt-in, see scaladoc): no covered position ⇒
      // no rebuild; zero-word docs are dropped here exactly as the
      // rebuild path drops them (they emit no token row). The default
      // routes EVERY doc through the rebuild join — output is identical
      // by construction (an untouched doc's left join finds no wpos, so
      // every token is kept in pos order); PropertySpec pins both paths
      // against the same reference, Bench's span_clean_* pair keeps the
      // measured gap on the record.
      val clean =
        if (passThrough) docWords
          .join(broadcast(touched), col("doc_id") === col("cd"), "left_anti")
          .filter(size(col("ws")) > 0)
          .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
            lit(0L).as("n_removed"),
            concat_ws(" ", col("ws")).as("cleaned_text"))
        else docWords.filter(lit(false))
          .select(col("doc_id"), lit(0L).as("n_words"),
            lit(0L).as("n_removed"), lit("").as("cleaned_text"))
      val toks = (if (passThrough)
          docWords.join(broadcast(touched), col("doc_id") === col("cd"),
            "left_semi")
        else docWords)
        .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "word")))
      val rebuilt = toks
        .join(covered,
          col("doc_id") === col("cd") && col("pos") === col("wpos"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("wpos").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          array_sort(collect_list(when(col("wpos").isNull,
            struct(col("pos"), col("word"))))).as("kept"))
        .select(col("doc_id"), col("n_words"), col("n_removed"),
          concat_ws(" ", expr("transform(kept, x -> x.word)"))
            .as("cleaned_text"))
      val out = rebuilt.unionByName(clean)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally {
      grams.unpersist(false)
      if (coveredCache != null) coveredCache.unpersist(false)
    }
  }

  /** Content-defined chunking (CDC) passage dedup: chunk boundaries are
    * derived from the CONTENT (a word is a cut point when its md5 starts
    * with a hex digit < 2 — P = 1/8, so chunks average 8 words), not from
    * a fixed stride. The property that earns the extra window pass over
    * [[chunkDupStats]]: inserting or deleting a word re-chunks only up to
    * the next boundary, so shared passages at different offsets still
    * produce IDENTICAL chunk hashes — fixed-stride chunking shifts every
    * downstream chunk and misses all of them (the rsync/LBFS boundary
    * idea, applied to passage dedup; asserted in TextOpsSpec). A boundary
    * word CLOSES its chunk; every doc (even a one-word one) emits ≥ 1
    * chunk. Emits the same per-doc stats shape as [[chunkDupStats]].
    *
    * Scale shape: one posexplode projection, a per-doc running-sum window
    * (bounded by doc length, partitioned on doc_id), one (doc, chunk)
    * aggregation with an in-group sort (array_sort over (pos, word)
    * structs — collect_list alone has no order guarantee), then the same
    * cached df-count + join-back as chunkDupStats. */
  def cdcChunkStats(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wordRows = docParallel(docs, idCol)
      .select(col(idCol).as("doc_id"),
        posexplode(TextOps.words(col(textCol))).as(Seq("pos", "w")))
    val boundary =
      when(substring(md5(col("w").cast("binary")), 1, 1) < "2", 1L)
        .otherwise(0L)
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val chunks = wordRows
      .withColumn("cidx", coalesce(sum(boundary).over(cw), lit(0L)))
      .groupBy(col("doc_id"), col("cidx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("sw"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          transform(col("sw"), x => x.getField("w"))).cast("binary")).as("h"))
      .persist(disk)
    chunks.count()
    val df = chunks.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val out = chunks.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6)
          .as("dup_fraction"))
      .persist(disk)
    out.count()
    chunks.unpersist(false)
    out
  }

  /** Decontamination: KEEP the train docs that do NOT share an LSH band
    * bucket with any test doc — the removal twin of the contamination
    * SCREEN (`q_split_contamination` reports test-side suspects; this
    * drops the train-side leak surface before training). Band collision
    * is the standard suspect filter: exact-fingerprint equality misses
    * paraphrased leaks. One banding pass over the corpus, a semi-join to
    * find suspects, an anti-join to drop them — all bucket-local
    * equi-joins; train docs with no shingles can't collide and are kept. */
  def decontaminate(docs: DataFrame, splitCol: String,
                    k: Int = 8, bands: Int = 4, shingleN: Int = 3,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val b = lshBands(
      minhashSignatures(docs, k, shingleN, textCol, idCol), bands, k / bands)
      .join(docs.select(col(idCol).as("doc_id"), col(splitCol).as("split")),
        Seq("doc_id"))
    val testBuckets = b.filter(col("split") === "test")
      .select(col("band"), col("bucket"))
    val suspects = b.filter(col("split") === "train")
      .join(testBuckets, Seq("band", "bucket"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.select(col(idCol).as("doc_id"), col(splitCol).as("split"))
      .filter(col("split") === "train")
      .join(suspects, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** n-gram Jaccard near-dup pairs WITHOUT MinHash: candidates are pairs
    * sharing ≥1 shingle (inverted-index join — still avoids the full cross
    * product), verified exactly. `minJaccard` prunes the long random tail.
    *
    * `maxDf` caps the document frequency of shingles used for candidate
    * generation. This is the load-bearing knob at scale: a boilerplate
    * shingle appearing in d docs contributes O(d²) candidate pairs to the
    * self-join, so one hot shingle ("terms of service") can dominate the
    * whole shuffle. Capping df bounds the worst-case fan-out at
    * maxDf²/2 per shingle while barely moving recall — true near-dups
    * share many shingles, including rare ones (stop-shingle removal, the
    * standard trick in web-dedup pipelines). Jaccard is still verified
    * over the FULL shingle sets, so scores are unaffected — only candidate
    * recall is traded.
    *
    * The DEFAULT is capped (100): the uncapped inverted-index self-join is
    * the one phrasing of this operator that cannot survive a corpus with
    * boilerplate, so unbounded fan-out is opt-in (`maxDf = Int.MaxValue`),
    * not the default a user hits by accident. Eager: the pair set
    * materializes here so the shingle cache can be released immediately. */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int = 2,
                        minJaccard: Double = 0.0, maxDf: Int = 100,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the whole path is hash-keyed (r11 keyed the df window and self-join
    // on [[shingleHash]]; r12 moves the hash BEFORE the distinct via
    // [[shingleHashRows]], so the builder's own exchange carries 8-byte
    // keys too and the window exchange disappears — the HOF lattice needs
    // no doc_id window)
    val shr = shingleHashRows(docs, shingleN, textCol, idCol).persist(disk)
    val capped = maxDf != Int.MaxValue
    val hashed = shr
    val candSource =
      if (!capped) hashed
      else {
        // df via a window on the hash: same shuffle key the join needs
        // anyway. Persisted: both sides of the inverted-index self-join
        // consume it, and the df window must not run once per side.
        val bySh = org.apache.spark.sql.expressions.Window.partitionBy(col("shh"))
        hashed.withColumn("df", count(lit(1)).over(bySh))
          .filter(col("df") <= maxDf).drop("df")
          .persist(disk)
      }
    // materialize before the self-join (see minhashNearDups: an
    // unmaterialized cache doesn't dedupe the two sides' concurrent work)
    candSource.count()
    val cand = candSource.as("a")
      .join(candSource.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    jaccardVerified(cand, shr, shingleSetsFromHashes, minJaccard,
      (if (capped) Seq(shr, candSource) else Seq(shr)): _*)
  }

  /** Containment near-dup pairs: the overlap coefficient
    * |A∩B| / min(|A|,|B|) plus the directed containment |A∩B| / |A| — the
    * asymmetric-length cousin of [[ngramJaccardPairs]]. A short doc fully
    * embedded in a long one scores overlap 1.0 while its Jaccard can be
    * arbitrarily small, so containment is the screen that catches
    * quote-embedding and boilerplate-wrapping near-dups (the case Lee et
    * al. 2107.06499 motivate span-level matching for; this is the
    * doc-level form). Candidate generation and the sorted-set codegen
    * verification are identical to the Jaccard path (df-capped
    * inverted-index self-join — one shuffle on the shingle key, pair space
    * bucket-local, never all-pairs); only the score differs.
    */
  def ngramContainmentPairs(docs: DataFrame, shingleN: Int = 2,
                            minOverlap: Double = 0.0, maxDf: Int = 100,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    import graft.functions.SetExpressions.sorted_intersect_count
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // tracked persists released in the finally (incrementalIndexedCore
    // doctrine: a failure between persist and release must not leak
    // corpus-sized caches for the session)
    val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def track(df: DataFrame): DataFrame = { tracked += df.persist(disk); df }
    try {
      // hash-keyed end to end — see ngramJaccardPairs (r11/r12)
      val shr = track(shingleHashRows(docs, shingleN, textCol, idCol))
      val hashed = shr
      val candSource =
        if (maxDf == Int.MaxValue) hashed
        else {
          val bySh =
            org.apache.spark.sql.expressions.Window.partitionBy(col("shh"))
          track(hashed.withColumn("df", count(lit(1)).over(bySh))
            .filter(col("df") <= maxDf).drop("df"))
        }
      candSource.count() // materialize: both self-join sides consume it
      val cand = candSource.as("a")
        .join(candSource.as("b"),
          col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val p = cand.localCheckpoint()
      val docsInPairs = p.select(col("id_a").as("doc_id"))
        .union(p.select(col("id_b").as("doc_id"))).distinct()
      val sets = track(shingleSetsFromHashes(
        shr.join(docsInPairs, Seq("doc_id"), "left_semi")))
      sets.count()
      val out = p
        .join(sets.select(col("doc_id").as("id_a"), col("hs").as("ha"),
          col("n").as("na")), Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hb"),
          col("n").as("nb")), Seq("id_b"))
        .withColumn("inter", sorted_intersect_count(col("ha"), col("hb")))
        .withColumn("overlap",
          round(col("inter").cast("double") /
            least(col("na"), col("nb")).cast("double"), 6))
        .withColumn("contain_a",
          round(col("inter").cast("double") / col("na").cast("double"), 6))
        .select(col("id_a"), col("id_b"), col("overlap"), col("contain_a"))
        .filter(col("overlap") >= minOverlap)
        .persist(disk)
      out.count()
      out
    } finally tracked.foreach(_.unpersist(false))
  }

  /** Exact-Jaccard verification of candidate pairs — EAGER: computes,
    * persists and returns the (small) verified pair set, then releases
    * every large cache involved, including the `release` varargs the
    * caller hands over (the corpus-sized shingle cache). Without the
    * in-function materialization the releases can't happen (round-2
    * leaked them).
    *
    * Shape, chosen the hard way (each alternative measured at the
    * 200k-doc / 4.9M-pair scale check):
    *  - each doc's shingle set becomes ONE row: a sorted array of 60-bit
    *    md5-derived hashes. The intersection is then
    *    [[graft.functions.SortedArrayIntersectCount]] — an allocation-free
    *    codegen merge per pair — reached by two 1:1 hash joins. The naive
    *    `pairs ⨝ shingles ⨝ shingles` re-aggregation shuffles
    *    |pairs|·|set| exploded rows instead (~880M there: the whole pass
    *    was ~3× slower). Hashes not raw strings, so the arrays the joins
    *    carry are 8 bytes/element; a 60-bit slice keeps within-doc
    *    collisions at ~|set|²/2⁶⁰ (immaterial, and any collision is
    *    computed identically by the SQL oracles' string-equality plan —
    *    values only diverge if a collision actually fires, ~1e-14).
    *  - sets are computed once over the shingle rows RESTRICTED to docs
    *    appearing in a pair (left-semi): on the incremental path the
    *    stored shingle table is corpus-sized while pairs touch O(delta)
    *    docs, so the unrestricted aggregation would re-scan the corpus on
    *    every delta.
    *  - the set table is persisted AND materialized before the pair joins:
    *    a persisted-but-unmaterialized cache does not dedupe in-flight
    *    computation, so its two join consumers would race to compute the
    *    same partitions twice.
    *  - the pair set is localCheckpoint'd — it feeds three joins plus the
    *    restriction, and lazily composed the candidate self-join would be
    *    embedded once per consumer (explain/AQE plan strings alone were
    *    heap-killers). */
  private def jaccardVerified(pairs: DataFrame, shingleRows: DataFrame,
                              toSets: DataFrame => DataFrame,
                              minJaccard: Double,
                              release: DataFrame*): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val p = graft.pipeline.Timing.stage("dedup", "cand-ckpt")(pairs.localCheckpoint())
    val docsInPairs = p.select(col("id_a").as("doc_id"))
      .union(p.select(col("id_b").as("doc_id")))
      .distinct()
    val sets = toSets(
      shingleRows.join(docsInPairs, Seq("doc_id"), "left_semi"))
      .persist(disk)
    graft.pipeline.Timing.stage("dedup", "sets")(sets.count())
    jaccardFromSets(p, sets, minJaccard, sets +: release: _*)
  }

  /** 64-bit shingle-element hash the sorted-set intersection runs on.
    * xxhash64 instead of the old conv(md5-hex-slice) (r11): the hash never
    * reaches any output — Jaccard/containment only need hash EQUALITY over
    * per-doc sets, and both forms are collision-free at corpus scale
    * (64 vs 60 bits, if anything fewer collisions now) — so the cheap
    * non-cryptographic hash replaces a full md5 digest + hex render + a
    * base-16 string parse per shingle row (guide §1.2 step 2: per-task
    * work; the verification sets stage was CPU-bound, not I/O-bound). */
  private def shingleHash: org.apache.spark.sql.Column =
    xxhash64(col("sh"))

  /** The verification tail shared by every near-dup path: join each
    * (already-checkpointed) pair to its two per-doc sets, codegen-merge the
    * sorted arrays, threshold. EAGER — materializes the (small) verified
    * pair set, then releases the `release` caches. */
  private def jaccardFromSets(p: DataFrame, sets: DataFrame,
                              minJaccard: Double,
                              release: DataFrame*): DataFrame = {
    import graft.functions.SetExpressions.sorted_intersect_count
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val out = p
      .join(sets.select(col("doc_id").as("id_a"), col("hs").as("ha"),
        col("n").as("na")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hb"),
        col("n").as("nb")), Seq("id_b"))
      .withColumn("inter", sorted_intersect_count(col("ha"), col("hb")))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6))
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .persist(disk)
    graft.pipeline.Timing.stage("dedup", "verify")(out.count())
    release.foreach(_.unpersist(false))
    out
  }

  /** Connected components over a near-dup pair graph: iterative min-label
    * propagation plus a pointer-jumping shortcut — every doc converges to
    * the smallest doc_id reachable from it, the cluster's canonical
    * representative.
    *
    * Each iteration hops one edge (join + min-agg) AND follows the current
    * label's own label (label(label(id))), so the reachable-min horizon
    * roughly doubles per iteration: `maxIters` = 10 covers graph diameters
    * into the hundreds, not 10. The loop exits early at fixpoint and
    * THROWS if maxIters is hit unconverged — a silent partial result would
    * split clusters (and fail the recursive-CTE oracle). At 100 TB each
    * iteration is ordinary shuffled joins, no driver-side state.
    *
    * Adaptive: a near-dup edge set is usually a small fraction of the
    * corpus (dup rate × docs), so when it fits comfortably in one task
    * (≤ `smallGraphEdges`) the graph is solved in a single union-find pass
    * on one partition — one job instead of 2-4 iterations × (2 joins +
    * convergence action). Above the threshold, or for exotic id types, the
    * distributed iteration runs; both paths produce identical labels
    * (asserted in TextOpsSpec).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 10,
                          smallGraphEdges: Long = 5000000L): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the pair list is consumed at least twice on every path (count + solve,
    // or solve × iterations) and is usually expensive to produce (LSH +
    // Jaccard verification) — cache it, not just the doubled edge view
    val src = pairs.select(col("id_a"), col("id_b")).persist(disk)
    val smallOrd = unionFindOrdering(pairs.schema("id_a").dataType)
    if (smallOrd != null && src.count() <= smallGraphEdges) {
      val out = unionFindCC(src, smallOrd).persist(disk)
      out.count() // materialize before releasing the edge cache
      src.unpersist(false)
      return out
    }
    val edges = src
      .union(src.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist(disk)
    // seed labels with min(self, neighbors) — this IS the first propagation
    // step, computed in the same aggregation that enumerates the vertex set
    var labels = edges
      .groupBy(col("id_a"))
      .agg(min(col("id_b")).as("mn"))
      .select(col("id_a").as("id"), least(col("id_a"), col("mn")).as("label"))
      .persist(disk)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // min label offered by any neighbor, folded against the current label
      // in the same pass — the changed flag rides along, so convergence is
      // one cheap aggregate over the cached result instead of a second join.
      val minNbr = edges
        .join(labels.select(col("id").as("id_b"), col("label").as("nlabel")),
          Seq("id_b"))
        .groupBy(col("id_a")).agg(min(col("nlabel")).as("nlabel"))
        .withColumnRenamed("id_a", "id")
      val hopped = labels.join(minNbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          col("label").as("old"))
        .persist(disk)
      // pointer jump: a label is always some node's id (least() over node
      // ids preserves that), so label(label(id)) is well-defined — chasing
      // it shortcuts chains, doubling the propagation horizon per iteration
      val jump = hopped.select(col("id").as("jid"), col("label").as("jlabel"))
      val next = hopped
        .join(jump, col("label") === col("jid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"),
          (least(col("label"), coalesce(col("jlabel"), col("label"))) < col("old")).as("changed"))
        .persist(disk)
      converged = !next
        .agg(coalesce(max(col("changed")), lit(false)).as("any"))
        .first().getBoolean(0)
      val prev = labels
      labels = next.drop("changed")
      prev.unpersist(false)
      hopped.unpersist(false)
      i += 1
    }
    edges.unpersist(false)
    src.unpersist(false)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations — " +
          "graph diameter exceeds the doubling horizon; raise maxIters")
    labels.select(col("id"), col("label"))
  }

  /** Natural ordering for the id types the small-graph path supports;
    * null ⇒ unsupported type, caller falls back to the iterative path. */
  private def unionFindOrdering(
      dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType    => Ordering.by(_.asInstanceOf[Long])
      case IntegerType => Ordering.by(_.asInstanceOf[Int])
      case StringType  => Ordering.by(_.asInstanceOf[String])
      case _           => null
    }
  }

  /** Single-task union-find with path compression over an edge list known
    * to fit in one executor's memory; labels every vertex with the min id
    * of its component. One narrow job, no iteration. */
  private def unionFindCC(pairs: DataFrame, ord: Ordering[Any]): DataFrame = {
    val spark = pairs.sparkSession
    val idField = pairs.schema("id_a")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      idField.copy(name = "id"), idField.copy(name = "label")))
    val rdd = pairs.select(col("id_a"), col("id_b")).coalesce(1).rdd
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { row =>
          val a = row.get(0); val b = row.get(1)
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(ra) = rb
        }
        val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
        parent.keysIterator.foreach { v =>
          val r = find(v)
          minOf.get(r) match {
            case Some(m) => if (ord.lt(v, m)) minOf(r) = v
            case None    => minOf(r) = v
          }
        }
        parent.keysIterator.map { v =>
          org.apache.spark.sql.Row(v, minOf(find(v)))
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** SimHash near-dup pairs: bucket by the hash's high byte (equi-join —
    * a hash join at any scale, never a cross product), verify candidates
    * with Hamming distance = bit_count(xor) ≤ `maxHamming`. One-band
    * prefix bucketing trades recall for join size exactly like LSH
    * banding; production systems add rotated re-hashes for more bands —
    * same join shape, k× candidate rows. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = simhash(docs, textCol, idCol)
    val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("hb"))
    a.join(b, shiftright(col("ha"), 8) === shiftright(col("hb"), 8) &&
        col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Fuzzy near-dup pairs: SimHash bucket join proposes candidates
    * (relaxed `maxHamming`), then an exact Levenshtein pass over the
    * normalized texts confirms (`maxEdit`). The two-stage shape every
    * production fuzzy dedup uses — the cheap sketch bounds the candidate
    * set so the expensive O(len²) edit distance only ever runs on
    * plausible pairs, never the O(n²) pair space. */
  def fuzzyNearDups(docs: DataFrame, maxHamming: Int = 6, maxEdit: Int = 25,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cand = simhashNearDups(docs, maxHamming, textCol, idCol)
    val ta = docs.select(col(idCol).as("id_a"),
      TextOps.normalize(col(textCol)).as("text_a"))
    val tb = docs.select(col(idCol).as("id_b"),
      TextOps.normalize(col(textCol)).as("text_b"))
    cand.join(ta, "id_a").join(tb, "id_b")
      // length difference is a Levenshtein lower bound — an O(1) reject
      // before the O(len²) DP ever runs (semantics-preserving: a pruned
      // pair can never satisfy edit_dist <= maxEdit)
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= maxEdit)
      // thresholded levenshtein: O(len·maxEdit) banded DP with early exit
      // (returns -1 past the bound) instead of the full O(len²) table
      .withColumn("edit_dist",
        levenshtein(col("text_a"), col("text_b"), maxEdit).cast("int"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxEdit)
      .select(col("id_a"), col("id_b"), col("hamming"), col("edit_dist"))
  }

  /** Blocked sorted-neighborhood entity-resolution pairs [Hernández &
    * Stolfo 1995]: sort records by the match key inside each block (first
    * key character), slide a window of `window` positions, and confirm
    * candidates with Jaro-Winkler ≥ `minSim` — the classic record-linkage
    * pipeline, with the graded-similarity confirm the Levenshtein-based
    * [[fuzzyNearDups]] can't express.
    *
    * Scale shape: the sort is per-BLOCK (window partitioned by the
    * blocking key — never the global unpartitioned sort plain SNM
    * implies), the self-join fans out ≤ `window` rows per record, and the
    * JW confirm is a codegen expression inside the join's project. The
    * standard blocking trade-off applies: matches whose keys land in
    * different blocks are missed; widen recall with a coarser blocking
    * key or a second pass on a rotated key, not a bigger window.
    */
  def sortedNeighborPairs(df: DataFrame, keyCol: String, idCol: String,
                          window: Int = 3, minSim: Double = 0.85): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("blk")).orderBy(col("key"), col("id"))
    val ranked = df.select(col(keyCol).as("key"), col(idCol).as("id"))
      .withColumn("blk", substring(col("key"), 1, 1))
      .withColumn("rn", row_number().over(w))
    // pair generation is an EQUI-join on (blk, rn + k), k ∈ 1..window —
    // exactly `window` candidates per record. The tempting blk-only join
    // with an rn band filter evaluates |block|² pairs per block; this
    // shape stays linear no matter how hot a block gets.
    val a = ranked.select(col("blk"), col("key").as("key_a"),
        col("id").as("id_a"), col("rn").as("rn_a"))
      .withColumn("k", explode(array((1 to window).map(lit): _*)))
      .withColumn("rn_b", col("rn_a") + col("k"))
    val b = ranked.select(col("blk"), col("key").as("key_b"),
      col("id").as("id_b"), col("rn").as("rn_b"))
    a.join(b, Seq("blk", "rn_b"))
      .withColumn("sim", graft.functions.StringSimilarity.jaroWinklerCol(
        col("key_a"), col("key_b")))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Near-dup dedup end-to-end: LSH candidates above `minJaccard` → cluster
    * → keep the canonical (smallest-id) doc per cluster. Returns docs with
    * `cluster` and `is_canonical` columns. */
  def dedupNearDups(docs: DataFrame, minJaccard: Double = 0.5,
                    idCol: String = "doc_id"): DataFrame = {
    val pairs = minhashNearDups(docs)
    val clusters = connectedComponents(pairs.filter(col("jaccard") >= minJaccard))
    // connectedComponents materializes its labels before returning, so the
    // cached pair set has served its purpose
    pairs.unpersist(false)
    docs.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("label"), col(idCol)))
      .withColumn("is_canonical", col("cluster") === col(idCol))
      .drop("label")
  }

  /** SimHash (16-bit): per word, take 4 hex chars of md5; each bit votes
    * ±1; the sign of each bit's vote total forms the hash. Near-identical
    * docs agree on most bits. Two narrow shuffles on doc_id. */
  def simhash(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val wordRows = docParallel(docs, idCol)
      .select(col(idCol).as("doc_id"),
        explode(TextOps.words(col(textCol))).as("w"))
    val bits = wordRows
      .withColumn("h4", substring(md5(col("w").cast("binary")), 1, 4))
      .select(col("doc_id"), col("h4"),
        explode(sequence(lit(0), lit(15))).as("j"))
    val hexChar = col("h4").substr(floor(col("j") / 4).cast("int") + 1, lit(1))
    val hexVal = when(ascii(hexChar) >= 97, ascii(hexChar) - 87)
      .otherwise(ascii(hexChar) - 48)
    val bit = floor(hexVal / pow(lit(2), col("j") % 4)).cast("long") % 2
    bits
      .withColumn("vote", bit * 2 - 1)
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("vote")).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, pow(lit(2), col("j"))).otherwise(lit(0.0)))
        .cast("long").as("simhash"))
  }
}
