package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{hamming64, minhash_band_hashes, minhash_signature, shingle_hashes, simhash64, token_fnv_hashes}

/** Near-duplicate detection via MinHash+LSH and SimHash — the
  * scalable (non-O(n²)) dedup family.
  *
  * Scale design: candidate generation is
  *   shingle → hash → signature → band → groupBy(band-bucket)
  * i.e. per-row work plus ONE shuffle keyed on (band index, band
  * hash). Only docs sharing a bucket are ever paired, and buckets are
  * capped (`maxBucket`) so a degenerate bucket (all-identical spam
  * docs) cannot produce a quadratic explosion on one reducer — the
  * standard LSH skew guard; capped buckets are dedup-by-exact-hash
  * territory anyway.
  */
object LshDedup {

  /** Caching contract for the pair joins below: the shingle table
    * feeds several plan branches, so it is persisted while the result
    * is built — and unpersisted automatically after the FIRST action
    * that executes the returned frame (a QueryExecutionListener keyed
    * on the result's analyzed plan). Repeated calls therefore do not
    * accumulate MEMORY_AND_DISK blocks for the session lifetime. If
    * the caller never materializes the result, the cache stays until
    * session end (persist is lazy, so no blocks exist in that case
    * until first use anyway); callers re-executing the same frame many
    * times should persist the RESULT, which is pairs-sized, not
    * corpus-sized.
    */
  private[graft] def unpersistAfterFirstUse(result: DataFrame,
                                            cached: DataFrame*): DataFrame = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val lm = result.sparkSession.listenerManager
    val marker = result.queryExecution.analyzed
    val listener: QueryExecutionListener = new QueryExecutionListener {
      // bounded-leak guard: a query that is CONSTRUCTED but never run
      // (plan inspection, PlanDump, the PlanSpec all-plans lock) would
      // otherwise pin this listener + the lazy cache entry for the
      // session lifetime. After enough unrelated actions pass without
      // the marker, assume plan-only and release — worst case a query
      // executed much later merely loses the shared-scan optimization,
      // never correctness. (Callbacks arrive on one listener-bus
      // thread, so the counter needs no synchronization.)
      private var misses = 0
      private def release(): Unit = {
        cached.foreach(_.unpersist(false)); lm.unregister(this)
      }
      private def maybeRelease(qe: QueryExecution): Unit =
        // analyzed subtrees are reused by reference in derived plans,
        // so `eq` identifies "an action that ran through our result"
        if ((qe.analyzed eq marker) || qe.analyzed.exists(_ eq marker)) release()
        else { misses += 1; if (misses > 512) release() }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = maybeRelease(qe)
    }
    lm.register(listener)
    result
  }

  /** doc_id + distinct word-n-gram shingle hashes.
    * The whole chain is native and codegen'd end to end:
    * lower/trim (built-ins) → TokenFnvHashes (FNV-1a per token — FNV
    * over xxhash64 deliberately: it is re-implementable in plain
    * wraparound arithmetic, so an external engine (the DuckDB oracle,
    * or any second implementation) can reproduce the exact candidate
    * set, not just its statistics) → ShingleHashes (rolling n-gram
    * combine + dedup). No lambda higher-order functions: those are
    * CodegenFallback, and the size()>0/isNotNull guards Spark infers
    * around a downstream explode would re-run the interpreted chain
    * up to 3× per row; in codegen, subexpression elimination runs it
    * once.
    */
  def shingleHashes(docs: DataFrame, textCol: String = "text", n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      shingle_hashes(token_fnv_hashes(lower(trim(col(textCol)))), n)
        .as("shingle_hashes"))

  /** Winnowing document fingerprints (the MOSS selection rule,
    * Schleimer/Wilkerson/Aiken SIGMOD'03): over the POSITIONAL
    * n-gram hash sequence, every sliding window of `w` consecutive
    * shingles contributes its minimum hash; the fingerprint set is
    * the distinct selected values. Value-set variant: positions are
    * dropped after selection (two docs sharing a fingerprint share a
    * verbatim n-gram run; the guarantee that any shared substring of
    * ≥ w+n−1 tokens yields a shared fingerprint is positional-free).
    * Density is ~2/(w+1) of shingles, so the output is a bounded
    * fraction of the corpus.
    *
    * Scale: the window partitions by doc (bounded by doc length), the
    * final distinct is the only shuffle, and it ships (doc_id, hash)
    * pairs only — the winnowed, not raw, volume.
    */
  def winnowFingerprints(docs: DataFrame, textCol: String = "text",
                         n: Int = 3, w: Int = 4): DataFrame = {
    require(n >= 1 && w >= 1)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), org.apache.spark.sql.expressions.Window.currentRow)
    docs.select(col("doc_id"),
      graft.functions.shingle_hashes_pos(
        token_fnv_hashes(lower(trim(col(textCol)))), n).as("sh"))
      .filter(size(col("sh")) >= w)
      .select(col("doc_id"), posexplode(col("sh")).as(Seq("pos", "h")))
      .withColumn("fp", min(col("h")).over(win))
      .filter(col("pos") >= w - 1)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** MinHash signatures (k permutations) per doc. */
  def minhashSignatures(docs: DataFrame, k: Int = 64, n: Int = 3): DataFrame =
    shingleHashes(docs, n = n)
      .filter(size(col("shingle_hashes")) > 0)
      .select(col("doc_id"), minhash_signature(col("shingle_hashes"), k).as("sig"))

  /** LSH banding: k-length signature → `bands` buckets of r = k/bands
    * values; docs agreeing on any whole band become candidates.
    * Emits (band, band_hash, doc_id) — one output row per doc·band.
    */
  def bandBuckets(sigs: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    sigs.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, array_join(slice(col("sig"), b * r + 1, lit(r)), "_")))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** The LSH band table of a corpus: (doc_id, band, band_hash), one
    * row per doc·band. The fused shingle→signature→band expression
    * keeps the whole per-doc pipeline in ONE projection column, so
    * the planner's projection collapse cannot duplicate the upstream
    * chain (GraftExpressions scaladoc) — banding is per-row work, no
    * shuffle. This frame is also the persistence unit for
    * incremental near-dup maintenance ([[BandStore]]).
    */
  def bandTable(docs: DataFrame, k: Int = 64, bands: Int = 16,
                n: Int = 3): DataFrame =
    shingleHashes(docs, n = n)
      .filter(size(col("shingle_hashes")) > 0)
      .select(col("doc_id"),
        posexplode(minhash_band_hashes(col("shingle_hashes"), k, bands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))

  /** Candidate near-dup pairs from MinHash LSH (doc_a < doc_b,
    * distinct across bands). One shuffle on the band bucket, one
    * in-bucket self-join, one distinct.
    */
  def minhashCandidates(docs: DataFrame, k: Int = 64, bands: Int = 16,
                        n: Int = 3, maxBucket: Int = 1000): DataFrame =
    candidatePairs(bandTable(docs, k, bands, n), maxBucket)

  /** (band, band_hash, doc_id) buckets → distinct candidate pairs.
    * ONE shuffle: groupBy bucket, gather ids, emit in-bucket pair
    * combinations columnar-side — no self-join, no window. Buckets
    * larger than `maxBucket` are dropped (LSH skew guard; a
    * quadratic-size bucket means exact-duplicate spam, which exact
    * dedup already catches at linear cost).
    */
  def candidatePairs(buckets: DataFrame, maxBucket: Int): DataFrame =
    buckets
      .groupBy(col("band"), col("band_hash"))
      // array_distinct guards against duplicated input band rows (a
      // doc fed twice): without it, adjacent duplicates in the sorted
      // list pair with themselves (doc_a == doc_b) and inflate the
      // size the skew cap sees
      .agg(array_distinct(sort_array(collect_list(col("doc_id")))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      // chunked emission (heap ∝ bucket size, not its square — see
      // chunkedPairs): lets observability probes run with the cap
      // held wide open without materializing a bucket's pair array
      .transform(chunkedPairs(_, "ids"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()

  /** Observability companion to candidatePairs: the buckets the
    * `maxBucket` skew guard will DROP, as (band, band_hash, n_docs).
    * The cap is correct as a guard — a quadratic-size bucket means
    * exact-duplicate spam — but at corpus scale dropping silently
    * means a spam-heavy corpus under-dedups with no signal. Emit this
    * frame's aggregate (bucket count / doc-slot sum) as a pipeline
    * metric and alert when it is non-zero; the dropped docs are
    * exact-dedup territory (Dedup.exactGroups) and should be routed
    * there.
    */
  def droppedBuckets(buckets: DataFrame, maxBucket: Int): DataFrame =
    buckets
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** One-row summary of what the skew cap drops: (n_buckets_dropped,
    * n_doc_slots_dropped). doc-slots, not distinct docs: a doc
    * appearing in several oversized buckets counts once per bucket,
    * matching the pair-generation work that was skipped.
    */
  def dropStats(docs: DataFrame, k: Int = 64, bands: Int = 16, n: Int = 3,
                maxBucket: Int = 1000): DataFrame =
    droppedBuckets(bandTable(docs, k, bands, n), maxBucket)
      .agg(count(lit(1)).as("n_buckets_dropped"),
        coalesce(sum(col("n_docs")), lit(0L)).as("n_doc_slots_dropped"))

  /** Per-SOURCE dedup-health report over the skew-cap drops: how many
    * docs entered the LSH index, how many (doc, band) slots landed in
    * buckets the `maxBucket` guard discards, and how many distinct
    * docs are affected. This is [[dropStats]] made attributable — a
    * spam-heavy source under-dedups silently unless its own drop
    * numbers are observable, and routing (affected docs → exact
    * dedup) needs the per-source breakdown.
    *
    * Plan: the bucket frame is persisted (it feeds the size
    * aggregate, the membership join and the index count), the dropped
    * bucket list is broadcast (over-cap buckets are rare by
    * definition — each one is a spam cluster), and the only
    * corpus-sized shuffles are the bucket aggregate and the doc_id
    * joins. Released after the first action (caching contract above).
    */
  def dedupHealth(docs: DataFrame, k: Int = 64, bands: Int = 16, n: Int = 3,
                  maxBucket: Int = 1000): DataFrame = {
    val buckets = bandTable(docs, k, bands, n).persist()
    val dropped = buckets.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)
    // no broadcast hint: dropped is tiny under production caps
    // (over-cap buckets are spam clusters) but can approach bucket
    // scale when maxBucket is set low — let AQE pick the strategy
    // from the measured size
    val slots = buckets
      .join(dropped.select("band", "band_hash"), Seq("band", "band_hash"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_slots"))
    val res = buckets.select(col("doc_id")).distinct()
      .join(slots, Seq("doc_id"), "left")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_indexed"),
        coalesce(sum(col("n_slots")), lit(0L)).as("n_slots_dropped"),
        sum(when(col("n_slots").isNotNull, 1L).otherwise(0L)).as("n_docs_affected"))
    unpersistAfterFirstUse(res, buckets)
  }

  /** LSH candidates verified by exact n-gram Jaccard ≥ threshold.
    * Verification joins shingle sets back only for candidate pairs —
    * at corpus scale the candidate set is tiny relative to n².
    */
  /** Estimator calibration over the LSH candidate set: for every
    * candidate pair, the MinHash ESTIMATE of Jaccard (fraction of
    * agreeing signature positions) next to the EXACT shingle Jaccard.
    * The report quality pipelines use to pick (k, bands, threshold)
    * before committing to a full dedup pass — the estimate drives the
    * cheap path, the exact column says how far off it runs on this
    * corpus. est_micro is pure integer arithmetic (agree × 10^6/k);
    * the signature/shingle joins key on doc ids (candidate-sized, not
    * corpus-sized). The zip_with/filter lambda is CodegenFallback,
    * fine here: it runs per candidate pair, not per corpus row.
    */
  def minhashEstimates(docs: DataFrame, k: Int = 64, bands: Int = 16,
                       n: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(1000000 % k == 0, s"k=$k must divide 10^6 for exact micro units")
    val sh = shingleHashes(docs, n = n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nonEmpty = sh.filter(size(col("shingle_hashes")) > 0)
    val cands = candidatePairs(
      nonEmpty
        .select(col("doc_id"),
          posexplode(minhash_band_hashes(col("shingle_hashes"), k, bands)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash")),
      maxBucket)
    val sigs = nonEmpty
      .select(col("doc_id"), minhash_signature(col("shingle_hashes"), k).as("sig"))
    unpersistAfterFirstUse(cands
      .join(sigs.withColumnsRenamed(Map("doc_id" -> "doc_a", "sig" -> "sig_a")), "doc_a")
      .join(sigs.withColumnsRenamed(Map("doc_id" -> "doc_b", "sig" -> "sig_b")), "doc_b")
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_a", "shingle_hashes" -> "sh_a")), "doc_a")
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_b", "shingle_hashes" -> "sh_b")), "doc_b")
      .withColumn("n_agree",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), p => p)))
      .select(col("doc_a"), col("doc_b"),
        (col("n_agree") * lit(1000000 / k)).cast("long").as("est_micro"),
        floor(size(array_intersect(col("sh_a"), col("sh_b"))) * lit(1e6)
          / size(array_union(col("sh_a"), col("sh_b")))).cast("long").as("jac_micro")),
      sh)
  }

  def jaccardVerified(docs: DataFrame, threshold: Double, k: Int = 64,
                      bands: Int = 16, n: Int = 3): DataFrame = {
    // shingle hashes feed three plan branches (signatures + both pair
    // sides); persist so the shingling runs once (released after the
    // first action — see unpersistAfterFirstUse). At cluster scale the
    // equivalent move is materializing the signature table to storage
    // between the candidate and verify stages.
    val sh = shingleHashes(docs, n = n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = candidatePairs(
      sh.filter(size(col("shingle_hashes")) > 0)
        .select(col("doc_id"),
          posexplode(minhash_band_hashes(col("shingle_hashes"), k, bands)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash")),
      maxBucket = 1000)
    unpersistAfterFirstUse(cands
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_a", "shingle_hashes" -> "sh_a")), "doc_a")
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_b", "shingle_hashes" -> "sh_b")), "doc_b")
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard")), sh)
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold — the inverted-index
    * set-similarity join: explode distinct shingle hashes, self-join on
    * the shingle (so only pairs sharing ≥1 shingle are ever formed),
    * count intersections per pair, derive the union from the two set
    * sizes. Shuffles only (shingle_hash, doc_id) pairs — document
    * bodies never move — and needs no LSH recall argument: it is
    * exact by construction. Cost grows with shared-shingle pair
    * volume, so at corpus scale prefer jaccardVerified (LSH-pruned)
    * for mining and keep this as the verification/ground-truth path.
    */
  /** Above this input size the prefix miner is the default; at or
    * below it the counted miner wins. Measured A/B
    * (BENCH_SCALING.md, OPTIMIZATION_r16.md; quiet machine,
    * min-of-two): at sf1 = 50k docs prefix wins big — t=0.8 counted 61.0 s vs prefix 7.3 s
    * (8.4×), t=0.2 counted 140.4 s vs prefix 63.4 s (2.2×) — but at
    * sf0.1 = 5k docs counted wins by ≤ 0.9 s at both thresholds: the
    * prefix path's two frequency-ranking shuffles of the (shingle,
    * doc) table are fixed overhead that only amortizes once the
    * candidate collapse has enough quadratic volume to collapse. The
    * gate sits at the geometric midpoint of the two measured SFs;
    * both paths are exact (the equality spec locks them at every
    * threshold), so the gate is a pure plan choice — answers cannot
    * move.
    */
  private[graft] val CountedMinerMaxDocs = 16000L

  /** The auto-selection rule behind [[exactJaccardPairs]]'s default
    * path: counted at-or-under [[CountedMinerMaxDocs]], prefix above
    * — and prefix when the count was skipped (`force=true` returns
    * −1: no size information, so take the path that survives scale).
    */
  private[graft] def chooseCountedMiner(nDocs: Long): Boolean =
    nDocs >= 0 && nDocs <= CountedMinerMaxDocs

  def exactJaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                        prefixFilter: Option[Boolean] = None,
                        maxExactRows: Long = ExactScale.DefaultMaxExactRows,
                        force: Boolean = false): DataFrame =
    // both paths are exact (LshSpec locks equality at every
    // threshold). Counted touches every shared-shingle co-occurrence
    // (volume Σ cnt(s)² over all shingles) but needs the fewest
    // shuffles, so it wins on SMALL corpora where the extra
    // frequency-ranking shuffles dominate; prefix-filtered indexes
    // only each set's rarest (1-t) fraction and prunes by the PPJoin
    // length+positional bounds inside the join, collapsing the
    // quadratic common-shingle term at scale. The default
    // (prefixFilter = None) SIZE-GATES the choice on the row count
    // the ExactScale guard already pays for — one scan serves both
    // the guard and the plan decision, and the chosen variant runs
    // with force=true so the input is never counted twice. An
    // explicit Some(x) pins the path (calibration, the equality
    // spec) and leaves the guard inside the variant.
    prefixFilter match {
      case Some(true) =>
        exactJaccardPairsPrefix(docs, threshold, n, maxExactRows, force)
      case Some(false) =>
        exactJaccardPairsCounted(docs, threshold, n, maxExactRows, force)
      case None =>
        val nDocs = ExactScale.checkCounted(docs, "exactJaccardPairs",
          "jaccardVerified (LSH banding)", maxExactRows, force)
        if (chooseCountedMiner(nDocs))
          exactJaccardPairsCounted(docs, threshold, n, maxExactRows, force = true)
        else
          exactJaccardPairsPrefix(docs, threshold, n, maxExactRows, force = true)
    }

  /** Count-based inverted-index join: count shared shingles per pair,
    * derive the union from set sizes. Touches every shared-shingle
    * co-occurrence — right at low thresholds where little prunes. The
    * PPJoin length filter (J ≥ t ⟹ min ≥ t·max of the set sizes)
    * rides the join condition so size-incompatible co-occurrences die
    * before the per-pair count shuffle; the 1e-9 slack means double
    * rounding can only admit rows the final jaccard filter rejects.
    */
  def exactJaccardPairsCounted(docs: DataFrame, threshold: Double,
                               n: Int = 3,
                               maxExactRows: Long = ExactScale.DefaultMaxExactRows,
                               force: Boolean = false): DataFrame = {
    // quadratic in shared-shingle co-occurrence, not doc count, but the
    // doc-count rail still stops a whole corpus reaching it by accident
    val sh = shingleHashes(ExactScale.check(docs, "exactJaccardPairsCounted",
        "jaccardVerified (LSH banding)", maxExactRows, force), n = n)
      .filter(size(col("shingle_hashes")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = sh.select(col("doc_id"),
      size(col("shingle_hashes")).as("len"),
      explode(col("shingle_hashes")).as("s"))
    val sizes = sh.select(col("doc_id"), size(col("shingle_hashes")).as("n_sh"))
    val lenOk = least(col("a.len"), col("b.len")).cast("double") >=
      lit(threshold - 1e-9) * greatest(col("a.len"), col("b.len"))
    unpersistAfterFirstUse(exploded.as("a")
      .join(exploded.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") && lenOk)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_int"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_sh" -> "n_a")), "doc_a")
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_sh" -> "n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_int").cast("double") / (col("n_a") + col("n_b") - col("n_int")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard")), sh)
  }

  /** Prefix-filtered (PPJoin-style) exact join: order each shingle set
    * under the canonical rarest-first global order (ascending document
    * frequency, shingle hash as tiebreak) and index only the first
    * |x| − ⌈t·|x|⌉ + 1 shingles — two sets with Jaccard ≥ t MUST share
    * a prefix element (prefix-filtering principle), so joining
    * prefixes generates a complete candidate set; candidates are then
    * verified with one exact array intersection per pair. The
    * rarest-first order is what makes the filter effective: prefixes
    * are built from low-frequency shingles, so inverted-index buckets
    * stay near-singleton instead of going quadratic on common
    * trigrams (a hash-ordered prefix admits ~1000× more candidates on
    * a shared-vocabulary corpus). Costs two extra shuffles of the
    * (shingle, doc) table to rank by frequency — the standard trade
    * of distributed set-similarity joins, amortized at scale by the
    * candidate collapse.
    *
    * Two further PPJoin filters run INSIDE the join condition, so
    * pruned pairs never reach the distinct/verify shuffles; both only
    * ever remove pairs the verify step would reject, so exactness is
    * untouched (the equality spec locks all three paths at every
    * threshold):
    *  - length filter: J ≥ t ⟹ min(|x|,|y|) ≥ t·max(|x|,|y|)
    *    (intersection ≤ min, union ≥ max).
    *  - positional filter: both arrays share the global order, so the
    *    FIRST common element (which the prefix theorem guarantees
    *    lies in both prefixes when J ≥ t) has no common element
    *    before it in either set; the overlap is then bounded by
    *    1 + min(elements-after) at its positions, and
    *    J ≥ t ⟺ overlap ≥ t/(1+t)·(|x|+|y|). Later common elements
    *    only see tighter bounds, so OR-over-matches (what a join
    *    naturally computes, made set-like by the distinct) keeps the
    *    candidate set complete.
    * Comparisons carry a 1e-9 slack so double rounding can only ADMIT
    * extra candidates (caught by verify), never drop a true pair.
    */
  def exactJaccardPairsPrefix(docs: DataFrame, threshold: Double,
                              n: Int = 3,
                              maxExactRows: Long = ExactScale.DefaultMaxExactRows,
                              force: Boolean = false): DataFrame = {
    // r16: sh persisted — the tokenizer chain fed both the dfreq
    // aggregate and the ordered join (guide §5 multi-consumer reuse)
    val sh = shingleHashes(ExactScale.check(docs, "exactJaccardPairsPrefix",
        "jaccardVerified (LSH banding)", maxExactRows, force), n = n)
      .filter(size(col("shingle_hashes")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = sh.select(col("doc_id"), explode(col("shingle_hashes")).as("s"))
    val dfreq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // each doc's shingles re-assembled rarest-first
    val ordered = exploded.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(transform(sort_array(collect_list(struct(col("df"), col("s")))),
        x => x.getField("s")).as("sh"))
      .withColumn("len", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // prefix length p = len - ceil(t·len) + 1. The 1e-9 slack inside
    // the ceil mirrors lenOk/posOk's: at mathematically-integer t·len
    // (t=0.2, len=10) the double product can land one ulp ABOVE the
    // integer, which would inflate the ceil and silently SHORTEN the
    // prefix — the one direction that drops true pairs. Subtracting
    // the slack means rounding can only LENGTHEN the prefix; the
    // extra candidates are removed by the exact verify step.
    val prefLen = (col("len") -
      ceil(lit(threshold) * col("len") - lit(1e-9)) + 1).cast("int")
    // pos is 0-based into the full ordered array (the slice starts at 1)
    val pref = ordered.select(col("doc_id"), col("len"),
        posexplode(slice(col("sh"), lit(1), prefLen)))
      .withColumnRenamed("col", "s")
    val eps = 1e-9
    val lenOk = least(col("a.len"), col("b.len")).cast("double") >=
      lit(threshold - eps) * greatest(col("a.len"), col("b.len"))
    val posOk = (lit(1) + least(col("a.len") - col("a.pos") - 1,
        col("b.len") - col("b.pos") - 1)).cast("double") >=
      lit(threshold / (1.0 + threshold)) * (col("a.len") + col("b.len")) - lit(eps)
    val verify = ordered.select(col("doc_id"), col("sh"))
    unpersistAfterFirstUse(pref.as("a")
      .join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          lenOk && posOk)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(verify.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), "doc_a")
      .join(verify.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), "doc_b")
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard")), ordered, sh)
  }

  /** Exact asymmetric CONTAINMENT join: ordered pairs (doc_a, doc_b)
    * with |sh(a) ∩ sh(b)| / |sh(a)| ≥ `threshold` — doc_a's shingle
    * set is (near-)contained in doc_b's. This is the near-dup class
    * Jaccard structurally misses: a quote embedded in a 10× larger
    * article has tiny Jaccard (union is the big doc) but containment
    * ≈ 1, and symmetric-length filters would prune exactly the pairs
    * of interest. Asymmetric by design: no length filter can apply
    * (any size ratio is admissible — that's the semantics).
    *
    * Exact, via the prefix-probe / full-index overlap join: overlap
    * ≥ ⌈t·|a|⌉ forces a common element among a's rarest
    * |a| − ⌈t·|a|⌉ + 1 shingles (prefix-filtering principle under the
    * global rarest-first order), so only the probe side prunes to its
    * (1−t) fraction while the index side posts every shingle.
    * Rarest-first ordering keeps the join off the quadratic common-
    * shingle buckets: common shingles almost never appear in probe
    * prefixes, so Σ_s prefix_count(s)·posting_count(s) stays near the
    * posting volume instead of its square. A positional filter rides
    * the join condition — overlap ≤ 1 + min(remaining_a, remaining_b)
    * at the FIRST common element (both arrays share one global
    * order), pruning before the distinct/verify shuffles; the 1e-9
    * slack keeps every comparison admit-only, and each candidate is
    * verified with one exact array intersection, so the output is
    * exact at any data shape. Guarded by [[ExactScale.check]] like
    * the other ground-truth miners — candidate volume is index-side
    * posting-bounded, not all-pairs, and the corpus-scale sibling
    * that finds the SAME pair class at bounded cost is
    * [[containmentPairsCapped]] (recall gated by
    * [[containmentCappedRecallReport]]).
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                       maxExactRows: Long = ExactScale.DefaultMaxExactRows,
                       force: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    // r16: sh persisted — the tokenizer chain fed two plan branches
    // (dfreq and the ordered join) and re-ran per branch (guide §5
    // multi-consumer reuse; the per-doc array table is compact)
    val sh = shingleHashes(ExactScale.check(docs, "containmentPairs",
        "containmentPairsCapped (df-capped prefix-probe)", maxExactRows, force), n = n)
      .filter(size(col("shingle_hashes")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = sh.select(col("doc_id"), explode(col("shingle_hashes")).as("s"))
    val dfreq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ordered = exploded.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(transform(sort_array(collect_list(struct(col("df"), col("s")))),
        x => x.getField("s")).as("sh"))
      .withColumn("len", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probe prefix p = len − ⌈t·len⌉ + 1; the 1e-9 inside the ceil is
    // the admit-only direction (rounding can only LENGTHEN the prefix)
    val prefLen = (col("len") -
      ceil(lit(threshold) * col("len") - lit(1e-9)) + 1).cast("int")
    val pref = ordered.select(col("doc_id"), col("len"),
        posexplode(slice(col("sh"), lit(1), prefLen)))
      .withColumnRenamed("col", "s")
    val post = ordered.select(col("doc_id"), col("len"),
        posexplode(col("sh")))
      .withColumnRenamed("col", "s")
    val eps = 1e-9
    val posOk = (lit(1) + least(col("a.len") - col("a.pos") - 1,
        col("b.len") - col("b.pos") - 1)).cast("double") >=
      lit(threshold) * col("a.len") - lit(eps)
    val verify = ordered.select(col("doc_id"), col("sh"))
    unpersistAfterFirstUse(pref.as("a")
      .join(post.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id") && posOk)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(verify.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), "doc_a")
      .join(verify.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), "doc_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment")), ordered, sh)
  }

  /** The CORPUS-SCALE sibling of [[containmentPairs]] — the asymmetric
    * near-dup miner that does NOT require the exact quadratic join.
    * Symmetric MinHash banding structurally misses the
    * quote-in-article class (the union is the big doc, and the length
    * filter prunes exactly the interesting size ratios — see
    * [[containmentPairs]]), so until this method the exact containment
    * join had no scale path at all: its ExactScale redirect pointed at
    * a miner that cannot find its pair class.
    *
    * Semantics (deterministic, engine-independent — the DuckDB oracle
    * replicates it bit-for-bit):
    *
    *   candidates = { (a, b) : a ≠ b, ∃ shingle s ∈ prefix_t(a) ∩
    *                  sh(b) with df(s) ≤ maxDf }
    *   output     = candidates verified exactly:
    *                |sh(a) ∩ sh(b)| / |sh(a)| ≥ threshold
    *
    * where prefix_t(a) is a's first |a| − ⌈t·|a|⌉ + 1 shingles under
    * the global rarest-first order (document frequency ascending,
    * signed shingle hash as tiebreak — the same order the exact join
    * uses), i.e. the probe prefix the prefix-filtering theorem says
    * every true pair must hit.
    *
    * What the df cap buys: the exact join's cost driver is common
    * shingles — one shingle shared by d docs contributes up to
    * prefix_count(s)·d join rows, unbounded under Zipf vocabulary.
    * Capping the posting list at `maxDf` bounds per-shingle work at
    * maxDf² and total work at Σ_{df(s) ≤ maxDf} prefix_count(s)·df(s)
    * ≈ the posting volume — fully linear-class, one shuffle keyed on
    * the shingle, the same guard family as [[candidatePairs]]'
    * maxBucket.
    *
    * What it costs (the recall contract): a true pair is missed ONLY
    * when every shingle of a's prefix that b shares is over-cap —
    * i.e. when the probe doc's RAREST (1−t) fraction consists
    * entirely of corpus-common phrases. That is the spam regime
    * (boilerplate quotes), which exact dedup removes at linear cost;
    * on natural corpora the rarest-first prefix is precisely the part
    * of the doc that stays under any sane cap.
    * [[containmentCappedRecallReport]] measures the actual recall
    * against the exact miner on guard-sized data, and
    * [[containmentDropStats]] makes the cap's bite observable (the
    * no-silent-caps rule).
    *
    * The cap itself is TWO knobs folded to one effective value,
    * cap = min(maxDf, ⌈maxDfPercent% · N⌉) where N = docs in the
    * shingle index — because "common" is corpus-relative: an
    * absolute df threshold that bites at 500 docs is vacuous at 50k
    * and vice versa (measured: maxDf=4 gave recall 1.0 at sf0.01 and
    * recall 0 at sf1 — the df distribution shifted under it). The
    * PERCENT knob is the signal rule (a shingle in > p% of the
    * corpus is boilerplate and carries no containment signal); the
    * ABSOLUTE knob is the work bound (per-shingle join work ≤ cap²
    * no matter how large N grows — at 10B docs, 1% would otherwise
    * be a 100M-doc posting list on one shuffle key). The fold is
    * integer-exact in both engines: ⌈N·p/100⌉ = (N·p + 99) div 100.
    *
    * The positional filter from the exact join rides this join too —
    * with a cap-aware caveat that is PART of the contract (and
    * mirrored in the oracle): candidates must pass
    * 1 + min(remaining_a, remaining_b) ≥ t·|a| at the admitted
    * shared occurrence. In the exact join posOk is output-invariant
    * (the first common element is always among the joined rows and
    * passes by the theorem); under a df cap the first common element
    * may be capped away, so posOk evaluated at later occurrences can
    * additionally drop pairs whose overlap mass sits in OVER-CAP
    * common grams — the same boilerplate-linked class the cap itself
    * trades away, and the prune that keeps the distinct/verify
    * shuffles pair-bounded instead of garbage-bounded (measured at
    * sf10: single-common-gram candidates dominate without it). For
    * content-linked true pairs the first admitted common gram is
    * early in both rarest-first orders, so posOk passes.
    */
  /** The folded effective cap of [[containmentPairsCapped]] as a
    * 1-row (df_cap) frame: min(maxDf, ⌈maxDfPercent% · N⌉,
    * budget_cap), N = rows of `sh` (docs with a non-empty shingle
    * set). Integer-exact: the ceil-division form (N·p + 99) div 100
    * and the pure-integer budget cumsum avoid any double-rounding
    * divergence between engines. Broadcast-joined below (1 row), the
    * Ranks.withGlobalAgg pattern.
    *
    * budget_cap is the WORK clamp: the largest df value c such that
    * Σ_{df(s) ≤ c} df(s)² ≤ `maxCandidateBudget` — df² bounds the
    * per-shingle join rows (prefix_count ≤ df), so the admitted
    * shingles can generate at most `maxCandidateBudget` candidate
    * rows NO MATTER how the corpus is shaped. Why it must exist: the
    * percent/absolute fold assumes a vocabulary with a rare tail,
    * and a SATURATED shingle space voids that assumption — the
    * driver corpus at sf10 realizes 100% of its 31-word vocab's
    * 29,791 possible 3-grams with MINIMUM df = 750 (nothing is
    * rare), so cap=1000 admitted Σdf² = 23.5e9 join rows and filled
    * the disk. The clamp admits whole df-classes rarest-first until
    * the budget is spent (class granularity keeps it deterministic —
    * no per-shingle tiebreak at the boundary), degrading recall
    * observably ([[containmentDropStats]]) instead of degrading the
    * cluster. The tiny df histogram (≤ |vocab| rows) is the only
    * extra aggregate.
    */
  private def containmentDfCap(sh: DataFrame, dfreq: DataFrame, maxDf: Long,
                               maxDfPercent: Int,
                               maxCandidateBudget: Long): DataFrame = {
    val pctCap = sh.agg(floor((count(lit(1)) * lit(maxDfPercent.toLong) + lit(99L))
        / lit(100L)).cast("long").as("pct_cap"))
    val dfh = dfreq.groupBy(col("df")).agg(count(lit(1)).as("cnt"))
    // histogram-sized triangular join (≤ |distinct df values|² rows,
    // hundreds at most) instead of a global-order window: the
    // no-empty-partition-window plan rule stays intact
    val budgetCap = dfh.select(col("df").as("c"))
      .join(dfh, col("df") <= col("c"))
      .groupBy(col("c"))
      .agg(sum(col("cnt") * col("df") * col("df")).as("cum"))
      .filter(col("cum") <= maxCandidateBudget)
      .agg(coalesce(max(col("c")), lit(0L)).as("budget_cap"))
    pctCap.crossJoin(budgetCap)
      .select(least(lit(maxDf), col("pct_cap"), col("budget_cap")).as("df_cap"))
  }

  def containmentPairsCapped(docs: DataFrame, threshold: Double, n: Int = 3,
                             maxDf: Long = 1000L,
                             maxDfPercent: Int = 100,
                             maxCandidateBudget: Long = 500000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    require(maxDf >= 1L, s"maxDf >= 1: $maxDf")
    require(maxDfPercent >= 1 && maxDfPercent <= 100,
      s"maxDfPercent in [1,100]: $maxDfPercent")
    require(maxCandidateBudget >= 1L, s"maxCandidateBudget >= 1: $maxCandidateBudget")
    // r16: sh and dfreq persisted — sh fed THREE branches (the cap's
    // doc count, the dfreq aggregate, the ordered join) and dfreq two
    // (the cap's df histogram, the ordered join), so the tokenizer
    // chain ran 4× and the posting aggregate 2× per call (guide §5
    // multi-consumer reuse; sh is per-doc arrays, dfreq vocab-sized)
    val sh = shingleHashes(docs, n = n)
      .filter(size(col("shingle_hashes")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = sh.select(col("doc_id"), explode(col("shingle_hashes")).as("s"))
    val dfreq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cap = containmentDfCap(sh, dfreq, maxDf, maxDfPercent, maxCandidateBudget)
    // per-doc shingles re-assembled rarest-first WITH their dfs, so
    // the probe prefix and the df cap read off one persisted table
    // (released after the first action — caching contract above)
    val ordered = exploded.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("dsh"))
      .withColumn("len", size(col("dsh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefLen = (col("len") -
      ceil(lit(threshold) * col("len") - lit(1e-9)) + 1).cast("int")
    // pos is 0-based into the full ordered array (the slice starts at 1)
    val probe = ordered
      .select(col("doc_id"), col("len"),
        posexplode(slice(col("dsh"), lit(1), prefLen)))
      .withColumnRenamed("col", "e")
      .crossJoin(broadcast(cap))
      .filter(col("e.df") <= col("df_cap"))
      .select(col("doc_id"), col("len"), col("pos"), col("e.s").as("s"))
    val post = ordered
      .select(col("doc_id"), col("len"), posexplode(col("dsh")))
      .withColumnRenamed("col", "e")
      .crossJoin(broadcast(cap))
      .filter(col("e.df") <= col("df_cap"))
      .select(col("doc_id"), col("len"), col("pos"), col("e.s").as("s"))
    val eps = 1e-9
    val posOk = (lit(1) + least(col("a.len") - col("a.pos") - 1,
        col("b.len") - col("b.pos") - 1)).cast("double") >=
      lit(threshold) * col("a.len") - lit(eps)
    val verify = ordered.select(col("doc_id"),
      transform(col("dsh"), x => x.getField("s")).as("sh"))
    unpersistAfterFirstUse(probe.as("a")
      .join(post.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id") && posOk)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(verify.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), "doc_a")
      .join(verify.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), "doc_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment")), ordered, sh, dfreq)
  }

  /** One-row observability summary of what [[containmentPairsCapped]]'s
    * df cap removes: (n_grams_capped, n_postings_capped) — the number
    * of distinct shingles above `maxDf` and the posting rows they
    * carried. Non-zero is normal on any natural corpus (common
    * phrases); what a pipeline alerts on is the recall report below,
    * this frame says where the cap's work bound came from.
    */
  def containmentDropStats(docs: DataFrame, n: Int = 3,
                           maxDf: Long = 1000L,
                           maxDfPercent: Int = 100,
                           maxCandidateBudget: Long = 500000000L): DataFrame = {
    // r16: sh/dfreq persisted — same multi-consumer shape as
    // containmentPairsCapped (sh: dfreq + the cap's doc count;
    // dfreq: the cap's histogram + the over-cap filter)
    val sh = shingleHashes(docs, n = n)
      .filter(size(col("shingle_hashes")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = sh.select(explode(col("shingle_hashes")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    unpersistAfterFirstUse(dfreq
      .crossJoin(broadcast(
        containmentDfCap(sh, dfreq, maxDf, maxDfPercent, maxCandidateBudget)))
      .filter(col("df") > col("df_cap"))
      .agg(count(lit(1)).as("n_grams_capped"),
        coalesce(sum(col("df")), lit(0L)).as("n_postings_capped")), sh, dfreq)
  }

  /** The recall gate for [[containmentPairsCapped]] — the same shape
    * as [[simhashCappedRecallReport]]: on guard-sized data, mine
    * containment pairs both ways and report one row
    *
    *   (n_docs, n_pairs_exact, n_pairs_capped, n_grams_capped,
    *    recall_micro = floor(capped / exact · 1e6))
    *
    * capped ⊆ exact by construction (the cap only removes candidate
    * rows; both paths verify with the same exact containment filter
    * and the exact miner is complete), so the count ratio IS pair
    * recall; exact = 0 reports the vacuous 1e6. n_grams_capped says
    * whether the cap even fired (recall 1.0 with zero capped grams is
    * a vacuous gate). Cost is dominated by the exact miner — a GATE
    * query, not a production path; production runs the capped miner
    * and watches [[containmentDropStats]].
    */
  def containmentCappedRecallReport(docs: DataFrame, threshold: Double,
                                    n: Int = 3, maxDf: Long = 1000L,
                                    maxDfPercent: Int = 100,
                                    maxCandidateBudget: Long = 500000000L,
                                    maxExactRows: Long = ExactScale.DefaultMaxExactRows,
                                    force: Boolean = false): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val exact = containmentPairs(docs, threshold, n, maxExactRows, force)
      .agg(count(lit(1)).as("n_pairs_exact"))
    val capped = containmentPairsCapped(docs, threshold, n, maxDf,
        maxDfPercent, maxCandidateBudget)
      .agg(count(lit(1)).as("n_pairs_capped"))
    val grams = containmentDropStats(docs, n, maxDf, maxDfPercent,
        maxCandidateBudget)
      .select(col("n_grams_capped"))
    nDocs.crossJoin(exact).crossJoin(capped).crossJoin(grams)
      .withColumn("recall_micro",
        when(col("n_pairs_exact") === 0L, lit(1000000L))
          .otherwise(floor(col("n_pairs_capped").cast("double") /
            col("n_pairs_exact").cast("double") * 1e6).cast("long")))
  }

  /** 64-bit SimHash per doc (over token hashes, not shingles — the
    * classic Charikar construction).
    */
  def simhashes(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      simhash64(token_fnv_hashes(lower(trim(col(textCol)))))
        .as("simhash"))

  /** SimHash near-dup candidates: hamming(simhash) ≤ `maxHamming`.
    * Bucketing: partition the 64 signature bits into `maxHamming + 1`
    * disjoint chunks — any pair within the hamming budget must agree
    * exactly on at least one chunk (pigeonhole: ≤ h mismatched bits
    * touch at most h of the h+1 chunks), so candidates come from
    * chunk-equality buckets, one shuffle, no n² compare.
    *
    * The bit→chunk assignment is DATA-DEPENDENT: simhash bits are
    * majority votes over a corpus's token distribution, so on a
    * single-domain corpus many bits are near-constant — CONTIGUOUS
    * 9-bit chunks then collapse into a handful of hot values and the
    * bucket join goes quadratic (measured 206.9 s at sf1 on 50k docs,
    * the one unexpected super-linear query of the 4-decade sweep;
    * naive sub-chunking makes it worse because every sub-chunk of a
    * degenerate chunk is degenerate too). One 64-counter aggregate
    * measures each bit's ones-rate, and bits are dealt round-robin in
    * descending p(1-p) entropy order, so every chunk receives an
    * equal share of the corpus's distinguishing bits. ANY disjoint
    * bit partition preserves the pigeonhole recall guarantee, and the
    * final hamming filter makes the answer chunking-invariant — the
    * assignment changes only the plan's bucket diversity
    * (measured 206.9 s → 91.4 s at sf1, same answer hash-exact at
    * sf0.01/sf0.1; the residual cost is genuine candidate volume —
    * this corpus concentrates most of its signature entropy in a
    * few bits, which no exact bucketing can stretch further).
    *
    * The stats aggregate is one extra corpus scan collapsing to a
    * single 65-column row (map-side combined) — memoized per input
    * plan ([[simhashBitOrder]]), so candidates + capped + dropStats
    * in one session share ONE scan; pass `bitOrder` explicitly
    * (precomputed from a persisted signature table, or fixed) to
    * keep construction fully lazy.
    *
    * Guard status: deliberately NOT ExactScale-guarded — the join is
    * bucketed (chunk-equality), never all-pairs, so corpus-sized
    * inputs are legal; cost tracks bucket diversity, which the
    * entropy-balanced assignment maximizes. On a corpus whose
    * signature entropy concentrates in few bits the candidate volume
    * can still grow super-linearly — production pipelines should use
    * [[simhashCandidatesCapped]] (work ≤ buckets × cap², recall
    * gated by [[simhashCappedRecallReport]]) and watch
    * [[simhashDropStats]]/[[dedupHealth]].
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3,
                        bitOrder: Option[Seq[Int]] = None): DataFrame = {
    // r16: the bucket table feeds both sides of the self-join, so the
    // tokenize+simhash chain ran twice per call (guide §5
    // multi-consumer reuse; ~(maxHamming+1) small rows per doc,
    // released after the first action on the result)
    val buckets = simhashBuckets(docs, maxHamming, bitOrder)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = buckets.withColumnsRenamed(Map("doc_id" -> "doc_a", "simhash" -> "sim_a"))
    val b = buckets.withColumnsRenamed(Map("doc_id" -> "doc_b", "simhash" -> "sim_b"))
    // a pair agreeing on several chunks lands in several buckets; the
    // distinct() dedupes them. (A measured dead end, kept as a note:
    // replacing the distinct with a "keep only the first agreeing
    // chunk" per-row predicate recomputed from the two signatures
    // looks cheaper — no exchange — but timed out at sf1 where the
    // distinct form takes 91 s: the predicate defeats the map-side
    // partial-distinct that collapses duplicate candidates inside the
    // hot buckets before they shuffle.)
    unpersistAfterFirstUse(a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming")), buckets)
  }

  /** Per-input memo for [[simhashBitOrder]], keyed by the analyzed
    * canonicalized plan. The order is a PERF-only choice (any
    * disjoint bit partition preserves pigeonhole recall, and the
    * final hamming filter makes answers chunking-invariant), so a
    * stale entry after an in-place data rewrite costs bucket
    * balance, never correctness — and so the SIZE BOUND below may
    * evict freely: past [[BitOrderCacheMax]] entries the map is
    * cleared before inserting (a long-lived session mining many
    * distinct corpora would otherwise leak ~64 ints per plan
    * forever). Losing the memo costs one extra 65-column stats scan
    * on the next call, nothing else.
    */
  private val bitOrderCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Int]]()
  private[graft] val BitOrderCacheMax = 256
  /** Test hook: current memo population (bound asserted in LshSpec). */
  private[graft] def bitOrderCacheSize: Int = bitOrderCache.size
  /** Bounded insert-or-get: evicts ONE arbitrary entry before
    * admitting a new key once the population reaches
    * [[BitOrderCacheMax]] — unlike a full clear(), concurrent callers
    * on other live corpora keep their hot memos (no thundering
    * re-scan), and the map stays bounded just the same. The
    * size-check / evict / insert sequence is not atomic, so racing
    * callers can transiently overshoot the cap by the number of
    * concurrent threads — acceptable for a perf-only memo whose
    * entries are ~64 ints.
    */
  private[graft] def bitOrderCached(key: String)(compute: => Seq[Int]): Seq[Int] = {
    if (bitOrderCache.size >= BitOrderCacheMax &&
        !bitOrderCache.containsKey(key)) {
      val it = bitOrderCache.keySet().iterator()
      if (it.hasNext) { it.next(); it.remove() }
    }
    bitOrderCache.computeIfAbsent(key, _ => compute)
  }
  /** Test hook: how many ones-rate stats scans actually ran. */
  private[graft] val statsScans = new java.util.concurrent.atomic.AtomicLong

  /** The 64 simhash bit indices in descending p(1-p) ones-rate
    * entropy order for `docs` — the data-dependent chunk-assignment
    * input of [[simhashCandidates]]. One 65-column aggregate scan,
    * memoized per (session, input plan) so iterative simhash runs
    * don't rescan the corpus for stats; streaming inputs (no batch
    * action possible at plan time) fall back to the identity order,
    * keeping construction lazy there.
    */
  def simhashBitOrder(docs: DataFrame): Seq[Int] =
    if (docs.isStreaming) 0 until 64
    else {
      // semanticHash is 32-bit; folding in the schema string keeps a
      // hash collision from silently sharing a bit order across
      // differently-shaped inputs (still perf-only if it ever did)
      val key = docs.sparkSession.hashCode().toString + "/" +
        docs.queryExecution.analyzed.canonicalized.semanticHash().toString + "/" +
        docs.schema.catalogString.hashCode.toString
      bitOrderCached(key) {
        statsScans.incrementAndGet()
        val sh = simhashes(docs)
        val bitCols = (0 until 64).map(b =>
          sum(shiftright(col("simhash"), b).bitwiseAND(lit(1L))).as(s"b$b"))
        val stats = sh.agg(count(lit(1)).as("n"), bitCols: _*).head()
        val n = stats.getLong(0).toDouble
        if (n == 0) 0 until 64
        else (0 until 64).map { b =>
          val p = stats.getLong(b + 1) / n
          (b, p * (1.0 - p))
        }.sortBy { case (b, e) => (-e, b) }.map(_._1)
      }
    }

  /** The entropy-balanced pigeonhole bucket table behind
    * [[simhashCandidates]]: (doc_id, simhash, chunk, chunk_val), one
    * row per doc·chunk. Bit order comes from the caller or the
    * memoized [[simhashBitOrder]]; bits are dealt round-robin in
    * that order into the maxHamming+1 chunks.
    */
  /** Deal an ordered bit list round-robin into `parts` disjoint
    * groups, preserving the given (entropy) order within each group.
    */
  private def dealBits(ordered: Seq[Int], parts: Int): Seq[Seq[Int]] =
    (0 until parts).map(p =>
      ordered.zipWithIndex.collect { case (b, i) if i % parts == p => b })

  /** Pack the signature's bits at positions `bs` into one long (bit
    * j of the result = signature bit bs(j)); an empty list packs to
    * 0 (every signature trivially agrees — see the 64-chunk edge in
    * [[simhashCandidatesCapped]]'s split).
    */
  private def packBits(sig: org.apache.spark.sql.Column,
                       bs: Seq[Int]): org.apache.spark.sql.Column =
    if (bs.isEmpty) lit(0L)
    else bs.zipWithIndex.map { case (b, i) =>
      shiftright(sig, b).bitwiseAND(lit(1L)).multiply(lit(1L << i))
    }.reduce(_.bitwiseOR(_))

  private def simhashBuckets(docs: DataFrame, maxHamming: Int,
                             bitOrder: Option[Seq[Int]]): DataFrame = {
    val chunks = maxHamming + 1
    require(chunks <= 64, s"maxHamming=$maxHamming needs more chunks than bits")
    val entropyOrder = bitOrder.getOrElse(simhashBitOrder(docs))
    require(entropyOrder.sorted == (0 until 64),
      "bitOrder must be a permutation of 0..63")
    val sh = simhashes(docs)
    val chunkCols = array(dealBits(entropyOrder, chunks)
      .map(packBits(col("simhash"), _)): _*)
    sh.select(col("doc_id"), col("simhash"), posexplode(chunkCols))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
  }

  /** Every (i < j) pair from each row's sorted `idsCol` array,
    * emitted through posexplode + slice so the per-row working set
    * scales with the array LENGTH, not its square. The previous
    * columnar form (flatten of nested transforms) materialized the
    * full n²/2 pair array as ONE value per bucket row — the round-11
    * maxBucket=8000 recall sweep exhausted a 48 GB heap on exactly
    * that. Here each exploded element re-slices the parent array, so
    * at most one array copy per in-flight row exists and the pair
    * stream never lives in memory whole: heap ∝ cap, work ∝ pairs.
    */
  private def chunkedPairs(buckets: DataFrame, idsCol: String): DataFrame =
    buckets
      .select(col(idsCol), posexplode(col(idsCol)))
      .select(col("col").as("a"),
        explode(slice(col(idsCol), col("pos") + lit(2),
          size(col(idsCol)))).as("b"))

  /** The kept bucket member rows and the terminally-oversized bucket
    * sizes behind [[simhashCandidatesCapped]] / [[simhashDropStats]]
    * — pigeonhole recursion over the DISTINCT-signature universe.
    *
    * Each level deals the bits not yet fixed by the bucket's path
    * into maxHamming+1 groups in entropy order
    * ([[graft.functions.pigeonhole_split]]); a bucket larger than the
    * cap is re-bucketed by the next level's groups instead of being
    * dropped. Recall through every split is EXACT: two signatures in
    * the same bucket agree on all fixed bits, so a within-budget pair
    * has ≤ h mismatches among the free bits and lands together in at
    * least one sub-group (pigeonhole), whatever the depth. Depth 2 of
    * this recursion IS round 10's complement split (the mask-based
    * deal of the free bits reproduces dealBits(complement) exactly);
    * deeper levels are what round 11 measured missing — the DEFAULT
    * two-level cut dropped 42% of true pairs at 500k Zipf docs
    * (RECALL_COHORT_r11), because hot buckets of distinct signatures
    * still exceeded the cap after one split.
    *
    * Termination: members here are DISTINCT signatures — the
    * identical-signature cliques that defeat any split are collapsed
    * BEFORE bucketing (see [[simhashCandidatesCapped]]). A bucket
    * stops splitting at the `maxDepth` level, at the work budget, or
    * when its free bits fall below h+1 (empty pigeonhole groups
    * would re-emit it verbatim; unreachable at caps ≥ 2^(h+1) since
    * n distinct signatures force 2^free ≥ n). Terminal buckets are
    * NOT simply dropped: up to `maxEnum` members they are handed to
    * the exact in-bucket enumerator (recall stays exact at
    * n²-bounded cost); only above that do they drop, reported.
    *
    * Why terminate-and-enumerate rather than recurse deeper (the
    * round-11 verdict's option (a), REFUTED by measurement): each
    * member of an oversized bucket re-enters up to h+1 sub-buckets
    * per level, and a dense hamming-ball core — signatures pairwise
    * within ~2h bits, the shape a Zipf-head vocabulary mass-produces
    * — lands together in MOST of them: the core does not fragment,
    * it multiplies ~4-5× per level (RECALL_COHORT_r12 ground work:
    * at 500k docs, depth 24 under a 32× row budget emitted exactly
    * the depth-2 pair set — every extra level fed the budget,
    * recovered nothing). Dense cores are also precisely where
    * enumeration is cheap relative to output: most in-core candidate
    * pairs ARE true pairs, so the n² enumeration is output-dominated
    * where it runs.
    *
    * Memory discipline: bucket sizes come from a constant-memory
    * count aggregate joined back to member rows; collect_list runs
    * only on buckets already ≤ cap. Each level's member frame is
    * persisted (the kept/oversized branches and the next level all
    * read it) and released after the first action on the caller's
    * result. The per-level `isEmpty` probe makes the loop eager —
    * at scales where no bucket exceeds the cap the recursion costs
    * one empty-check job and builds no extra plan.
    */
  private def cappedSigBuckets(sigs: DataFrame, maxHamming: Int,
                               maxBucket: Int, order: Seq[Int], maxDepth: Int,
                               maxEnum: Int)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    import graft.functions.pigeonhole_split
    val chunks = maxHamming + 1
    require(chunks <= 64, s"maxHamming=$maxHamming needs more chunks than bits")
    require(maxDepth >= 1, s"maxDepth=$maxDepth must be >= 1")
    def splitLevel(df: DataFrame, path: org.apache.spark.sql.Column,
                   mask: org.apache.spark.sql.Column): DataFrame =
      df.select(col("simhash"), path.as("parent_path"),
          posexplode(pigeonhole_split(col("simhash"), mask, chunks, order)))
        .select(
          concat(col("parent_path"),
            array(col("pos").cast("long"), col("col.sub_val"))).as("path"),
          col("simhash"), col("col.sub_mask").as("fixed_mask"))
    var members = splitLevel(sigs,
      array().cast("array<bigint>"), lit(0L))
    val keptParts = scala.collection.mutable.Buffer[DataFrame]()
    val droppedParts = scala.collection.mutable.Buffer[DataFrame]()
    val persisted = scala.collection.mutable.Buffer[DataFrame]()
    var depth = 1
    var done = false
    var level0Rows = 0L
    while (!done) {
      members.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += members
      val levelRows = members.count()
      if (depth == 1) level0Rows = levelRows
      val sizes = members.groupBy("path").agg(count(lit(1)).as("n2"))
      val tagged = members.join(sizes, Seq("path"))
      keptParts += tagged.filter(col("n2").between(2, maxBucket))
        .select(col("path"), col("simhash"))
      val over = tagged.filter(col("n2") > maxBucket)
      // a group split needs a fresh bit per pigeonhole group; below
      // that the bucket is terminal (see scaladoc)
      val freeBits = lit(64) - bit_count(col("fixed_mask"))
      // TERMINAL handling — a bucket that will not be split further
      // (depth/work-budget backstop, or no fresh bits) is EXACTLY
      // ENUMERATED when its size is ≤ maxEnum (its member rows join
      // the emission set; every in-bucket pair gets hamming-verified,
      // so recall through termination is exact at n²/2-bounded,
      // output-dominated cost — dense cores are where the true pairs
      // concentrate) and dropped+REPORTED only above maxEnum.
      //
      // WORK-BUDGET backstop: recursion row volume is bounded at
      // WorkFactor × the level-1 member count. OR-amplified
      // pigeonhole replicates a dense hamming-ball core into most of
      // its h+1 sub-groups EVERY level (measured at 500k zipf docs:
      // depth 24 with a 32× budget equals depth 2 — the core never
      // fragments, it multiplies), so deep recursion must hand dense
      // cores to the enumerator rather than chase them.
      def terminal(df: DataFrame): Unit = {
        keptParts += df.filter(col("n2") <= maxEnum)
          .select(col("path"), col("simhash"))
        droppedParts += df.filter(col("n2") > maxEnum)
          .select(col("path"), col("n2")).distinct()
      }
      if (depth >= maxDepth ||
          levelRows * chunks > LshDedup.WorkFactor * level0Rows) {
        terminal(over)
        done = true
      } else {
        terminal(over.filter(freeBits < lit(chunks)))
        val splittable = over.filter(freeBits >= lit(chunks))
        if (splittable.isEmpty) done = true
        else {
          members = splitLevel(splittable, col("path"), col("fixed_mask"))
          depth += 1
        }
      }
    }
    (keptParts.reduce(_.unionByName(_)),
      droppedParts.reduce(_.unionByName(_)), persisted.toSeq)
  }

  /** Recursion row-volume budget of [[cappedSigBuckets]], as a
    * multiple of the level-1 member count (docs × (h+1) chunk rows).
    */
  private val WorkFactor = 64L

  /** The skew-capped sibling of [[simhashCandidates]], round 12: a
    * three-tier miner — clique collapse, pigeonhole recursion for
    * the sparse mass, exact enumeration for dense cores.
    *
    * 1. Docs are grouped by signature FIRST (one linear shuffle).
    *    Identical-signature cliques — the buckets no bit split can
    *    separate, one of the two measured sources of the round-11
    *    default's 42% recall loss at 500k Zipf docs — never enter
    *    bucketing at all: their hamming-0 pairs are emitted directly
    *    from each clique's sorted id array, output-sized work with
    *    heap ∝ clique size ([[chunkedPairs]]).
    * 2. Candidate mining runs over the DISTINCT-signature universe
    *    (strictly smaller, and head-heavy corpora shrink most), with
    *    the pigeonhole recursion of [[cappedSigBuckets]]: oversized
    *    buckets split over their still-free bits — exact recall
    *    through every split — and `maxBucket` caps distinct
    *    SIGNATURES per bucket, so bucket-pair work is bounded by
    *    buckets × cap² regardless of how many docs share a
    *    signature.
    * 3. DENSE CORES — signature groups pairwise within the hamming
    *    ball, the other measured loss source, which OR-amplified
    *    recursion multiplies instead of fragmenting (see
    *    [[cappedSigBuckets]]) — terminate and are ENUMERATED exactly
    *    up to `maxEnum` signatures per bucket: n²-bounded candidate
    *    work that is output-dominated precisely there, because
    *    in-core candidates are mostly true pairs. Only terminal
    *    buckets past `maxEnum` drop, reported by
    *    [[simhashDropStats]].
    *
    * Verified signature pairs (hamming ≤ maxHamming, distinct)
    * expand back to doc pairs through the per-signature id arrays —
    * output-sized, every emitted row a true result. Answer EQUALS
    * [[simhashCandidates]] whenever nothing dropped —
    * [[simhashDropStats]] says whether that held. Work: one
    * signature groupBy + per level one count aggregate and a
    * (h+1)-way explode of oversized members only (row volume
    * budgeted at WorkFactor × level-1 rows) + buckets × cap² +
    * Σ n_i² over terminal cores (n_i ≤ maxEnum) + output-sized
    * expansion. The round-11 envelope (default lossless at 50k,
    * 0.578 at 500k, quadratic buy-back, 8000-cap OOM) was measured
    * on the two-level doc-grain form this replaces; the depth sweep
    * in RECALL_COHORT_r12.json re-measures this form at both scales.
    */
  def simhashCandidatesCapped(docs: DataFrame, maxHamming: Int = 3,
                              maxBucket: Int = 2000,
                              bitOrder: Option[Seq[Int]] = None,
                              maxDepth: Int = 6,
                              maxEnum: Int = 20000,
                              maxClique: Int = Int.MaxValue): DataFrame = {
    val order = bitOrder.getOrElse(simhashBitOrder(docs))
    val bySig = simhashes(docs).groupBy(col("simhash"))
      .agg(array_distinct(sort_array(collect_list(col("doc_id")))).as("ids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // clique emission is k²/2 in the largest identical-signature
    // cluster and UNCAPPED by default: the intended pipeline runs
    // exact content dedup FIRST (simhashCappedRecallReport's order),
    // which collapses verbatim spam to one survivor before this miner
    // ever sees it. On a RAW corpus, `maxClique` bounds that path —
    // oversized cliques drop their INTERNAL hamming-0 pairs (their
    // signature still mines against near neighbors), reported via
    // simhashDropStats' n_cliques_dropped/n_clique_pairs_dropped.
    val clique = chunkedPairs(
        bySig.filter(size(col("ids")).between(2, maxClique)), "ids")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        lit(0).as("hamming"))
    val (kept, _, persisted) = cappedSigBuckets(bySig.select(col("simhash")),
      maxHamming, maxBucket, order, maxDepth, maxEnum)
    val sigPairs = kept
      .groupBy(col("path"))
      .agg(sort_array(collect_list(col("simhash"))).as("sigs"))
      .transform(chunkedPairs(_, "sigs"))
      .select(col("a").as("sig_a"), col("b").as("sig_b"),
        hamming64(col("a"), col("b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val cross = sigPairs
      .join(bySig.select(col("simhash").as("sig_a"), col("ids").as("ids_a")),
        Seq("sig_a"))
      .join(bySig.select(col("simhash").as("sig_b"), col("ids").as("ids_b")),
        Seq("sig_b"))
      .select(explode(col("ids_a")).as("x"), col("ids_b"), col("hamming"))
      .select(col("x"), explode(col("ids_b")).as("y"), col("hamming"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"), col("hamming"))
    unpersistAfterFirstUse(clique.unionByName(cross), (bySig +: persisted): _*)
  }

  /** The measured cost envelope of [[simhashCandidatesCapped]]'s
    * lossless DEFAULT, as a doc-count gate for [[nearDupCandidates]]:
    * at 50k zipf docs the default costs 14.1 s vs 11.7 s for the
    * minhash band path at equal (1.0) recall — comparable; at 500k it
    * costs 940 s vs ~18-22 s — 40-50× (RECALL_COHORT_r12), because
    * the exact enumeration of dense hamming-ball cores is quadratic
    * within each ≤maxEnum-signature core and zipf-head cores grow
    * with the corpus. The boundary sits between those endpoints;
    * 100k is the documented operational rule made executable.
    */
  val SimhashEnvelopeMaxDocs: Long = 100000L

  /** The near-dup candidate surface with the miner selection
    * size-gated (the [[exactJaccardPairs]] counted-vs-prefix pattern,
    * round 10): at or under `maxSimhashDocs` documents the capped
    * SIMHASH miner runs — lossless by default (RECALL_COHORT_r12) and
    * the finer similarity signal (bit-level hamming on the whole
    * doc); above it the MINHASH band path runs — the measured
    * equal-recall alternative whose cost stays near-linear at corpus
    * scale (its skew cap was a no-op at 500k: 0 buckets dropped).
    * The two families rank different notions of "near" (hamming on
    * simhash bits vs banded Jaccard on shingles), so this is a
    * POLICY default for pipelines that want "the certified-recall
    * near-dup miner appropriate at my scale", not an equivalence;
    * calibration jobs pin a family by calling it directly. Emits
    * (doc_a, doc_b) candidate pairs either way.
    *
    * The gate needs a document count, which is an EAGER action on
    * every call: cheap when `docs` is a bare parquet scan (footer
    * row counts — no data read) but a full recomputation of the
    * upstream plan when `docs` is a derived frame mid-pipeline.
    * Composed pipelines that already know the size (a prior stage's
    * row count, a funnel report) should pass it as `docCount` to
    * skip the action entirely; `docCount = Some(n)` is trusted
    * as-is.
    */
  def nearDupCandidates(docs: DataFrame,
                        maxSimhashDocs: Long = SimhashEnvelopeMaxDocs,
                        maxHamming: Int = 3, maxBucket: Int = 2000,
                        k: Int = 64, bands: Int = 16, n: Int = 3,
                        minhashMaxBucket: Int = 1000,
                        docCount: Option[Long] = None): DataFrame =
    if (docCount.getOrElse(docs.count()) <= maxSimhashDocs)
      simhashCandidatesCapped(docs, maxHamming, maxBucket)
        .select(col("doc_a"), col("doc_b"))
    else
      minhashCandidates(docs, k, bands, n, minhashMaxBucket)
        .select(col("doc_a"), col("doc_b"))

  /** One-row summary of what [[simhashCandidatesCapped]] drops:
    * (n_buckets_dropped, n_sig_slots_dropped) over terminal buckets
    * LARGER than `maxEnum` (terminal cores ≤ maxEnum enumerate
    * exactly) plus (n_cliques_dropped, n_clique_pairs_dropped) over
    * identical-signature cliques LARGER than `maxClique` — the
    * simhash analogue of [[dropStats]]. Slots count SIGNATURE·bucket
    * memberships (the mining grain since the clique collapse);
    * clique pairs count the internal hamming-0 pairs the cap
    * withheld. Non-zero bucket drops mean a dense region bigger than
    * maxEnum met the depth/budget backstop: raise maxEnum (n² within
    * that bucket), raise the budget, or accept and route the region
    * to exact dedup. Non-zero clique drops on a default run mean the
    * corpus skipped exact dedup — run it first (the production
    * order), which makes every clique a single survivor.
    */
  def simhashDropStats(docs: DataFrame, maxHamming: Int = 3,
                       maxBucket: Int = 2000,
                       bitOrder: Option[Seq[Int]] = None,
                       maxDepth: Int = 6,
                       maxEnum: Int = 20000,
                       maxClique: Int = Int.MaxValue): DataFrame = {
    val order = bitOrder.getOrElse(simhashBitOrder(docs))
    val bySig = simhashes(docs).groupBy(col("simhash"))
      .agg(count(lit(1)).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cliqueDrops = bySig.filter(col("k") > maxClique)
      .agg(count(lit(1)).as("n_cliques_dropped"),
        coalesce(sum(col("k") * (col("k") - 1) / 2), lit(0L))
          .as("n_clique_pairs_dropped"))
    val (_, dropped, persisted) = cappedSigBuckets(
      bySig.select(col("simhash")), maxHamming, maxBucket, order,
      maxDepth, maxEnum)
    unpersistAfterFirstUse(
      dropped.agg(count(lit(1)).as("n_buckets_dropped"),
        coalesce(sum(col("n2")), lit(0L)).as("n_sig_slots_dropped"))
        .crossJoin(cliqueDrops),
      (bySig +: persisted): _*)
  }

  /** The composed-pipeline recall gate for
    * [[simhashCandidatesCapped]] — the measured answer to "are the
    * cap's dropped pairs really exact-dup territory?" (the claim the
    * round-7 audit flagged as asserted, not gated): run EXACT content
    * dedup FIRST (Dedup.dropExactDuplicates — linear cost, the order
    * a real pipeline uses), then mine simhash pairs over the
    * survivors both ways, and report one row
    *
    *   (n_docs, n_survivors, n_pairs_exact, n_pairs_capped,
    *    recall_micro = floor(capped / exact * 1e6))
    *
    * capped ⊆ exact by construction (the cap only DROPS buckets), so
    * the count ratio IS pair recall; exact = 0 reports the vacuous
    * 1e6. Context for the number: capped-alone on the RAW sf1 corpus
    * measured 46.5% pair recall (NOTES_r7) — the composition's
    * recall is the figure that decides whether the default cap
    * stands. Cost is dominated by the exact miner over the deduped
    * corpus (the ground-truth denominator), so this is a GATE query,
    * not a production path.
    */
  def simhashCappedRecallReport(docs: DataFrame, maxHamming: Int = 3,
                                maxBucket: Int = 2000): DataFrame = {
    val surv = Dedup.dropExactDuplicates(docs)
      .select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val order = Some(simhashBitOrder(surv))
    val nRaw = docs.agg(count(lit(1)).as("n_docs"))
    val nSurv = surv.agg(count(lit(1)).as("n_survivors"))
    val exact = simhashCandidates(surv, maxHamming, order)
      .agg(count(lit(1)).as("n_pairs_exact"))
    val capped = simhashCandidatesCapped(surv, maxHamming, maxBucket, order)
      .agg(count(lit(1)).as("n_pairs_capped"))
    val report = nRaw.crossJoin(nSurv).crossJoin(exact).crossJoin(capped)
      .withColumn("recall_micro",
        when(col("n_pairs_exact") === 0L, lit(1000000L))
          .otherwise(floor(col("n_pairs_capped").cast("double") /
            col("n_pairs_exact").cast("double") * 1e6).cast("long")))
    unpersistAfterFirstUse(report, surv)
  }
}
