package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines:
  * eval-set decontamination, PII redaction, intra-document repetition
  * scoring, stratified sampling, quality filtering and token
  * histograms — the filter/report stages that sit between raw corpus
  * and tokenizer at 100 TB.
  *
  * Scale design: everything here is either a pure projection (scan
  * speed: redaction, filtering, sampling) or one map-side-combined
  * shuffle (repetition token counts, histograms, report aggregates).
  * Decontamination joins the corpus against the eval n-gram set,
  * which is benchmark-sized (MBs against the corpus's TBs) and so
  * broadcast — the corpus itself never shuffles.
  */
object Curation {

  /** Distinct word-n-gram strings of a token array (empty below n
    * tokens — the guard matters: sequence(1,0) would count down).
    */
  def ngramsOf(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))

  /** Benchmark decontamination report: split the corpus with the
    * deterministic hash split (Corpus.splitLabel), then flag every
    * train document sharing at least one word-n-gram with any eval
    * document — the standard guard against test-set leakage into
    * pretraining data. Emits (doc_id, n_shared) for contaminated
    * train docs, n_shared = number of distinct eval n-grams hit.
    *
    * The eval n-gram set is distinct-ed and broadcast: eval
    * benchmarks are tiny relative to the corpus, so the scan side
    * joins map-side and the corpus never shuffles. (With a
    * corpus-sized eval set, drop the broadcast and let AQE pick the
    * shuffle join — the code is unchanged.)
    */
  def contaminationReport(docs: DataFrame, trainFraction: Double = 0.8,
                          n: Int = 5, textCol: String = "text"): DataFrame = {
    val labeled = docs
      .withColumn("cohort", Corpus.splitLabel(col("doc_id"), trainFraction))
    // n-grams are matched by their 64-bit shingle hash (the native
    // single-pass ShingleHashes expression), not as strings: equality
    // is all the join needs, hashing skips per-position string
    // building, and filtering each cohort BEFORE gram generation
    // tokenizes every document exactly once (a shared grams frame
    // would re-derive the whole corpus under both plan branches).
    // A cross-set hash collision would take ~2^64 distinct grams to
    // matter — far beyond any eval set.
    def grams(side: DataFrame): DataFrame =
      LshDedup.shingleHashes(side, textCol, n)
        .select(col("doc_id"), explode(col("shingle_hashes")).as("gram"))
    val evalGrams = grams(labeled.filter(col("cohort") === "eval"))
      .select("gram").distinct()
    grams(labeled.filter(col("cohort") === "train"))
      .join(broadcast(evalGrams), "gram")
      // grams are distinct within a doc, so count(1) == countDistinct
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** The clean training set: train-cohort docs minus contaminated
    * ones (left-anti against the report).
    */
  def decontaminate(docs: DataFrame, trainFraction: Double = 0.8,
                    n: Int = 5, textCol: String = "text"): DataFrame =
    docs
      .filter(Corpus.splitLabel(col("doc_id"), trainFraction) === "train")
      .join(contaminationReport(docs, trainFraction, n, textCol),
        Seq("doc_id"), "left_anti")

  /** Bloom-prefiltered contamination report — same rows as
    * [[contaminationReport]] (the result is EXACT), different scale
    * envelope: when the eval n-gram set outgrows what a broadcast
    * hash join wants to hold (multi-benchmark suites × n-gram
    * explosion), a bloom filter over the gram hashes stays compact —
    * ~1.2 MB per million grams at 1% fpp versus tens of MB of hash
    * map — and is built DISTRIBUTED (one aggregate; the driver only
    * ever holds the bit array). The corpus gram stream is probed
    * scan-side (codegen, no shuffle), so only the ~fpp-sized survivor
    * stream reaches the exact verify join that removes bloom false
    * positives. That join is left un-hinted on purpose: its left side
    * has already collapsed, and AQE picks the strategy.
    *
    * Size `expectedEvalGrams` from benchmark metadata (an over-
    * estimate only wastes bits; an under-estimate only raises fpp —
    * exactness never depends on it).
    */
  def contaminationReportBloom(docs: DataFrame, trainFraction: Double = 0.8,
                               n: Int = 5, textCol: String = "text",
                               expectedEvalGrams: Long = 1L << 20,
                               fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val labeled = docs
      .withColumn("cohort", Corpus.splitLabel(col("doc_id"), trainFraction))
    def grams(side: DataFrame): DataFrame =
      LshDedup.shingleHashes(side, textCol, n)
        .select(col("doc_id"), explode(col("shingle_hashes")).as("gram"))
    val evalGrams = grams(labeled.filter(col("cohort") === "eval"))
      .select("gram").distinct()
    val numBits = math.max(64L,
      math.ceil(-expectedEvalGrams.toDouble * math.log(fpp)
        / (math.log(2) * math.log(2))).toLong)
    val bits = evalGrams
      .agg(graft.functions.bloom_agg(col("gram"), expectedEvalGrams, numBits)
        .as("bf"))
      .head().getAs[Array[Byte]](0)
    val trainGrams = grams(labeled.filter(col("cohort") === "train"))
    if (bits == null) // no eval grams at all → nothing can be contaminated
      trainGrams.select(col("doc_id"), lit(0L).as("n_shared")).limit(0)
    else
      trainGrams
        .filter(graft.functions.bloom_might_contain(lit(bits), col("gram")))
        .join(evalGrams, "gram")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  // Conservative, lookaround-free patterns — identical semantics under
  // Java regex (Spark) and RE2 (DuckDB's regexp_* functions).
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"
  val longNumRe = "\\b\\d{6,}\\b"

  /** PII redaction — emails, phone-shaped numbers and long digit runs
    * replaced by typed placeholders, with per-class match counts.
    * Pure projection (codegen'd regexes, no UDFs): runs at scan speed
    * over the corpus. Classes apply in order on the already-redacted
    * text so one span is never counted twice.
    */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val raw = col(textCol)
    val afterEmail = regexp_replace(raw, emailRe, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, phoneRe, "<PHONE>")
    docs
      .withColumn("n_emails", regexp_count(raw, lit(emailRe)).cast("int"))
      .withColumn("n_phones", regexp_count(afterEmail, lit(phoneRe)).cast("int"))
      .withColumn("n_ids", regexp_count(afterPhone, lit(longNumRe)).cast("int"))
      .withColumn("redacted", regexp_replace(afterPhone, longNumRe, "<ID>"))
  }

  /** Intra-document repetition metrics — the boilerplate/spam signal
    * quality pipelines filter on: duplicate-token fraction, dominant
    * token share, duplicate-trigram fraction (micro-unit integers so
    * the gate is exact). Token frequencies go through one map-side-
    * combined shuffle of (doc_id, token) pairs; the trigram distinct
    * ratio is computed columnar in the scan.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val base = docs
      .select(col("doc_id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
    val tokCounts = base
      .select(col("doc_id"), explode(col("__toks")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_freq"))
    val tri = base.select(col("doc_id"),
      ngramsOf(col("__toks"), 3).as("__tri"),
      greatest(size(col("__toks")) - 2, lit(0)).as("n_tri"))
      .select(col("doc_id"), col("n_tri"),
        size(col("__tri")).as("n_tri_distinct"))
    tokCounts.join(tri, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        floor((lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")) * 1e6)
          .cast("long").as("dup_token_micro"),
        floor(col("top_freq").cast("double") / col("n_tokens") * 1e6)
          .cast("long").as("top_token_micro"),
        when(col("n_tri") > 0,
          floor((lit(1.0) - col("n_tri_distinct").cast("double") / col("n_tri")) * 1e6))
          .otherwise(lit(0)).cast("long").as("dup_trigram_micro"))
  }

  /** The Gopher document-quality rule battery (Rae et al. 2021,
    * "Scaling Language Models", Appendix A.1.1) — the widely-reused
    * heuristic filter set (Gopher → MassiveText → RefinedWeb →
    * Dolma): per-doc rule stats plus the conjunctive pass verdict.
    *
    *   1. 50 ≤ word count ≤ 100,000
    *   2. mean word length in [3, 10] characters
    *   3. symbol-to-word ratio ≤ 0.1 ('#' plus ellipsis '…'/"...")
    *   4. ≤ 90% of lines start with a bullet ('-', '*', '•')
    *      (the paper REMOVES docs with more than 90%, so exactly
    *      90% passes)
    *   5. ≤ 30% of lines end with an ellipsis (same boundary rule)
    *   6. ≥ 80% of words contain ≥ 1 alphabetic character — any
    *      Unicode letter (\p{L}): café, naïve and Cyrillic words all
    *      count as alphabetic, matching the paper's intent (tokens
    *      are already lower-cased upstream)
    *   7. ≥ 2 distinct Gopher stop words present
    *      (the, be, to, of, and, that, have, with)
    *
    * All ratios are emitted as floor-micro integers and the verdict
    * compares the MICROS, so pass/fail is engine-exact (the same
    * convention as [[repetitionStats]]). Pure projection — one scan,
    * no shuffle, no UDF; at 100 TB this is scan-speed and stacks
    * onto any read.
    */
  def gopherRules(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    def micro(num: Column, den: Column): Column =
      when(den > 0, floor(num.cast("double") / den.cast("double") * 1e6))
        .otherwise(lit(0)).cast("long")
    val out = docs
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("__lines",
        filter(split(col(textCol), "\n"), l => length(trim(l)) > 0))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("mean_word_micro", micro(
        aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t)),
        col("n_words")))
      .withColumn("symbol_micro", micro(
        (length(col(textCol)) - length(replace(col(textCol), lit("#"), lit("")))) +
          (length(col(textCol)) - length(replace(col(textCol), lit("…"), lit("")))) +
          regexp_count(col(textCol), lit("\\.\\.\\.")),
        col("n_words")))
      .withColumn("bullet_micro", micro(
        size(filter(col("__lines"), l => {
          val t = trim(l)
          t.startsWith("-") || t.startsWith("*") || t.startsWith("•")
        })), col("n_lines")))
      .withColumn("ellipsis_micro", micro(
        size(filter(col("__lines"), l => {
          val t = trim(l)
          t.endsWith("...") || t.endsWith("…")
        })), col("n_lines")))
      .withColumn("alpha_micro", micro(
        size(filter(col("__toks"), t => t.rlike("\\p{L}"))),
        col("n_words")))
      .withColumn("n_stop_hits",
        size(array_intersect(col("__toks"),
          array(stops.map(lit): _*))).cast("long"))
      .withColumn("pass",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_micro") >= 3000000L && col("mean_word_micro") <= 10000000L &&
          col("symbol_micro") <= 100000L &&
          col("bullet_micro") <= 900000L &&
          col("ellipsis_micro") <= 300000L &&
          col("alpha_micro") >= 800000L &&
          col("n_stop_hits") >= 2)
    out.select(col("doc_id"), col("n_words"), col("mean_word_micro"),
      col("symbol_micro"), col("bullet_micro"), col("ellipsis_micro"),
      col("alpha_micro"), col("n_stop_hits"), col("pass"))
  }

  /** Deterministic per-source sampling rate in quarters {1..4}/4,
    * derived from the source's numeric suffix — the stand-in for a
    * curated source→rate table (swap in a real broadcast table in
    * production; the mechanics below are unchanged).
    */
  def sourceRateQuarters(source: Column): Column =
    coalesce(substring(source, 4, 10).cast("int"), lit(0)) % 4 + 1

  /** Stratified deterministic sampling: each source keeps its own
    * fraction of documents, chosen by the same engine-portable
    * md5-threshold rule as Corpus.deterministicSample — stable under
    * repartitioning, retries and engine changes. Fraction 4/4 uses
    * threshold 'ffff' (1/65536 clip — the documented resolution of
    * the hex-threshold rule). Pure filter: no shuffle.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val thr = element_at(
      array(lit("4000"), lit("8000"), lit("c000"), lit("ffff")),
      sourceRateQuarters(col("source")))
    docs.filter(Corpus.hashBucket(col("doc_id")) < thr)
  }

  /** Per-source sampling report: configured rate, totals, kept. */
  def stratifiedSampleReport(docs: DataFrame): DataFrame = {
    val thr = element_at(
      array(lit("4000"), lit("8000"), lit("c000"), lit("ffff")),
      sourceRateQuarters(col("source")))
    docs
      .groupBy(col("source"))
      .agg(first(sourceRateQuarters(col("source"))).as("rate_quarters"),
        count(lit(1)).as("n_total"),
        sum(when(Corpus.hashBucket(col("doc_id")) < thr, 1L).otherwise(0L))
          .as("n_sampled"))
  }

  /** Fixed-SIZE stratified sample: exactly min(n, |stratum|)
    * documents per stratum, chosen by md5-hash rank — deterministic
    * under repartitioning, retries and engine changes (contrast
    * [[stratifiedSample]], which keeps a fixed FRACTION).
    *
    * Scale design: a naive per-stratum row_number funnels every
    * stratum through one task — with corpus-sized strata that is the
    * skew cliff. Instead rank twice: first within (stratum, hash
    * bucket) — nBuckets bounded sub-partitions per stratum, each
    * seeing ~|stratum|/nBuckets rows — keep n per bucket, then rank
    * the ≤ n·nBuckets survivors per stratum. Identical result to the
    * single global rank (every global top-n row is in its bucket's
    * top-n), but no window partition ever holds a whole stratum.
    * Raise nBuckets with cluster parallelism.
    */
  def stratifiedTopN(docs: DataFrame, n: Int, strataCol: String = "source",
                     nBuckets: Int = 64): DataFrame = {
    require(n > 0 && nBuckets > 0)
    import org.apache.spark.sql.expressions.Window
    val hk = Corpus.hashBucket(col("doc_id"))
    val wBucket = Window
      .partitionBy(col(strataCol), pmod(xxhash64(col("doc_id")), lit(nBuckets)))
      .orderBy(hk, col("doc_id"))
    val wStratum = Window.partitionBy(col(strataCol)).orderBy(hk, col("doc_id"))
    docs
      .withColumn("__brk", row_number().over(wBucket))
      .filter(col("__brk") <= n).drop("__brk")
      .withColumn("rk", row_number().over(wStratum))
      .filter(col("rk") <= n)
  }

  /** Quality-gate verdict per document, first failing rule wins:
    * too_short (token floor) → wrong_lang (language-ID says unknown)
    * → low_quality (composite score floor) → kept. Emitting the
    * reason, not just the survivors, is deliberate: drop-reason
    * distributions are the pipeline's observability signal (a spike
    * in one reason means an upstream source changed).
    */
  def qualityFilterVerdicts(docs: DataFrame, minTokens: Int = 40,
                            minQuality: Double = 0.5,
                            textCol: String = "text"): DataFrame =
    docs
      .withColumn("__p", TextAnalysis.profile(col(textCol)))
      .withColumn("verdict",
        when(col("__p.n_tokens") < minTokens, "too_short")
          .when(TextAnalysis.langIdOfP(col("__p")) === "unknown", "wrong_lang")
          .when(TextAnalysis.qualityScoreOfP(col("__p")) < minQuality, "low_quality")
          .otherwise("kept"))
      .select(col("doc_id"), col("verdict"))

  /** The surviving documents under the same gate. */
  def qualityFilter(docs: DataFrame, minTokens: Int = 40,
                    minQuality: Double = 0.5,
                    textCol: String = "text"): DataFrame =
    docs.join(
      qualityFilterVerdicts(docs, minTokens, minQuality, textCol)
        .filter(col("verdict") === "kept")
        .select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** The corpus-intake funnel in ONE pass: quality gate → per-source
    * deterministic sample → exact dedup, reported as per-(source,
    * lang) stage counts — the monitoring view a data team watches as
    * raw crawl becomes training corpus. All three stage flags are
    * COLUMNS over a single scan (the gate is the same profile struct,
    * the sample the same md5 threshold, dedup a content-hash window
    * for the min-id keeper within the surviving cohort), so the plan
    * is one content-hash window exchange plus one map-side-combined
    * rollup — documents are never re-scanned per stage.
    */
  def intakeReport(docs: DataFrame, minTokens: Int = 40,
                   minQuality: Double = 0.5,
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val thrArr = array(lit("4000"), lit("8000"), lit("c000"), lit("ffff"))
    docs
      .withColumn("__p", TextAnalysis.profile(col(textCol)))
      .withColumn("__kept", // same rule order as qualityFilterVerdicts
        col("__p.n_tokens") >= minTokens &&
          TextAnalysis.langIdOfP(col("__p")) =!= "unknown" &&
          TextAnalysis.qualityScoreOfP(col("__p")) >= minQuality)
      .withColumn("__sampled",
        Corpus.hashBucket(col("doc_id")) <
          element_at(thrArr, sourceRateQuarters(col("source"))))
      .withColumn("__cohort", col("__kept") && col("__sampled"))
      .withColumn("__keep_id",
        min(when(col("__cohort"), col("doc_id")))
          .over(Window.partitionBy(Dedup.contentHash(col(textCol)))))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("__cohort"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("__cohort") && col("doc_id") === col("__keep_id"), 1L)
          .otherwise(0L)).as("n_unique"))
  }

  /** Segment-level (C4/RefinedWeb "line"-level) dedup: drop the
    * boilerplate segments that recur across many documents while
    * keeping each document's unique content. Documents are split into
    * fixed token windows ([[Corpus.chunk]] with zero overlap — the
    * separator-free analog of newline splitting, swap in a real line
    * split when the corpus has line structure), each segment's
    * document frequency is counted corpus-wide, and segments seen in
    * more than `maxDf` distinct documents are removed before the text
    * is reassembled in order.
    *
    * Emits (doc_id, n_seg, n_dropped, clean_md5) — the hash of the
    * reassembled text stands in for the text itself so the result
    * stays comparison-sized; callers wanting the cleaned corpus keep
    * the reassembled column instead of hashing it.
    *
    * Scale design: only 32-char segment digests shuffle (text never
    * leaves its scan task until reassembly, which exchanges kept
    * segments once on doc_id). The frequency side is one map-side-
    * combined count over digests, then a digest-keyed join back —
    * both sides arrive partitioned on seg_md5, so the join reuses the
    * aggregation's exchange. The segment frame backs two plan
    * branches (frequency + reassembly) and is recomputed under each;
    * in a long pipeline persist or checkpoint it instead of paying
    * the tokenization twice. A globally hot segment (df in the
    * billions) costs one combiner-side count cell, never a
    * materialized set — this is why df comes from a groupBy, not a
    * collect_set window.
    */
  def lineDedup(docs: DataFrame, segTokens: Int = 4, maxDf: Int = 8,
                textCol: String = "text"): DataFrame = {
    require(segTokens > 0 && maxDf > 0)
    val segs = Corpus.chunk(docs, segTokens, 0, textCol)
      .select(col("doc_id"), col("chunk_id"),
        col("chunk_text").as("seg"), md5(col("chunk_text")).as("seg_md5"))
    val dfreq = segs.groupBy(col("seg_md5"))
      .agg(countDistinct(col("doc_id")).as("seg_df"))
    segs.join(dfreq, "seg_md5")
      .withColumn("__kept", col("seg_df") <= maxDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("__kept"), 0L).otherwise(1L)).as("n_dropped"),
        md5(array_join(
          sort_array(collect_list(when(col("__kept"),
            struct(col("chunk_id"), col("seg"))))).getField("seg"),
          " ")).as("clean_md5"))
  }

  /** Mixing weights toward a target source mix — the "how much of
    * each source do we keep" planner that turns raw per-source token
    * counts into downsampling rates. Target shares come from the
    * per-source quarters table ([[sourceRateQuarters]] — swap in a
    * curated broadcast table in production); the budget is the
    * LARGEST total token count that achieves the target mix without
    * upsampling any source (the binding source is kept whole, every
    * other source downsamples to its share).
    *
    * All arithmetic is 64-bit integer (truncating division on
    * positive operands — engine-portable): budget
    * B = min_s(n_tokens_s · Σq / q_s), planned_s = B·q_s div Σq,
    * weight_micro_s = planned_s·10^6 div n_tokens_s. The integer
    * intermediates stay under 2^63 while Σtokens·10^6 does (< ~9·10^12
    * tokens); past that envelope rescale micro → milli or move the
    * weight division to DOUBLE (the plan is unchanged).
    *
    * One map-side-combined aggregate over the corpus, then a 1-row
    * broadcast of the global budget — nothing corpus-sized shuffles
    * twice.
    */
  def mixWeights(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val perSrc = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        first(sourceRateQuarters(col("source")).cast("long")).as("target_q"))
    // the two globals (quota sum, then the binding budget, which
    // depends on the quota sum) ride Ranks.withGlobalAgg — two 1-row
    // partial aggregates broadcast back over the persisted per-source
    // frame. The corpus is aggregated exactly once and no window has
    // an empty partition spec (the frame is sources-sized, so the
    // old global window was bounded, but the lock banning
    // empty-partition windows holds repo-wide).
    val withSum = Ranks.withGlobalAgg(perSrc,
      Seq(sum(col("target_q")).as("__sum_q")))
    Ranks.withGlobalAgg(withSum,
        Seq(min(expr("(n_tokens * __sum_q) div target_q")).as("__budget")))
      .withColumn("planned_tokens",
        expr("(__budget * target_q) div __sum_q"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("target_q"),
        col("planned_tokens"),
        expr("(planned_tokens * 1000000) div n_tokens").as("weight_micro"))
  }

  /** Temperature-scaled source mixture at α = 0.5: sampling weight
    * ∝ n_tokens^α flattens the source distribution toward uniform —
    * the standard upweighting of low-resource sources in multilingual
    * / multi-domain training mixes (per-language sampling with
    * exponent α, as popularized by multilingual LM pretraining;
    * mixWeights above is the quota-driven planner, this is the
    * size-driven one). α = 0.5 is computed as floor(sqrt(n_tokens)):
    * IEEE-754 sqrt is correctly rounded in every engine (unlike pow),
    * and n_tokens < 2^53 is exact in a double, so the weight — and
    * therefore the whole integer-unit output — is bit-reproducible
    * cross-engine. Other dyadic α are reachable by iterating sqrt
    * (α = 0.25 = sqrt∘sqrt); arbitrary α needs pow and loses the
    * exactness gate.
    *
    * One corpus aggregate (map-side combined on source), one 1-row
    * global broadcast — sources-sized frames everywhere after the
    * scan, same 100 TB shape as mixWeights.
    */
  def temperatureMix(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val perSrc = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("w", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    Ranks.withGlobalAgg(perSrc,
        Seq(sum(col("w")).as("__sum_w"), sum(col("n_tokens")).as("__sum_t")))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(w * 1000000) div __sum_w").as("weight_micro"),
        // upsampling factor vs the natural token-proportional mix, in
        // micro units: > 1e6 ⇒ the source is boosted by the flattening.
        // Integer headroom: weight_micro ≤ 1e6 and corpus tokens up to
        // ~9e12 stay under 2^63 — beyond that, divide __sum_t first.
        expr("(((w * 1000000) div __sum_w) * __sum_t) div n_tokens")
          .as("rel_natural_micro"))
  }

  /** The composed curation pipeline in ONE job — the end-to-end
    * funnel a training-data team runs between raw crawl and
    * tokenizer: quality gate → exact dedup among the survivors →
    * deterministic train/eval split → eval-decontamination of the
    * train cohort, reported as a per-source funnel
    * (n_raw → n_quality → n_unique → n_train → n_clean) plus the
    * clean cohort's token count. Every stage reuses the
    * individually-gated operator semantics (qualityFilterVerdicts'
    * rule order, Dedup.contentHash min-id keeper, Corpus.splitLabel,
    * contaminationReport's hashed 5-gram match), so the composition
    * is exactly what chaining those queries would produce — the
    * point of the query is proving the stages compose into one plan
    * without per-stage re-scans.
    *
    * Plan shape at 100 TB: the corpus is scanned ONCE into profile +
    * content-hash + cohort columns; dedup is one content-hash window
    * exchange (partition = duplicate group, bounded); gram
    * generation runs only over the deduped survivors, filtered by
    * cohort BEFORE exploding (each side tokenizes once); the eval
    * cohort here is split-derived (~1-trainFraction of the corpus),
    * so its distinct gram set is corpus-proportional — the
    * gram-match join shuffles on gram and is left to AQE, which
    * broadcasts only when the eval side measures small (a forced
    * broadcast would OOM the driver at 100 TB; for a genuinely
    * benchmark-sized eval set, [[contaminationReportBloom]] is the
    * constant-memory prefilter); the contaminated-id frame joins
    * back by doc_id (ids only — AQE broadcasts it when small); the
    * final rollup is sources-sized. Documents' bodies never shuffle
    * — only hashes, grams and ids.
    */
  def curatePipeline(docs: DataFrame, minTokens: Int = 40,
                     minQuality: Double = 0.5,
                     trainFraction: Double = 0.8, n: Int = 5,
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = docs
      .withColumn("__p", TextAnalysis.profile(col(textCol)))
      .withColumn("__kept", // same rule order as qualityFilterVerdicts
        col("__p.n_tokens") >= minTokens &&
          TextAnalysis.langIdOfP(col("__p")) =!= "unknown" &&
          TextAnalysis.qualityScoreOfP(col("__p")) >= minQuality)
      .withColumn("__hash", Dedup.contentHash(col(textCol)))
      .withColumn("__keeper",
        min(when(col("__kept"), col("doc_id")))
          .over(Window.partitionBy(col("__hash"))))
      .withColumn("__unique", col("__kept") && col("doc_id") === col("__keeper"))
      .withColumn("__cohort", Corpus.splitLabel(col("doc_id"), trainFraction))
      .persist()
    def grams(side: DataFrame): DataFrame =
      LshDedup.shingleHashes(side, textCol, n)
        .select(col("doc_id"), explode(col("shingle_hashes")).as("gram"))
    val uniq = staged.filter(col("__unique"))
    val evalGrams = grams(uniq.filter(col("__cohort") === "eval"))
      .select("gram").distinct()
    val contaminated = grams(uniq.filter(col("__cohort") === "train"))
      .join(evalGrams, "gram")
      .select("doc_id").distinct()
      .withColumn("__dirty", lit(true))
    val report = staged
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("__clean",
        col("__unique") && col("__cohort") === "train" && col("__dirty").isNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("__unique"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("__unique") && col("__cohort") === "train", 1L)
          .otherwise(0L)).as("n_train"),
        sum(when(col("__clean"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("__clean"), col("__p.n_tokens").cast("long"))
          .otherwise(0L)).as("tokens_clean"))
    LshDedup.unpersistAfterFirstUse(report, staged)
  }

  /** The WHOLE training-data pipeline composed end to end, reported
    * as a stage funnel — one row per stage with the doc and token
    * count that survives it:
    *
    *   1 raw → 2 quality gate → 3 exact dedup → 4 train split →
    *   5 eval decontamination → 6 containment-scale near-dup prune
    *   (the df-capped miner, q_containment_scale's knobs; from each
    *   contained pair the CONTAINING doc survives, mutual
    *   containment keeps min(doc_id)) → 7 DSIR resample (keep target
    *   docs + raw docs STRICTLY above the mean raw weight — the
    *   integer-exact compare w·n > Σw; a threshold rule chosen over
    *   top-K because it is scan-speed and needs no global sort, and
    *   over weight > 0 because Laplace-smoothed log-ratios skew
    *   negative, which kept ~nothing) →
    *   8 UniMax mix plan (n_docs = sources, n_tokens = Σ planned) →
    *   9 token-balanced shard plan (n_docs = shards) →
    *   10 sequence packing (n_docs = packed sequences).
    *
    * Why it exists: every stage is individually oracle-gated, but a
    * production pipeline runs them COMPOSED — this operator is the
    * composition as one program over one persisted corpus scan per
    * tier, so plan surprises (re-scans, lost caches, a stage that
    * silently rescans text instead of the compact intermediate)
    * surface as measurable cost. Stage-count observability is the
    * no-silent-caps rule applied to the whole funnel.
    *
    * Scale shape: the corpus text is scanned once into `staged`
    * (profile + hash + cohort flags, persisted); dedup shuffles
    * hashes, decontamination shuffles grams of survivors, the
    * containment miner is the bounded capped path, DSIR reduces to
    * its compact count table, and stages 8-10 run over the
    * stage-7 survivor frame. Bodies never shuffle; every inter-stage
    * interface is ids/hashes/counts.
    *
    * Tier MATERIALIZATION (localCheckpoint at sv5/cp/sv6/sv7) is
    * structural, not an optimization: each survivor tier embeds the
    * full lineage of every tier below it, and the containment
    * miner's self-joins alone reference their input ~6×, so the
    * un-cut composed logical plan grows into the 10^5-node range and
    * the ANALYZER (not execution) runs for minutes. Cutting lineage
    * at tier boundaries is exactly what a production pipeline does
    * between stages. This variant cuts with localCheckpoint — fast,
    * in-memory, but NOT fault-tolerant on a cluster (an executor
    * loss makes the truncated lineage unrecoverable and a driver
    * loss restarts from nothing); [[fullPipelineStaged]] is the
    * production shape — parquet tiers with crash/resume — and the
    * oracle-gated path (q_pipeline_full).
    */
  def fullPipeline(docs: DataFrame, minTokens: Int = 40,
                   minQuality: Double = 0.5, trainFraction: Double = 0.8,
                   nGram: Int = 5, contThreshold: Double = 0.5,
                   contMaxDf: Long = 1000L, contMaxDfPercent: Int = 1,
                   targetSource: String = "src0",
                   chunkSize: Int = 32, overlap: Int = 8,
                   seqLen: Int = 256, nBuckets: Int = 8, nShards: Int = 8,
                   textCol: String = "text"): DataFrame =
    pipelineImpl(docs, minTokens, minQuality, trainFraction, nGram,
      contThreshold, contMaxDf, contMaxDfPercent, targetSource, chunkSize,
      overlap, seqLen, nBuckets, nShards, textCol,
      cut = (_, compute) => compute().localCheckpoint(true),
      headCut = compute => compute())

  /** The production-tier form of [[fullPipeline]]: every tier
    * boundary is a PARQUET table under `tierDir` (report_head, sv5,
    * cp, sv6, sv7), written once and read back — so the composed
    * funnel is RESTARTABLE: a tier whose `_SUCCESS` marker exists is
    * read, never recomputed, and a run killed at any tier boundary
    * resumes from the last complete tier (a partial, crashed write
    * has no `_SUCCESS` and is overwritten). This is the property a
    * multi-hour 100 TB funnel needs most — localCheckpoint blocks
    * die with their executors; parquet tiers survive the driver.
    * Crash/resume is gated end to end by graft.ReplayGate (kill
    * after a tier lands → restart must leave completed tiers
    * byte-untouched and converge bit-identically to an uninterrupted
    * run) and by ReplaySpec in `sbt test`.
    *
    * `tierDir` identifies (input corpus, knob set): resuming with
    * different knobs against existing tiers would silently mix
    * funnels, so the knob fingerprint is written on first use and
    * re-verified on every call. The input itself is not
    * fingerprinted (100 TB hashes are not free) — reusing a tierDir
    * across corpora is the caller's contract to keep.
    *
    * `onTierWritten` fires after each tier's write commits — the
    * crash-injection seam the replay gate uses; production leaves it
    * default.
    */
  def fullPipelineStaged(docs: DataFrame, tierDir: String,
                         minTokens: Int = 40,
                         minQuality: Double = 0.5, trainFraction: Double = 0.8,
                         nGram: Int = 5, contThreshold: Double = 0.5,
                         contMaxDf: Long = 1000L, contMaxDfPercent: Int = 1,
                         targetSource: String = "src0",
                         chunkSize: Int = 32, overlap: Int = 8,
                         seqLen: Int = 256, nBuckets: Int = 8, nShards: Int = 8,
                         textCol: String = "text",
                         onTierWritten: String => Unit = _ => ()): DataFrame = {
    val spark = docs.sparkSession
    val fp = s"minTokens=$minTokens|minQuality=$minQuality|" +
      s"trainFraction=$trainFraction|nGram=$nGram|" +
      s"contThreshold=$contThreshold|contMaxDf=$contMaxDf|" +
      s"contMaxDfPercent=$contMaxDfPercent|targetSource=$targetSource|" +
      s"chunkSize=$chunkSize|overlap=$overlap|seqLen=$seqLen|" +
      s"nBuckets=$nBuckets|nShards=$nShards|textCol=$textCol"
    checkKnobs(spark, tierDir, fp)
    pipelineImpl(docs, minTokens, minQuality, trainFraction, nGram,
      contThreshold, contMaxDf, contMaxDfPercent, targetSource, chunkSize,
      overlap, seqLen, nBuckets, nShards, textCol,
      cut = (name, compute) =>
        tier(spark, s"$tierDir/$name", compute, onTierWritten),
      headCut = compute =>
        tier(spark, s"$tierDir/report_head", compute, onTierWritten))
  }

  /** Write-once/read-back tier: compute and write the parquet only
    * when `_SUCCESS` is absent (job-atomic v1 committer — a crashed
    * partial write never carries the marker and is overwritten on
    * resume), then return the READ of the table — every downstream
    * stage's lineage starts at a fault-tolerant parquet scan.
    */
  private def tier(spark: org.apache.spark.sql.SparkSession, path: String,
                   compute: () => DataFrame,
                   onWritten: String => Unit): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      compute().write.mode("overwrite").parquet(path)
      onWritten(path)
    }
    spark.read.parquet(path)
  }

  /** First use writes the knob fingerprint; every later use requires
    * an exact match — resume with different knobs must fail loudly,
    * not mix tiers from two different funnels.
    */
  private def checkKnobs(spark: org.apache.spark.sql.SparkSession,
                         tierDir: String, fp: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tierDir, "knobs.txt")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val prior = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(prior == fp,
        s"tierDir $tierDir was built with different knobs:\n  $prior\nvs\n  $fp")
    } else {
      val out = fs.create(p, false)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
    }
  }

  private def pipelineImpl(docs: DataFrame, minTokens: Int,
                           minQuality: Double, trainFraction: Double,
                           nGram: Int, contThreshold: Double,
                           contMaxDf: Long, contMaxDfPercent: Int,
                           targetSource: String,
                           chunkSize: Int, overlap: Int,
                           seqLen: Int, nBuckets: Int, nShards: Int,
                           textCol: String,
                           cut: (String, () => DataFrame) => DataFrame,
                           headCut: (() => DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    // lazy: a fully-resumed staged run (every tier's _SUCCESS
    // present) reads tiers only and never scans the corpus at all
    lazy val staged = docs
      .withColumn("__p", TextAnalysis.profile(col(textCol)))
      .withColumn("__kept",
        col("__p.n_tokens") >= minTokens &&
          TextAnalysis.langIdOfP(col("__p")) =!= "unknown" &&
          TextAnalysis.qualityScoreOfP(col("__p")) >= minQuality)
      .withColumn("__hash", Dedup.contentHash(col(textCol)))
      .withColumn("__keeper",
        min(when(col("__kept"), col("doc_id")))
          .over(Window.partitionBy(col("__hash"))))
      .withColumn("__unique", col("__kept") && col("doc_id") === col("__keeper"))
      .withColumn("__cohort", Corpus.splitLabel(col("doc_id"), trainFraction))
      .withColumn("n_tokens", col("__p.n_tokens").cast("long"))
      .select(col("doc_id"), col("source"), col(textCol).as("text"),
        col("n_tokens"), col("__kept"), col("__unique"), col("__cohort"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def grams(side: DataFrame): DataFrame =
      LshDedup.shingleHashes(side, "text", nGram)
        .select(col("doc_id"), explode(col("shingle_hashes")).as("gram"))
    lazy val uniq = staged.filter(col("__unique"))
    def stageRow(id: Int, name: String, side: DataFrame) =
      side.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
        .select(lit(id).as("stage_id"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    // stages 1-4 report over the shared staged scan — one tier in the
    // staged variant (resume must not re-scan the corpus for counts)
    val head = headCut(() =>
      stageRow(1, "raw", staged)
        .unionByName(stageRow(2, "quality", staged.filter(col("__kept"))))
        .unionByName(stageRow(3, "unique", uniq))
        .unionByName(stageRow(4, "train",
          uniq.filter(col("__cohort") === "train"))))
    val sv5 = cut("sv5", () => {
      val evalGrams = grams(uniq.filter(col("__cohort") === "eval"))
        .select("gram").distinct()
      val contaminated = grams(uniq.filter(col("__cohort") === "train"))
        .join(evalGrams, "gram")
        .select("doc_id").distinct()
      uniq.filter(col("__cohort") === "train")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("text"), col("n_tokens"))
    })
    // stage 6: capped containment prune — drop the contained side;
    // mutual containment (a in b AND b in a) keeps min(doc_id)
    val cp = cut("cp", () =>
      LshDedup.containmentPairsCapped(sv5, contThreshold, nGram,
          contMaxDf, contMaxDfPercent)
        .select(col("doc_a"), col("doc_b")))
    val sv6 = cut("sv6", () => {
      val cdrop = cp.as("p")
        .join(cp.as("q"),
          col("q.doc_a") === col("p.doc_b") && col("q.doc_b") === col("p.doc_a"),
          "left")
        .filter(col("q.doc_a").isNull || col("p.doc_a") > col("p.doc_b"))
        .select(col("p.doc_a").as("doc_id")).distinct()
      sv5.join(cdrop, Seq("doc_id"), "left_anti")
    })
    // stage 7: DSIR threshold resample (targets pass through; raw
    // docs keep iff STRICTLY above the mean raw weight — w·n > Σw is
    // the integer-exact form, no division, no global sort)
    val sv7 = cut("sv7", () => {
      val keepIds = Ranks.withGlobalAgg(
          dsirWeights(sv6, col("source") === targetSource, textCol = "text"),
          Seq(sum(col("weight_micro")).as("__tot"), count(lit(1)).as("__n")))
        .filter(col("weight_micro") * col("__n") > col("__tot"))
        .select("doc_id")
      sv6.filter(col("source") === targetSource)
        .unionByName(sv6.filter(col("source") =!= targetSource)
          .join(keepIds, Seq("doc_id"), "left_semi"))
    })
    val mix = unimaxMix(sv7, textCol = "text")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("planned_tokens")), lit(0L)).as("n_tokens"))
      .select(lit(8).as("stage_id"), lit("mix").as("stage"),
        col("n_docs"), col("n_tokens"))
    val shard = Corpus.shardPlan(sv7, nShards, textCol = "text")
      .agg(countDistinct(col("shard")).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .select(lit(9).as("stage_id"), lit("shard").as("stage"),
        col("n_docs"), col("n_tokens"))
    val pack = Corpus.packSequences(
        Corpus.chunk(sv7, chunkSize, overlap, "text"), seqLen, nBuckets)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .select(lit(10).as("stage_id"), lit("pack").as("stage"),
        col("n_docs"), col("n_tokens"))
    val report = head
      .unionByName(stageRow(5, "clean", sv5))
      .unionByName(stageRow(6, "containment", sv6))
      .unionByName(stageRow(7, "dsir", sv7))
      .unionByName(mix).unionByName(shard).unionByName(pack)
    LshDedup.unpersistAfterFirstUse(report, staged)
  }

  /** UniMax mixture planning (Chung et al. 2023): spread a total
    * token budget across sources as uniformly as possible subject to
    * a per-source epoch cap — no source repeats more than `epochCap`
    * times. The closed form is waterfilling over caps sorted
    * ascending (cap = epochCap·n_tokens, ties broken by source
    * name): a prefix of small sources binds at its cap, everyone
    * else splits the remaining budget evenly. "Capped" is decided by
    * multiplication, not division — cap·(sources at or after mine) <
    * budget − (sum of caps before mine) — so the binding decision
    * has no rounding and replays bit-for-bit in any engine. The even
    * split's integer remainder goes one token each to the LARGEST
    * uncapped sources, making sum(planned_tokens) == budget exact
    * whenever the budget is feasible (≤ epochCap·corpus); an
    * infeasible budget caps every source and the surplus is visibly
    * unallocated.
    *
    * Why "capped" is a prefix of the sort order (what lets two
    * global aggregates find the boundary): with caps ascending,
    * f(i) = B − capPre(i−1) − cap_i·(L−i+1) steps by
    * f(i)−f(i+1) = (cap_{i+1}−cap_i)·(L−i) ≥ 0, so f is
    * non-increasing and {f > 0} = {capped} is a prefix.
    *
    * Scale shape: ONE map-side-combined corpus aggregate down to a
    * sources-sized frame; sort position + exclusive cap prefix ride
    * one broadcast theta self-join on that tiny frame (O(|sources|²)
    * compares — |sources| is catalog-bounded, not corpus-bounded);
    * the globals are 1-row broadcasts. No corpus-sized shuffle
    * beyond the aggregate, no global window. Integer headroom:
    * cap·L ≤ epochCap·corpusTokens·|sources| must stay < 2⁶³ —
    * 4 epochs × 10¹⁴ tokens (100 TB) × 10³ sources overflows, so at
    * that extreme divide the budget into per-source units first;
    * below ~10⁴ combined magnitude it is exact as written.
    */
  def unimaxMix(docs: DataFrame, epochCap: Int = 1,
                budgetTokens: Option[Long] = None,
                textCol: String = "text"): DataFrame = {
    require(epochCap > 0)
    val perSrc = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * epochCap)
    // position (0-based) + exclusive cap prefix along (cap, source):
    // broadcast theta join, strictPrefixTiny shape on the tiny frame
    val before = (col("b.cap_tokens") < col("a.cap_tokens")) ||
      (col("b.cap_tokens") === col("a.cap_tokens") &&
        col("b.source") < col("a.source"))
    val pos = perSrc.as("a")
      .join(broadcast(perSrc.as("b")), before, "left")
      .groupBy(col("a.source").as("source"), col("a.n_docs").as("n_docs"),
        col("a.n_tokens").as("n_tokens"),
        col("a.cap_tokens").as("cap_tokens"))
      .agg(count(col("b.source")).as("__pos0"),
        coalesce(sum(col("b.cap_tokens")), lit(0L)).as("__cap_pre"))
    val g = Ranks.withGlobalAgg(pos,
      Seq(count(lit(1)).as("__L"), sum(col("n_tokens")).as("__corpus")))
      .withColumn("__B",
        budgetTokens.map(b => lit(b)).getOrElse(col("__corpus")).cast("long"))
      .withColumn("__capped",
        col("cap_tokens") * (col("__L") - col("__pos0")) <
          col("__B") - col("__cap_pre"))
    Ranks.withGlobalAgg(g,
        Seq(sum(when(col("__capped"), 1L).otherwise(0L)).as("__n_capped"),
          sum(when(col("__capped"), col("cap_tokens")).otherwise(0L))
            .as("__capped_tok")))
      .withColumn("__slots", col("__L") - col("__n_capped"))
      .withColumn("__left", col("__B") - col("__capped_tok"))
      // nullif keeps the all-capped case division-safe in every
      // engine; the branch is unreachable there (__capped all true)
      .withColumn("planned_tokens",
        when(col("__capped"), col("cap_tokens"))
          .otherwise(expr("__left div nullif(__slots, 0L)") +
            when(col("__pos0") >= col("__L") - expr("__left % nullif(__slots, 0L)"),
              1L).otherwise(0L)))
      // nullif: a source whose docs are all empty/whitespace has
      // n_tokens = 0 (and planned 0) — report 0 epochs, not a
      // division error (the slots division above has the same guard)
      .withColumn("epochs_micro",
        expr("coalesce((planned_tokens * 1000000) div nullif(n_tokens, 0L), 0L)"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("cap_tokens"), col("planned_tokens"), col("epochs_micro"))
  }

  /** DSIR-style importance weights over hashed token features (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every raw document by how target-like its
    * hashed-unigram bucket distribution is, w(doc) = Σ_tokens
    * log p̂_target(b(tok)) − log p̂_raw(b(tok)), with Laplace(+1)
    * smoothed bucket probabilities and b(tok) = fnv1a64(tok) mod
    * `buckets`. High-weight raw docs are the ones importance
    * resampling keeps.
    *
    * Engine-independence: the per-bucket log-ratio is snapped to
    * integer micro units FIRST (one double ln per bucket — the
    * q_tfidf convention), so each document's weight is an exact
    * INTEGER sum — summation order, which no distributed engine pins,
    * can't move the result (the q_fluency technique).
    *
    * Scale design: ONE tokenization pass. The scan-side explode
    * collapses map-side into a compact (doc_id, bucket) count table
    * (≲ one row per token, usually far fewer), which is persisted
    * while it feeds both the bucket-stats branch and the weight
    * branch, then released after the first action (the jaccardVerified
    * caching contract — at cluster scale the equivalent move is
    * materializing the count table between the passes; a two-pass
    * normalization is DSIR's inherent shape). Bucket stats collapse
    * to ≤ `buckets` rows, their corpus totals ride
    * [[Ranks.withGlobalAgg]] (1-row broadcast, no second-scan
    * re-aggregate), the log-ratio table is `buckets` rows and
    * broadcast — so beyond the count-table build, nothing
    * corpus-sized shuffles twice. Fully linear — no pairwise
    * anything.
    *
    * Returns raw docs only (the resampling pool): (doc_id, n_tokens,
    * weight_micro).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  buckets: Int = 256, textCol: String = "text"): DataFrame =
    dsirWeightsFromCounts(dsirCountTable(docs, isTarget, buckets, textCol),
      buckets)

  /** The (doc_id, is_t, b, n) hashed-bucket count table of a doc
    * batch — the INGEST-TIME pass of DSIR, factored out so it can be
    * maintained incrementally ([[DsirStore]]): counts are keyed by
    * doc_id and doc_ids are disjoint across batches, so the count
    * table of a corpus is the plain UNION of its batches' tables —
    * folding a batch into a store is a pure append, no merge
    * arithmetic, and the heavy tokenization runs over each batch
    * exactly once. The weight pass ([[dsirWeightsFromCounts]]) then
    * reads only this compact table (≲ one row per token, usually far
    * fewer), never the text.
    *
    * Precondition: `docs` holds one row per doc_id. The histogram is
    * computed per row, so duplicate doc_id rows come out as separate
    * (doc_id, is_t, b, n) rows rather than one merged row.
    * [[dsirWeightsFromCounts]] sums them, so weights are unaffected,
    * but a [[DsirStore]] fold would persist the unmerged rows.
    */
  def dsirCountTable(docs: DataFrame, isTarget: Column,
                     buckets: Int = 256, textCol: String = "text"): DataFrame = {
    require(buckets > 0 && Integer.bitCount(buckets) == 1,
      s"buckets must be a power of two (divides 2^64, so signed pmod ≡ unsigned mod): $buckets")
    // r16: the histogram is computed per ROW by the codegen'd
    // bucket_counts kernel (floorMod ≡ signed pmod for a positive
    // divisor — the signed view of the u64 residue, same as before),
    // not by exploding one row per token and re-aggregating by
    // (doc_id, is_t, b): rows are unique by doc_id here (each doc is
    // one row in every caller), so that groupBy was a per-row
    // operation paying a full exchange of the ≤ docs×buckets count
    // table per batch. Tokenize → histogram → explode(≤ buckets
    // entries) is now one whole-stage-codegen span with no shuffle.
    docs
      .select(col("doc_id"), isTarget.as("is_t"),
        explode(graft.functions.bucket_counts(
          graft.functions.token_fnv_hashes(lower(trim(col(textCol)))), buckets))
          .as("bn"))
      .select(col("doc_id"), col("is_t"),
        col("bn.b").as("b"), col("bn.n").as("n"))
  }

  /** The WEIGHT pass of DSIR over a (doc_id, is_t, b, n) count table
    * (from [[dsirCountTable]] directly, or a [[DsirStore]] fold of
    * many batches — the two are the same rows, so this equality IS
    * the batch/stream parity proof, gated by q_dsir_incr): bucket
    * stats, Laplace-smoothed integer-micro log-ratios, per-doc exact
    * integer weight sums. Bucket stats collapse to ≤ `buckets` rows,
    * corpus totals ride [[Ranks.withGlobalAgg]] (1-row broadcast),
    * the ratio table is broadcast — the only count-table-sized
    * operations are one aggregate and one broadcast join, both over
    * the compact table, never the text.
    */
  def dsirWeightsFromCounts(counts: DataFrame, buckets: Int = 256): DataFrame = {
    require(buckets > 0 && Integer.bitCount(buckets) == 1,
      s"buckets must be a power of two (divides 2^64, so signed pmod ≡ unsigned mod): $buckets")
    val dbc = counts
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = dbc.groupBy(col("b")).agg(
      sum(when(col("is_t"), col("n")).otherwise(0L)).as("n_t"),
      sum(when(!col("is_t"), col("n")).otherwise(0L)).as("n_r"))
    // ln argument is a ratio of EXACT integer products (< 2^53), so
    // the double input to ln is identical in any engine; floor(1e6·ln)
    // then matches everywhere glibc-grade ln agrees (q_tfidf precedent)
    val ratio = Ranks.withGlobalAgg(stats,
        Seq(sum(col("n_t")).as("tot_t"), sum(col("n_r")).as("tot_r")))
      .select(col("b"),
        floor(log(((col("n_t") + 1L) * (col("tot_r") + buckets)).cast("double") /
            ((col("n_r") + 1L) * (col("tot_t") + buckets))) * 1e6)
          .cast("long").as("r_micro"))
    LshDedup.unpersistAfterFirstUse(
      dbc.filter(!col("is_t"))
        .join(broadcast(ratio), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_tokens"),
          sum(col("n") * col("r_micro")).as("weight_micro")),
      dbc)
  }

  /** Fixed-width histogram of per-document token counts — the corpus
    * length profile (sequence-length planning, truncation budgets).
    * One tiny aggregate: (bucket, lo_tokens, n_docs).
    */
  def tokenHistogram(docs: DataFrame, width: Int = 16,
                     textCol: String = "text"): DataFrame = {
    require(width > 0)
    docs
      .select((TextAnalysis.tokenCount(col(textCol)) / width)
        .cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lo_tokens", col("bucket") * width)
      .select(col("bucket"), col("lo_tokens"), col("n_docs"))
  }
}
