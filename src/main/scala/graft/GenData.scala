package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Deterministic testdata generator for scale factors the driver does
  * not ship (the driver provides sf0.001/0.01/0.1; scaling claims one
  * decade further need an sf1 set). Matches the driver tables'
  * schemas, value shapes and parquet encodings exactly — verified by
  * TestdataCanarySpec's schema pin and the DuckDB oracle gate, which
  * are both encoding-sensitive:
  *
  *   - every table lands as a SINGLE `<dir>/<table>.parquet` FILE
  *     (DuckDB's reader in tools/check.py opens the path directly);
  *   - timestamps are written as TIMESTAMP(MICROS, isAdjustedToUTC=
  *     false) i.e. TIMESTAMP_NTZ — the encoding the driver's files
  *     carry since round 5 (see sources/Tables.scala);
  *   - events rows are ordered by ts with event_id in ts order.
  *
  * All randomness is hash-derived (xxhash64 over a per-column tag +
  * row id) — the output is a pure function of (sf), reproducible
  * run-to-run and independent of partitioning, with no
  * Math.random/driver-side RNG anywhere. Generation is fully
  * distributed: spark.range + column expressions; the only global
  * sort is events' ts ordering (1M rows at sf1 — trivial at gen
  * time).
  *
  * Usage: GenData <outDir> [sf] [srcDirForFixedTables]
  * e.g.   GenData testdata/sf1 1.0 /root/testdata/sf0.1
  */
object GenData {

  /** Row counts at sf=1 (10× the driver's sf0.1 counts; embeddings
    * follows the driver's own slower 4× step per decade).
    */
  private val base = Map(
    "customer" -> 150000L, "supplier" -> 10000L, "part" -> 200000L,
    "orders" -> 1500000L, "lineitem" -> 6000000L, "events" -> 1000000L,
    "documents" -> 50000L, "embeddings" -> 8000L)

  private val Mask: Long = 1L << 40
  /** Deterministic uniform in [0,1): hash of (tag, cols...). */
  private def u(tag: String, cols: Column*): Column =
    pmod(xxhash64((lit(tag) +: cols): _*), lit(Mask)) / lit(Mask.toDouble)
  /** Deterministic uniform integer in [0, n). */
  private def ui(tag: String, n: Int, cols: Column*): Column =
    pmod(xxhash64((lit(tag) +: cols): _*), lit(n.toLong)).cast("int")
  private def pick(tag: String, choices: Seq[String], cols: Column*): Column =
    element_at(array(choices.map(lit): _*), ui(tag, choices.size, cols: _*) + 1)

  /** Deterministic Zipf(≈1) rank in [0, n): log-uniform inverse CDF
    * over [1, n+1), so P(k) ∝ 1/(k+1) and rank 0 absorbs
    * ln2/ln(n+1) of all rows (7.2% of 1M events on ONE user at sf1,
    * 38.7% of transactions on ONE symbol, vs 1/n uniform). This is
    * the hot-key generator for the skewed testdata variant — the
    * shape real traffic has and the uniform driver set never
    * exercises. `sharp > 1` raises the uniform draw to that power
    * before the inverse CDF, concentrating extra mass on rank 0
    * (sharp=2: rank 0 takes sqrt(ln2/ln(n+1)) — ~22% of 6M lineitem
    * rows on ONE order key at sf1, the single-whale shape that
    * crosses AQE's skew-split bar; measured: Zipf-1's 4.9% hot key
    * yields a ~2.7 MB partition that AQE correctly declines to
    * split).
    */
  private def zipf(tag: String, n: Long, sharp: Int,
                   cols: Column*): Column =
    (exp(pow(u(tag, cols: _*), sharp.toDouble) *
      log(lit((n + 1).toDouble))) - 1.0).cast("long")

  /** Uniform (skewExp=0) or Zipf key with the given sharpness. */
  private def key(skewExp: Int, tag: String, n: Long,
                  cols: Column*): Column =
    if (skewExp > 0) zipf(tag, n, skewExp, cols: _*)
    else pmod(xxhash64((lit(tag) +: cols): _*), lit(n))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val srcDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val skewed = if (args.length > 3 && args(3) == "skew") 1
      else if (args.length > 3 && args(3) == "skew2") 2 else 0
    val zipfVocab = args.length > 3 && args(3) == "zipfvocab"
    val hostile = args.length > 3 && args(3) == "hostile"
    val spark = SparkSession.builder()
      .appName("graft-gendata")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try generate(spark, outDir, sf, srcDir, skewed, zipfVocab, hostile)
    finally spark.stop()
  }

  /** `skewed > 0` swaps every relationship/grouping key draw
    * (events.user_id + event_type, documents.source, lineitem's
    * order/part/supp keys, orders.o_custkey) from uniform to the
    * [[zipf]] hot-key distribution at that sharpness, leaving every
    * OTHER column's value distribution and all schemas/encodings
    * identical — the uniform-vs-skew A/B the AQE skew-join claims
    * are measured on (BENCH_SCALING.md). 1 = realistic Zipf traffic;
    * 2 = single-whale key for exercising the AQE skew-split bar.
    */
  def generate(spark: SparkSession, outDir: String, sf: Double,
               srcDir: String, skewed: Int = 0,
               zipfVocab: Boolean = false,
               hostile: Boolean = false): Unit = {
    def n(t: String): Long = math.max(1L, (base(t) * sf).toLong)
    // SPARK_GRAFT_GEN_TABLES restricts generation to the named tables
    // (e.g. "documents" for a corpus-only variant set) — each table's
    // content is a pure function of (sf, mode), so a partial set is
    // value-identical to the same tables from a full run
    val only = sys.env.get("SPARK_GRAFT_GEN_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(t: String): Boolean = only.forall(_.contains(t))
    // region/nation are fixed-size dimension tables — identical at
    // every sf; copy them from the driver's set
    for (t <- Seq("region", "nation") if want(t))
      writeSingle(spark.read.parquet(s"$srcDir/$t.parquet"), outDir, t)
    if (want("customer"))
      writeSingle(customer(spark, n("customer")), outDir, "customer")
    if (want("supplier"))
      writeSingle(supplier(spark, n("supplier")), outDir, "supplier")
    if (want("part"))
      writeSingle(part(spark, n("part")), outDir, "part")
    if (want("orders"))
      writeSingle(orders(spark, n("orders"), n("customer"), skewed),
        outDir, "orders")
    if (want("lineitem"))
      writeSingle(
        lineitem(spark, n("lineitem"), n("orders"), n("part"), n("supplier"),
          skewed),
        outDir, "lineitem")
    if (want("events"))
      writeSingle(events(spark, n("events"), skewed), outDir, "events")
    if (want("documents"))
      writeSingle(documents(spark, n("documents"), skewed, zipfVocab, hostile),
        outDir, "documents")
    if (want("embeddings"))
      // SPARK_GRAFT_EMB_DIMS: dimensionality for the binary-ANN
      // envelope corpora (never set by the driver; default 64 = the
      // driver set's shape)
      writeSingle(embeddings(spark, n("embeddings"),
        sys.env.get("SPARK_GRAFT_EMB_DIMS").map(_.toInt).getOrElse(64)),
        outDir, "embeddings")
  }

  def customer(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui("cnat", 25, col("id")).as("c_nationkey"),
      round(u("cbal", col("id")) * 10999.98 - 999.99, 2).as("c_acctbal"),
      pick("cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), col("id")).as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui("snat", 25, col("id")).as("s_nationkey"),
      round(u("sbal", col("id")) * 10999.98 - 999.99, 2).as("s_acctbal"))

  def part(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("p_partkey"),
      concat(
        pick("padj", Seq("large", "small", "hot", "cold", "old", "new",
          "blue", "red", "green", "shiny"), col("id")),
        lit(" "),
        pick("pnoun", Seq("ring", "bolt", "plate", "cap", "washer", "gear",
          "pin", "rod"), col("id"))).as("p_name"),
      format_string("Brand#%d", ui("pbrand", 25, col("id")) + 1).as("p_brand"),
      pick("ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD"), col("id")).as("p_type"),
      (ui("psize", 50, col("id")) + 1).as("p_size"),
      // driver shape: 900.0 + (partkey mod 1000)/10 — a dense price
      // ladder in [900, 1000)
      round(lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0, 2)
        .as("p_retailprice"))

  def orders(spark: SparkSession, n: Long, nCust: Long,
             skewed: Int = 0): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      key(skewed, "ocust", nCust, col("id")).as("o_custkey"),
      pick("ostat", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
      round(u("oprice", col("id")) * 498998.0 + 1001.0, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), ui("odate", 2404, col("id")))
        .cast(TimestampNTZType).as("o_orderdate"),
      pick("oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), col("id")).as("o_orderpriority"))

  /** Driver shape: columns drawn independently (l_orderkey is a
    * uniform draw over the order-key space, not a per-order sequence;
    * l_extendedprice is independent of part price).
    */
  def lineitem(spark: SparkSession, n: Long, nOrders: Long, nParts: Long,
               nSupp: Long, skewed: Int = 0): DataFrame =
    spark.range(n).select(
      key(skewed, "lord", nOrders, col("id")).as("l_orderkey"),
      key(skewed, "lpart", nParts, col("id")).as("l_partkey"),
      key(skewed, "lsupp", nSupp, col("id")).as("l_suppkey"),
      (ui("lln", 7, col("id")) + 1).as("l_linenumber"),
      (ui("lqty", 50, col("id")) + 1).cast("double").as("l_quantity"),
      round(u("lprice", col("id")) * 104099.0 + 900.0, 2).as("l_extendedprice"),
      (ui("ldisc", 11, col("id")) / lit(100.0)).as("l_discount"),
      (ui("ltax", 9, col("id")) / lit(100.0)).as("l_tax"),
      pick("lrf", Seq("A", "N", "R"), col("id")).as("l_returnflag"),
      pick("lls", Seq("F", "O"), col("id")).as("l_linestatus"),
      date_add(to_date(lit("1995-01-02")), ui("lship", 2499, col("id")))
        .cast(TimestampNTZType).as("l_shipdate"))

  /** Event stream: 30 days from 2024-01-01, microsecond timestamps,
    * rows ordered by ts with event_id in ts order (the driver's
    * layout; the repo's as-of/session logic doesn't require it, but
    * the canary and realism do). user count scales with volume
    * (driver: 150 @10k rows, 1500 @100k). value is Exp(mean=50) —
    * matches the driver's observed quantiles (median ≈ 50·ln2).
    */
  def events(spark: SparkSession, n: Long,
             skewed: Int = 0): DataFrame = {
    val startMicros = 1704067200000000L // 2024-01-01 00:00:00 UTC
    val spanMicros = 30L * 86400 * 1000000
    val nUsers = math.max(1L, n / 67) // driver ratio ≈ 15 events/user/day
    val types = Seq("view", "click", "purchase", "signup", "error")
    val unordered = spark.range(n).select(
      timestamp_micros(lit(startMicros) +
        (u("ets", col("id")) * spanMicros).cast("long")).as("ts"),
      key(skewed, "euser", nUsers, col("id")).as("user_id"),
      element_at(array(types.map(lit): _*),
        key(skewed, "etype", types.size, col("id")).cast("int") + 1)
        .as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u("eval", col("id"))), 2).as("value"),
      format_string("{\"k\": %d}", ui("ek", 100, col("id"))).as("props"))
    // event_id = rank in ts order. zipWithIndex over the sorted RDD
    // keeps the assignment distributed (no single-partition window).
    val sorted = unordered.repartitionByRange(32, col("ts")).sortWithinPartitions("ts")
    val schema = sorted.schema
    val withId = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(i +: r.toSeq)
    }
    spark.createDataFrame(withId,
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType, nullable = false) +: schema.fields))
      .select(col("event_id"), col("ts").cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Zipf-vocabulary size for the `zipfvocab` documents variant. */
  private val ZipfVocabSize = 10000L

  /** The top ten Zipf ranks are REAL English function words (the
    * quality scorer's stopword list) — Zipf's law's original
    * observation is precisely that function words own the head of
    * the rank-frequency curve, and without them every generated doc
    * fails language-ID ("unknown") and the quality gate zeroes any
    * pipeline run over the corpus (measured: the all-synthetic first
    * cut passed 0 of 500k docs at stage 2).
    */
  private val ZipfHead = Seq("the", "a", "an", "and", "of", "to", "in",
    "is", "it", "that")

  /** Zipf(≈1) word draw over [[ZipfVocabSize]] words: rank via the
    * log-uniform inverse CDF (P(k) ∝ 1/(k+1) — rank 0 absorbs ~11% of
    * tokens, half the vocabulary appears a handful of times). Ranks
    * 0-9 map to [[ZipfHead]]; the tail is synthetic ("w10"…).
    */
  private def zipfWord(tag: String, cols: Column*): Column = {
    // same draw as the hot-key generator (pow(u, 1) == u bit-exactly,
    // so delegating is value-neutral for already-generated corpora)
    val rank = zipf(tag, ZipfVocabSize, 1, cols: _*)
    when(rank < ZipfHead.size,
      element_at(array(ZipfHead.map(lit): _*), rank.cast("int") + 1))
      .otherwise(format_string("w%d", rank))
  }

  /** Documents: 10-100 words from the driver's 31-word vocab; lang
    * en≈40% / 4×15%; 20 sources. Duplicate structure for the dedup
    * operators: ~0.2% of rows are EXACT copies of an earlier doc and
    * ~1% are NEAR copies (one word substituted) — text is a pure
    * function of a SEED id, so a copy just points its seed at the
    * earlier row (no self-join).
    *
    * `zipfVocab` swaps every word draw from the 31-word list to a
    * 10k-word Zipf(≈1) synthetic vocabulary ([[zipfWord]]), keeping
    * the dup structure, sizes, sources and schema identical. Why it
    * exists: the 31-word vocab makes n-gram df spectra BINARY at any
    * SF — spaces are either saturated (every gram hot, budget clamps
    * on everything) or sparse (every gram df-1, no cap ever binds on
    * a true pair) — so every capped-miner recall measurement on the
    * stock corpus reads 1.0 vacuously. A Zipf vocabulary gives grams
    * a realistic df CONTINUUM (common-word grams repeat hundreds of
    * times, rare-word grams are unique), which is the regime where
    * df caps genuinely trade recall for work and the recall gates
    * produce a curve instead of a constant (RECALL_COHORT_r11–r13.json).
    */
  def documents(spark: SparkSession, n: Long,
                skewed: Int = 0, zipfVocab: Boolean = false,
                hostile: Boolean = false): DataFrame = {
    val dupKind = ui("ddup", 1000, col("id"))
    val seed = when(col("id") > 0 && dupKind < 12,
      pmod(xxhash64(lit("dsrc"), col("id")), col("id"))).otherwise(col("id"))
    val nWords = (ui("dnw", 91, col("seed")) + 10).cast("long")
    val words = transform(sequence(lit(0L), col("n_words") - 1),
      i =>
        if (zipfVocab) zipfWord("dwz", col("seed"), i)
        else element_at(array(Vocab.map(lit): _*),
          pmod(xxhash64(lit("dw"), col("seed"), i), lit(Vocab.size.toLong))
            .cast("int") + 1))
    // near-dup (kind in [2,12)): substitute the word at one
    // seed-independent position, so the copy differs in exactly one
    // token from its source
    val subWord =
      if (zipfVocab) zipfWord("dmwz", col("id"))
      else element_at(array(Vocab.map(lit): _*),
        ui("dmw", Vocab.size, col("id")) + 1)
    val mutated = when(col("kind") >= 2 && col("seed") =!= col("id"),
      transform(col("words"), (w, i) =>
        when(i === pmod(xxhash64(lit("dmp"), col("id")), col("n_words"))
            .cast("int"), subWord).otherwise(w)))
      .otherwise(col("words"))
    // `hostile` garnishes ~40% of docs with the text shapes the stock
    // corpus never contains — embedded newlines/CRLF/tabs, double and
    // single quotes, commas, backslashes, precomposed accents, CJK,
    // non-BMP emoji, U+2028/U+2029 line separators, leading/trailing
    // spaces — as a pure function of doc_id (same rule both engines'
    // views of the parquet see). Deliberately NO combining marks or
    // NULs: code point == grapheme keeps Spark/DuckDB length and
    // substring semantics aligned (the oracles' contract), and the
    // point of the axis is hostile CONTENT, not divergent Unicode
    // segmentation models. Everything else (sizes, dup structure,
    // sources, schema) is identical to the stock corpus.
    val plainText = array_join(mutated, " ")
    val hostileText = {
      // keyed on SEED, not id: a dup copy must inherit its source's
      // garnish so exact-dup pairs stay byte-identical and near-dup
      // pairs still differ by exactly one token on the hostile corpus
      // (the dedup/LSH queries' dup structure is the point of the axis)
      val h = pmod(xxhash64(lit("dhost"), col("seed")), lit(10L))
      when(h === 0L, concat(plainText,
          lit("\nnew\"line, back\\slash é 😀 end")))
        .when(h === 1L, concat(lit("\t\"lead 中文漢字,\\ quote'\r\n"),
          plainText))
        .when(h === 2L, concat(lit("  "), plainText, lit("  ")))
        .when(h === 3L, concat(plainText,
          lit("\u2028ls\u2029ps 'mixé' ,,\\\\ 😀🤖")))
        .otherwise(plainText)
    }
    spark.range(n)
      .withColumn("kind", dupKind)
      .withColumn("seed", seed)
      .withColumn("n_words", nWords)
      .withColumn("words", words)
      .withColumn("text", if (hostile) hostileText else plainText)
      .select(
        col("id").as("doc_id"),
        col("text"),
        when(u("dlang", col("id")) < 0.4, "en")
          .otherwise(pick("dlang2", Seq("de", "es", "fr", "zh"), col("id")))
          .as("lang"),
        format_string("src%d",
          key(skewed, "dsrcn", 20, col("id")).cast("int")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Embeddings: 64-dim unit-norm float vectors in 10 label clusters
    * (label-deterministic center + per-row noise), plus ~1% near-
    * duplicate rows (same seed trick as documents, tiny jitter) so
    * the near-dup/ANN operators have true positives to find.
    */
  /** `dims` defaults to the driver set's 64 (values bit-identical to
    * before the knob existed — GenDataSpec pins them); the high-dim
    * variants exist for the binary-ANN dimensionality envelope
    * (ANNBENCH: collisions vanish at dim 256 — 509k distinct
    * patterns / 512k — which ELIMINATED collisions as the recall
    * bottleneck and isolated the within-cluster resolution floor).
    */
  def embeddings(spark: SparkSession, n: Long, dims: Int = 64): DataFrame = {
    val seed = when(col("id") > 0 && ui("edup", 100, col("id")) < 1,
      pmod(xxhash64(lit("esrc"), col("id")), col("id"))).otherwise(col("id"))
    val raw = transform(sequence(lit(0), lit(dims - 1)), i =>
      (u("ectr", col("label"), i) * 2.0 - 1.0) +
        (u("enz", col("seed"), i) * 2.0 - 1.0) * 0.35 +
        when(col("seed") =!= col("id"),
          (u("ejit", col("id"), i) * 2.0 - 1.0) * 0.01).otherwise(0.0))
    spark.range(n)
      .withColumn("seed", seed)
      .withColumn("label", ui("elab", 10, col("seed")))
      .withColumn("raw", raw)
      .withColumn("norm",
        sqrt(aggregate(col("raw"), lit(0.0), (acc, v) => acc + v * v)))
      .select(
        col("id").as("vec_id"),
        transform(col("raw"), v => (v / col("norm")).cast("float"))
          .as("embedding"),
        col("label"))
  }

  /** Write `df` as the single file `<dir>/<name>.parquet` (the
    * driver's layout — DuckDB in tools/check.py opens the file path
    * directly, so a Spark part-file directory won't do).
    *
    * Row groups are capped at 8 MiB (vs the 128 MiB parquet default)
    * so the single file stays SPLITTABLE: Spark can only parallelize
    * a scan across row-group boundaries, and a coalesce(1) write at
    * default block size produced ONE row group at sf1 — every sf1
    * scan ran as a single map task, and AQE skew splits (which cut
    * along map-output boundaries) were structurally impossible. A
    * real cluster table is thousands of ~128 MiB files and gets its
    * parallelism from file count; 8 MiB row groups are the
    * single-file stand-in for that layout. Values are unaffected —
    * block size is pure physical layout (GenDataSpec pins this).
    */
  def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val tmp = s"$dir/.gen_tmp_$name"
    // Materialize the generated frame in PARALLEL first, then make
    // the single file from an IO-only read-back: coalesce(1) directly
    // on the generator frame collapses the expression evaluation
    // itself into ONE task (measured: the 512k dim-768 embeddings —
    // ~1.2e9 hash draws — crawled at ~6 MB/min single-threaded; the
    // two-pass form generates in minutes and the coalesce pass just
    // copies bytes). Read-back does NOT preserve order by itself:
    // FileSourceScanExec orders scan splits by file LENGTH descending
    // (bin-packing), not path order — so the wide pass stamps each row
    // with its position (partition-major via the id's high bits) and
    // the single-file pass restores it with an in-partition sort after
    // coalesce(1). That keeps sorted tables (events' global ts order,
    // the driver-layout contract) sorted, and makes every table's
    // on-disk row order deterministic.
    val wide = s"$dir/.gen_wide_$name"
    df.withColumn("__gen_row_idx", monotonically_increasing_id())
      .write.mode("overwrite").parquet(wide)
    spark.read.parquet(wide).coalesce(1)
      .sortWithinPartitions("__gen_row_idx").drop("__gen_row_idx")
      .write.mode("overwrite")
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .parquet(tmp)
    val fsw = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fsw.delete(new Path(wide), true)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(conf)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val target = new Path(s"$dir/$name.parquet")
    fs.delete(target, false)
    fs.rename(part, target)
    fs.delete(new Path(tmp), true)
  }
}
