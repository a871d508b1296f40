package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextShingles
import Similarity.dotSql

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between "cleaned corpus" and "training run": benchmark
  * decontamination, chunking, per-source mixture budgeting, and TF-IDF
  * term profiling. All four are declarative DataFrame pipelines with
  * DuckDB-reproducible semantics (the correctness gate), shaped for the
  * 100 TB deployment (broadcast eval sets, map-only explodes, two-phase
  * prefix sums — never a global window or a driver-side data loop).
  */
object Curation {

  /** §2 #71 — benchmark DECONTAMINATION (the GPT-3-style n-gram overlap
    * check): flag training documents sharing any distinct `n`-word gram
    * with an evaluation/benchmark set — here the deterministic
    * `doc_id % benchMod == 0` slice stands in for the eval suite.
    * Output: contaminated train docs with their distinct hit-gram count.
    *
    * Scale shape: eval suites are orders of magnitude smaller than the
    * corpus, so their distinct gram set is BROADCAST — the train-side
    * gram explode is map-only and never shuffles gram strings; the only
    * exchange carries the (doc_id, gram) HITS (tiny). */
  def decontaminate(spark: SparkSession, sfDir: String,
                    n: Int = 4, benchMod: Int = 50): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    decontaminateFrom(
      docs.filter(col("doc_id") % benchMod =!= 0),
      docs.filter(col("doc_id") % benchMod === 0), n)
  }

  /** Generic core: contamination of ANY (doc_id, text) train corpus
    * against ANY (doc_id, text) benchmark corpus. */
  def decontaminateFrom(train: DataFrame, bench: DataFrame,
                        n: Int = 4): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.WordShinglesExpr.wordShingles(
        TextShingles.words(col("text")), n)).as("gram"))
    val benchGrams = grams(bench).select("gram").distinct()
    grams(train)
      .join(broadcast(benchGrams), Seq("gram"))
      // wordShingles is per-doc distinct, so (doc_id, gram) is unique —
      // the count below is the distinct-hit-gram count with no extra
      // distinct shuffle
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit_grams"))
      .orderBy("doc_id")
  }

  /** §2 #169 — CONTAMINATION GOVERNANCE REPORT: the per-source rollup
    * of [[decontaminate]] (the twin of #149d scrub_report for the
    * benchmark-overlap axis) — docs contaminated, hit-gram volume, and
    * the contaminated fraction per feed. This is what's read next to
    * source_mix_report before re-weighting: a feed with high
    * contaminated_frac is leaking the eval suite (scraped mirrors,
    * forum dumps quoting benchmarks) and gets dropped or filtered,
    * not just decontaminated doc-by-doc.
    *
    * Scale shape: rides the map-only gram probe + broadcast bench join
    * of #71, then one doc_id equi-join + a ≤n-sources agg. */
  def contaminationReport(spark: SparkSession, sfDir: String,
                          n: Int = 4, benchMod: Int = 50): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val train = docs.filter(col("doc_id") % benchMod =!= 0)
    val hits = decontaminateFrom(train,
      docs.filter(col("doc_id") % benchMod === 0), n)
    train.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hit_grams").isNotNull, 1L).otherwise(0L))
          .as("n_contaminated"),
        coalesce(sum("n_hit_grams"), lit(0L)).as("n_hit_grams"))
      .withColumn("contaminated_frac",
        round(col("n_contaminated") / col("n_docs").cast("double"), 4))
      .orderBy("source")
  }

  /** DuckDB oracle for [[contaminationReport]] — the decontaminate
    * oracle's CTEs rolled up by source. */
  def contaminationReportOracle(n: Int = 4, benchMod: Int = 50): String =
    s"""WITH w AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents),
          g AS (SELECT doc_id,
                  unnest(list_distinct(
                    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     for i in range(1, len(w) - 2)])) AS gram
                FROM w),
          bench AS (SELECT DISTINCT gram FROM g
                    WHERE doc_id % $benchMod = 0),
          hits AS (SELECT doc_id, count(*) AS n_hit_grams
                   FROM g WHERE doc_id % $benchMod <> 0
                     AND gram IN (SELECT gram FROM bench)
                   GROUP BY 1)
       SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN h.n_hit_grams IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_contaminated,
         CAST(coalesce(sum(h.n_hit_grams), 0) AS BIGINT) AS n_hit_grams,
         round(sum(CASE WHEN h.n_hit_grams IS NOT NULL THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE), 4) AS contaminated_frac
       FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       WHERE d.doc_id % $benchMod <> 0
       GROUP BY d.source ORDER BY d.source"""

  /** §2 #86 — BLOOM-prefiltered decontamination: the runtime-filter
    * shape the exact check (#71) needs at 100 TB. #71 broadcasts the
    * bench gram STRINGS; at a realistic eval-suite size (10^8 grams)
    * that broadcast no longer fits, while an m-bit Bloom bitmap (1 bit
    * per slot, here m/8 bytes total) still does. Train grams probe the
    * broadcast bitmap map-only; only the surviving candidates (true
    * hits + the bounded false-positive tail) reach the exact
    * verify join against the bench grams, which can then be a plain
    * shuffle join. Output: per train doc, candidate grams that passed
    * the bitmap and exactly-verified hit grams (n_hit_grams = #71's
    * answer; n_cand − n_hit = observed false positives).
    *
    * Everything is engine-replayable: positions come from the proven
    * Karp-Rabin string hash via double hashing
    * (`h1 + i·h2 mod m`, Kirsch–Mitzenmacher), so the DuckDB oracle
    * rebuilds the same bitmap bit-for-bit — false positives included. */
  def bloomDecontaminate(spark: SparkSession, sfDir: String, n: Int = 4,
                         benchMod: Int = 50, mBits: Int = 65536): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    bloomDecontaminateFrom(
      docs.filter(col("doc_id") % benchMod =!= 0),
      docs.filter(col("doc_id") % benchMod === 0), n, mBits)
  }

  /** Generic core: Bloom-prefiltered contamination of ANY train corpus
    * against ANY benchmark corpus (both (doc_id, text)). */
  def bloomDecontaminateFrom(train: DataFrame, bench: DataFrame,
                             n: Int = 4, mBits: Int = 65536): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits=$mBits must be a power of two >= 64")
    val spark = train.sparkSession
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.WordShinglesExpr.wordShingles(
        TextShingles.words(col("text")), n)).as("gram"))
    // k=3 probe positions per gram: Kirsch–Mitzenmacher double hashing
    // over the 54-bit KR hash — pure integer arithmetic, so the oracle
    // derives identical positions. `div` keeps the 2^54-scale hash out
    // of double arithmetic (a / would lose low bits past 2^53).
    def withPositions(df: DataFrame): DataFrame = df
      .withColumn("h", graft.functions.KrHashF.krHash(col("gram")))
      .withColumn("h1", pmod(col("h"), lit(mBits.toLong)))
      .withColumn("h2", expr(s"1 + ((h div $mBits) % ${mBits - 1})"))
      .withColumn("p0", col("h1"))
      .withColumn("p1", pmod(col("h1") + col("h2"), lit(mBits.toLong)))
      .withColumn("p2", pmod(col("h1") + col("h2") * 2, lit(mBits.toLong)))
    // the bitmap is MODEL STATE (m/64 longs), not data: built from the
    // small bench side and shipped as a literal, like IVF centroids.
    // The OR-fold happens distributively (bit_or partial-aggregates
    // map-side), so the driver pull is bounded by m/64 word rows —
    // 1024 for the default 65536 bits, ~16M for a 10^9-bit bitmap —
    // never by the (up to mBits) count of distinct set positions.
    val words = new Array[Long](mBits / 64)
    withPositions(grams(bench))
      .select(explode(array(col("p0"), col("p1"), col("p2"))).as("p"))
      .groupBy(expr("p div 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(p % 64 as int)))").as("bits"))
      .collect()
      .foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    val probe = (p: String) =>
      s"((shiftright(element_at(bloom, cast(($p div 64) as int) + 1), " +
        s"cast($p % 64 as int)) & 1) = 1)"
    val cand = withPositions(grams(train))
      .withColumn("bloom", typedLit(words.toSeq))
      .filter(expr(s"${probe("p0")} AND ${probe("p1")} AND ${probe("p2")}"))
      .select(col("doc_id"), col("gram"))
    // exact verify: a plain (shuffle-able) join — deliberately NOT
    // broadcast, because at the scale where the Bloom stage matters the
    // bench gram strings don't broadcast
    val benchGrams = grams(bench).select("gram").distinct()
    cand.join(benchGrams.withColumn("hit", lit(1)), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_cand_grams"),
        count(col("hit")).as("n_hit_grams"))
      .orderBy("doc_id")
  }

  /** §2 #77 — FUZZY decontamination: exact n-gram overlap (#71) misses
    * lightly-edited benchmark leakage, so this flags train docs whose
    * shingle-set Jaccard vs ANY benchmark doc reaches `tau` — the
    * near-dup variant of the decontamination check.
    *
    * Zero new machinery: both corpora union into one frame with a side
    * tag and run the SAME exact prefix-filter set-similarity join the
    * dedup family proved (perfect recall, no O(n²)); only cross-side
    * pairs survive. Output: (doc_id, best_bench_id, j4) per
    * contaminated train doc. */
  def decontaminateFuzzy(spark: SparkSession, sfDir: String,
                         tau: Double = 0.5, benchMod: Int = 50): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    decontaminateFuzzyFrom(
      docs.filter(col("doc_id") % benchMod =!= 0),
      docs.filter(col("doc_id") % benchMod === 0), tau)
  }

  /** Generic core: near-dup contamination of ANY train corpus against
    * ANY benchmark corpus (both (doc_id, text)), non-negative ids.
    * The benchmark side (orders of magnitude smaller) is the PROBE of
    * the asymmetric prefix join [[Dedup.crossPairsFrom]], so only
    * bench×(train ∪ bench) candidates ever materialize — train×train
    * pairs, the bulk of a naive self-join, are never generated. */
  def decontaminateFuzzyFrom(train: DataFrame, bench: DataFrame,
                             tau: Double = 0.5): DataFrame = {
    def sh(df: DataFrame) = df.select(col("doc_id"),
      TextShingles.shingles3(TextShingles.words(col("text"))).as("sh"))
    // bench ids negated: one corpus-wide token order serves both sides
    // and the side of each pair member stays readable from its sign
    val benchTagged = sh(bench)
      .select((-col("doc_id") - 1).as("doc_id"), col("sh"))
    val corpus = sh(train).unionByName(benchTagged)
    Dedup.crossPairsFrom(benchTagged, corpus, tau)
      // id_a ∈ bench (negative); keep train partners only
      .filter(col("id_b") >= 0)
      .select(col("id_b").as("doc_id"),
        (-col("id_a") - 1).as("bench_id"), col("j4"))
      .groupBy("doc_id")
      .agg(max(struct(col("j4"), col("bench_id"))).as("best"))
      .select(col("doc_id"), col("best.bench_id").as("best_bench_id"),
        col("best.j4").as("j4"))
      .orderBy("doc_id")
  }

  /** §2 #72 — document CHUNKING (RAG / training-window prep): fixed
    * `chunkSize`-char windows every `stride` chars (overlap =
    * chunkSize − stride), with per-chunk fingerprints. Start positions
    * run 0, stride, 2·stride … while < length (the final chunk may be
    * short). Map-only explode — no shuffle at all; the orderBy is the
    * presentation contract, not part of the operator. */
  def docChunk(spark: SparkSession, sfDir: String,
               chunkSize: Int = 200, stride: Int = 150): DataFrame =
    chunkFrom(Tables.load(spark, sfDir, "documents"), chunkSize, stride)

  /** Generic core: chunk ANY (doc_id, text) frame. */
  def chunkFrom(docs: DataFrame,
                chunkSize: Int = 200, stride: Int = 150): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"need 0 < stride <= chunkSize, got stride=$stride chunk=$chunkSize")
    docs
      // empty text → zero chunks. Without the guard, Spark's
      // sequence(0, -1) yields a DESCENDING [0, -1] — a latent
      // divergence from the oracle's empty range(0, 0).
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(expr(
          s"sequence(0, cast(floor((length(text) - 1) / $stride) as int))"))
          .as("chunk_ix"))
      .select(col("doc_id"), col("chunk_ix"),
        expr(s"substring(text, chunk_ix * $stride + 1, $chunkSize)")
          .as("chunk"))
      .select(col("doc_id"), col("chunk_ix"),
        length(col("chunk")).as("c_len"),
        sha2(col("chunk").cast("binary"), 256).as("c_sha"))
      .orderBy("doc_id", "chunk_ix")
  }

  /** §2 #73 — MIXTURE sampling: a training-data mixture is an absolute
    * token budget per source; keep each source's documents in
    * deterministic (Knuth-hash) order until the budget is exhausted.
    * Output: per-source kept-doc and kept-token counts.
    *
    * The per-source running total uses the same TWO-PHASE DISTRIBUTED
    * PREFIX SUM as seq_pack: hash-range buckets within each source,
    * per-bucket windows, and driver-held bucket offsets (sources ×
    * nRanges numbers — model state, not data). No per-source global
    * window, which would put an entire source's documents in one
    * partition at 100 TB. */
  def mixtureSample(spark: SparkSession, sfDir: String,
                    budgetTokens: Long = 1000L, nRanges: Int = 8): DataFrame =
    mixtureFrom(Tables.load(spark, sfDir, "documents"), budgetTokens, nRanges)

  /** Generic core: budget ANY (doc_id, source, text) frame. */
  def mixtureFrom(docs: DataFrame,
                  budgetTokens: Long = 1000L, nRanges: Int = 8): DataFrame =
    sourceCum(docs, nRanges)
      .filter(col("cum") <= budgetTokens)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("source")

  /** Shared running-total core of the mixture operators: every doc with
    * its per-source cumulative token count in deterministic Knuth-hash
    * order, via the two-phase distributed prefix sum (hash-range
    * buckets + per-bucket windows + driver-held bucket offsets). */
  private def sourceCum(docs: DataFrame, nRanges: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val spanPerBucket = 4294967296L / nRanges
    val toks = docs
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        // overflow-safe Knuth hash (same values as the naive multiply
        // in its non-overflowing range — see Quality.knuth32)
        Quality.knuth32(col("doc_id")).as("h"))
      .withColumn("bucket", expr(s"cast(h div $spanPerBucket as int)"))
    import spark.implicits._
    val partSums = toks.groupBy("source", "bucket")
      .agg(sum("n_tok").as("psum"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).toSeq
      .flatMap { case (src, rows) =>
        val sorted = rows.sortBy(_._2)
        sorted.map(_._2)
          .zip(sorted.map(_._3).scanLeft(0L)(_ + _))
          .map { case (bucket, off) => (src, bucket, off) }
      }.toSeq.toDF("source", "bucket", "offset")

    val within = Window.partitionBy("source", "bucket").orderBy("h", "doc_id")
    toks.join(broadcast(partSums), Seq("source", "bucket"))
      .withColumn("cum",
        col("offset") + sum("n_tok").over(within))
  }

  /** §2 #120 — TEMPERATURE-scaled mixture: per-source budgets set
    * proportional to share^alpha with alpha = 0.5 (the multilingual
    * re-balancing exponent — upweights tail sources, downweights the
    * head), then the same deterministic Knuth-order selection as
    * [[mixtureFrom]]. alpha is FIXED at 0.5 because sqrt is correctly
    * rounded by IEEE 754 in both engines (pow is not), and the weights
    * are then rounded to integer micro-units so budget arithmetic is
    * pure BIGINT — bit-exact cross-engine with no float-sum order
    * sensitivity.
    *
    * Scale shape: per-source totals = one hash agg (sources × 1 rows);
    * budgets = driver-free BIGINT arithmetic over that tiny frame,
    * broadcast back; selection = the proven two-phase prefix sum. */
  def mixtureTemperature(spark: SparkSession, sfDir: String,
                         budgetTokens: Long = 2000L,
                         nRanges: Int = 8): DataFrame =
    mixtureTemperatureFrom(Tables.load(spark, sfDir, "documents"),
      budgetTokens, nRanges)

  /** Generic core: temperature-budget ANY (doc_id, source, text) frame. */
  def mixtureTemperatureFrom(docs: DataFrame, budgetTokens: Long,
                             nRanges: Int = 8): DataFrame = {
    val cum = sourceCum(docs, nRanges)
    val srcW = cum.groupBy("source")
      .agg(sum("n_tok").as("src_tokens"))
      .withColumn("w6",
        round(sqrt(col("src_tokens").cast("double")) * 1e6).cast("long"))
    val wSum = srcW.agg(sum("w6").as("w_sum"))
    // budget * w6 can exceed int64 for large corpora (w6 ~ sqrt(tokens)
    // * 1e6); multiply in DECIMAL(38,0) so the product is exact in both
    // engines — `div` (integral divide) lands the quotient back in
    // BIGINT, which it always fits (w6 <= w_sum ⇒ quotient <= budget)
    val budgets = srcW.crossJoin(broadcast(wSum))
      .select(col("source"), col("src_tokens"),
        expr(s"(cast(${budgetTokens} as decimal(38,0)) * w6) div w_sum")
          .as("budget_tokens"))
    cum.join(broadcast(budgets), "source")
      .filter(col("cum") <= col("budget_tokens"))
      .groupBy("source", "src_tokens", "budget_tokens")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[mixtureTemperature]]. */
  def mixtureTemperatureOracle(budgetTokens: Long = 2000L): String =
    s"""WITH t AS (SELECT doc_id, source,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_tok,
           ${graft.operators.Quality.knuthSql("doc_id")} AS h
         FROM documents),
        s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens,
                CAST(round(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000)
                  AS BIGINT) AS w6
              FROM t GROUP BY 1),
        w AS (SELECT CAST(sum(w6) AS BIGINT) AS w_sum FROM s),
        b AS (SELECT source, src_tokens,
                CAST((CAST($budgetTokens AS HUGEINT) * w6) // w_sum
                  AS BIGINT) AS budget_tokens
              FROM s, w),
        c AS (SELECT source, n_tok,
                sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id)
                  AS cum
              FROM t)
       SELECT b.source, b.src_tokens, b.budget_tokens,
         count(*) AS n_docs, CAST(sum(c.n_tok) AS BIGINT) AS n_tokens
       FROM c JOIN b USING (source)
       WHERE c.cum <= b.budget_tokens
       GROUP BY 1, 2, 3 ORDER BY 1"""

  /** §2 #78 — mixture UPSAMPLING: the other half of mixture curation —
    * high-value sources are repeated for several epochs (weights > 1)
    * while the rest pass through once. Emits each document
    * `epochs(source)` times with an epoch index and a deterministic
    * interleave position (so the training order is reproducible), and
    * returns the per-source audit: docs in, rows emitted, tokens
    * emitted, and the first interleave position (a witness that the
    * emitted stream, not just arithmetic, was produced).
    *
    * Map-only explode (bounded by max epochs) + one hash agg — the
    * explode multiplies rows BEFORE the aggregate's map-side partial,
    * so nothing amplified ever shuffles. */
  def upsampleMixture(spark: SparkSession, sfDir: String): DataFrame =
    upsampleFrom(Tables.load(spark, sfDir, "documents"),
      Map("src0" -> 3, "src1" -> 3, "src2" -> 2, "src3" -> 2))

  /** Generic core: upsample ANY (doc_id, source, text) frame by
    * per-source epoch counts (missing source → `defaultEpochs`). */
  def upsampleFrom(docs: DataFrame, epochsBySource: Map[String, Int],
                   defaultEpochs: Int = 1): DataFrame = {
    require(defaultEpochs >= 1 && epochsBySource.values.forall(_ >= 1),
      "epoch counts must be >= 1")
    val epochs = epochsBySource.foldLeft(lit(defaultEpochs)) {
      case (acc, (src, n)) => when(col("source") === src, lit(n)).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        epochs.as("epochs"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        explode(sequence(lit(1), col("epochs"))).as("epoch"))
      // deterministic interleave position: Knuth hash of (doc, epoch) —
      // reproducible in any engine, spreads epochs of one doc apart.
      // doc_id is reduced mod 2^32 BEFORE the *31 fold so neither
      // engine's int64 ever overflows (values unchanged in-range:
      // (d*31+e) mod 2^32 == ((d mod 2^32)*31+e) mod 2^32)
      .withColumn("pos",
        Quality.knuth32(
          pmod(pmod(col("doc_id"), lit(4294967296L)) * 31 + col("epoch"),
            lit(4294967296L))))
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_emitted"),
        sum("n_tok").as("tokens_emitted"),
        min("pos").as("first_pos"))
      .orderBy("source")
  }

  /** §2 #74 — TF-IDF top terms per document (the classic corpus term
    * profile): tf = in-doc term count, df = docs containing the term,
    * score = tf · ln((N+1)/(df+1)), top `k` terms per doc by
    * (score desc, term asc). Two hash aggregations + one broadcast of
    * the 1-row corpus count + one per-doc window — each exchange
    * carries (doc, term) pairs, never raw text. */
  def tfidfTopterms(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    tfidfFrom(Tables.load(spark, sfDir, "documents"), k)

  /** Generic core: TF-IDF top terms for ANY (doc_id, text) frame. */
  def tfidfFrom(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col("doc_id"),
      explode(TextShingles.words(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val byScore = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1).cast("double")
          / (col("df") + 1)), 4))
      .withColumn("rk", row_number().over(byScore))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "term")
  }

  /** Generic core: C4-style page/line cleaning (Raffel et al. 2020
    * §2.2) for ANY (doc_id, text) frame whose text is newline-separated
    * lines. A line is KEPT iff it ends in terminal punctuation
    * (`. ! ? "`), has ≥ `minLineWords` words, and does not mention
    * "javascript"; the whole PAGE is dropped if it contains
    * "lorem ipsum" or a curly brace, or fewer than `minKeptLines` lines
    * survive. Output per doc: line counts, the page decision, and the
    * fingerprint of the cleaned text.
    *
    * Entirely map-only (per-row array filters, codegen'd built-ins) —
    * the boilerplate pass rides along with any other corpus scan at
    * 100 TB, which is exactly how C4 itself was produced. */
  def c4CleanFrom(docs: DataFrame, minLineWords: Int = 3,
                  minKeptLines: Int = 3): DataFrame =
    docs
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("kept", expr(
        s"""filter(lines, l -> right(l, 1) IN ('.', '!', '?', '"')
              AND size(split(l, ' ')) >= $minLineWords
              AND NOT contains(lower(l), 'javascript'))"""))
      .select(col("doc_id"),
        size(col("lines")).as("n_lines"),
        size(col("kept")).as("n_kept"),
        (lower(col("text")).contains("lorem ipsum")
          || col("text").contains("{")
          || size(col("kept")) < minKeptLines).as("page_drop"),
        sha2(array_join(col("kept"), "\n").cast("binary"), 256)
          .as("kept_sha"))
      .orderBy("doc_id")

  /** §2 #92 — C4 cleaning over the fixture corpus. The synthetic docs
    * are single-line word salad, so (pii_scrub's stance) a
    * deterministic page structure is synthesized FIRST — words chunked
    * into 8-word sentences, 1 in 3 left without terminal punctuation,
    * "javascript"/"lorem ipsum"/brace content planted on fixed doc_id
    * slices — identically in both engines; the C4 rules then have real
    * work whose per-line decisions both engines must agree on. */
  def c4Clean(spark: SparkSession, sfDir: String): DataFrame = {
    val page = expr(
      """array_join(concat(
           transform(
             sequence(0, greatest(1, (size(split(text, ' ')) + 7) div 8) - 1),
             i -> concat(
               array_join(slice(split(text, ' '), i * 8 + 1, 8), ' '),
               if(i = 0 and doc_id % 11 = 0, ' javascript', ''),
               if(i = greatest(1, (size(split(text, ' ')) + 7) div 8) - 1
                  and doc_id % 17 = 0, ' {', ''),
               if((doc_id + i) % 3 = 2, '', '.'))),
           if(doc_id % 13 = 0, array('lorem ipsum.'),
              cast(array() as array<string>))),
         '\n')""")
    c4CleanFrom(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), page.as("text")))
  }

  /** DuckDB oracle for [[c4Clean]]: the page synthesis and every line
    * rule replayed with list comprehensions (chr(10) = the engine's
    * '\n'; single-space splits agree because the synthesis only ever
    * joins with single spaces). */
  def c4Oracle(minLineWords: Int = 3, minKeptLines: Int = 3): String =
    s"""WITH pages AS (
          SELECT doc_id,
            list_transform(range(0, nS), i ->
              array_to_string(ws[i*8+1 : i*8+8], ' ') ||
              CASE WHEN i = 0 AND doc_id % 11 = 0
                   THEN ' javascript' ELSE '' END ||
              CASE WHEN i = nS - 1 AND doc_id % 17 = 0
                   THEN ' {' ELSE '' END ||
              CASE WHEN (doc_id + i) % 3 = 2 THEN '' ELSE '.' END)
            || CASE WHEN doc_id % 13 = 0 THEN ['lorem ipsum.']
                    ELSE [] END AS lines
          FROM (SELECT doc_id, string_split(text, ' ') AS ws,
                  greatest(1,
                    (len(string_split(text, ' ')) + 7) // 8) AS nS
                FROM documents)),
        cleaned AS (
          SELECT doc_id, lines,
            list_filter(lines, l ->
              right(l, 1) IN ('.', '!', '?', '"')
              AND len(string_split(l, ' ')) >= $minLineWords
              AND NOT contains(lower(l), 'javascript')) AS kept,
            array_to_string(lines, chr(10)) AS full_text
          FROM pages)
        SELECT doc_id,
          CAST(len(lines) AS INTEGER) AS n_lines,
          CAST(len(kept) AS INTEGER) AS n_kept,
          (contains(lower(full_text), 'lorem ipsum')
            OR contains(full_text, '{')
            OR len(kept) < $minKeptLines) AS page_drop,
          sha256(coalesce(array_to_string(kept, chr(10)), '')) AS kept_sha
        FROM cleaned ORDER BY doc_id"""

  /** Generic core: GOPHER QUALITY RULES (Rae et al. 2021, Appendix
    * A.1.1) for ANY (doc_id, text) frame — the published document-level
    * filter battery that complements [[c4CleanFrom]]'s line-level rules:
    * word count in [minWords, maxWords] (empty tokens from blank lines
    * or space runs are not words), mean word length in
    * [minMeanLen, maxMeanLen], per-symbol symbol-to-word ratio ≤
    * maxSymbolRatio for EACH of `#` and the ellipsis (`...`/`…`)
    * separately — the paper's "either the hash symbol or the
    * ellipsis", so the reported sym_ratio is the binding max of the
    * two — bullet-started (`- `/`* `/`•`) line fraction ≤
    * maxBulletRatio, ellipsis-ended (`...`/`…`) line fraction ≤
    * maxEllipsisRatio, fraction of words containing an alphabetic
    * character (either case — acronyms and 'I' count) ≥ minAlphaRatio,
    * and ≥ minStopHits of the 8 published stop words present
    * (case-insensitive: 'The' counts). Output per doc: every metric
    * (ratios rounded to 4 dp for display) plus the composite `keep`
    * decision computed on the UNROUNDED values.
    *
    * Determinism: every ratio is an integer/integer division (counts
    * and lengths), so the doubles are identical in any engine; the
    * stop-word count is a membership filter over the FIXED 8-word list
    * (not an intersect — dedup semantics stay engine-independent).
    *
    * Entirely map-only (per-row array filters and folds, codegen'd
    * built-ins) — like C4, the battery rides along with any other
    * corpus scan at 100 TB; no shuffle, no model state. */
  def gopherQualityFrom(docs: DataFrame,
                        minWords: Int = 50, maxWords: Int = 100000,
                        minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                        maxSymbolRatio: Double = 0.1,
                        maxBulletRatio: Double = 0.9,
                        maxEllipsisRatio: Double = 0.3,
                        minAlphaRatio: Double = 0.8,
                        minStopHits: Int = 2): DataFrame =
    gopherMetrics(docs, minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, maxBulletRatio, maxEllipsisRatio, minAlphaRatio,
      minStopHits)
      .orderBy("doc_id")

  /** [[gopherQualityFrom]] without the final sort — the streaming-safe
    * core (map-only, so it runs unchanged on a streaming frame). */
  private[graft] def gopherMetrics(docs: DataFrame,
                                   minWords: Int = 50,
                                   maxWords: Int = 100000,
                                   minMeanLen: Double = 3.0,
                                   maxMeanLen: Double = 10.0,
                                   maxSymbolRatio: Double = 0.1,
                                   maxBulletRatio: Double = 0.9,
                                   maxEllipsisRatio: Double = 0.3,
                                   minAlphaRatio: Double = 0.8,
                                   minStopHits: Int = 2): DataFrame =
    gopherFlags(docs, minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, maxBulletRatio, maxEllipsisRatio, minAlphaRatio,
      minStopHits)
      .drop("f_words", "f_mean", "f_sym", "f_bullet", "f_ellipsis",
        "f_alpha", "f_stop")

  /** [[gopherMetrics]] plus the per-rule fail flags — the shared core
    * the attribution report ([[gopherReportFrom]]) aggregates, so a
    * rule's report row can never disagree with the battery's keep
    * decision (keep == NOT any flag, by construction). */
  private[graft] def gopherFlags(docs: DataFrame,
                                   minWords: Int = 50,
                                   maxWords: Int = 100000,
                                   minMeanLen: Double = 3.0,
                                   maxMeanLen: Double = 10.0,
                                   maxSymbolRatio: Double = 0.1,
                                   maxBulletRatio: Double = 0.9,
                                   maxEllipsisRatio: Double = 0.3,
                                   minAlphaRatio: Double = 0.8,
                                   minStopHits: Int = 2): DataFrame =
    docs
      .withColumn("lines", split(col("text"), "\n"))
      // empty tokens (blank lines, runs of spaces) are NOT words —
      // they'd inflate n_words and drag mean_wlen toward the floor
      .withColumn("words",
        expr("""filter(flatten(transform(lines, l -> split(l, ' '))),
                       w -> w <> '')"""))
      .withColumn("n_words", size(col("words")))
      .withColumn("n_lines", size(col("lines")))
      // empty-doc guard (ADVICE-r18): a whitespace-only page has
      // n_words = 0 — the per-word ratios are DEFINED as 0.0 there
      // (not a NULL-producing 0/0) and f_words is forced below, so
      // keep is a real boolean on every row in both engines
      .withColumn("mean_wlen",
        when(col("n_words") === 0, lit(0.0)).otherwise(expr(
          """CAST(aggregate(transform(words, w -> length(w)), 0L,
               (a, b) -> a + b) AS DOUBLE)""") / col("n_words")))
      // the paper applies the threshold to EACH symbol separately
      // ("either the hash symbol or the ellipsis"), so the binding
      // ratio is the max of the two — flag(max) == flag(either)
      .withColumn("sym_ratio",
        when(col("n_words") === 0, lit(0.0)).otherwise(greatest(
          expr("""CAST(length(text) - length(replace(text, '#', ''))
                AS DOUBLE)""") / col("n_words"),
          expr("""CAST((length(text) - length(replace(text, '...', ''))) div 3
                + (length(text) - length(replace(text, '…', '')))
                AS DOUBLE)""") / col("n_words"))))
      .withColumn("bullet_ratio", expr(
        """CAST(size(filter(lines, l -> substring(l, 1, 2) IN ('- ', '* ')
                                     OR substring(l, 1, 1) = '•'))
           AS DOUBLE)""")
        / col("n_lines"))
      .withColumn("ellipsis_ratio", expr(
        """CAST(size(filter(lines, l -> right(l, 3) = '...'
                                     OR right(l, 1) = '…')) AS DOUBLE)""")
        / col("n_lines"))
      // "contains an alphabetic character" — either case (acronyms,
      // 'I', headings are words too)
      .withColumn("alpha_ratio",
        when(col("n_words") === 0, lit(0.0)).otherwise(expr(
          "CAST(size(filter(words, w -> w rlike '[a-zA-Z]')) AS DOUBLE)")
          / col("n_words")))
      // stop-word hit is case-insensitive ('The', 'AND' count); the
      // lowered array is hoisted to its own column so the corpus-scale
      // pass lowercases each document ONCE, not once per stop word
      .withColumn("words_lc", expr("transform(words, w -> lower(w))"))
      .withColumn("n_stop", expr(
        """size(filter(array('the','be','to','of','and','that','have','with'),
             s -> array_contains(words_lc, s)))"""))
      .withColumn("f_words", col("n_words") === 0 ||
        !(col("n_words") >= minWords && col("n_words") <= maxWords))
      .withColumn("f_mean",
        !(col("mean_wlen") >= minMeanLen && col("mean_wlen") <= maxMeanLen))
      .withColumn("f_sym", col("sym_ratio") > maxSymbolRatio)
      .withColumn("f_bullet", col("bullet_ratio") > maxBulletRatio)
      .withColumn("f_ellipsis", col("ellipsis_ratio") > maxEllipsisRatio)
      .withColumn("f_alpha", col("alpha_ratio") < minAlphaRatio)
      .withColumn("f_stop", col("n_stop") < minStopHits)
      .select(col("doc_id"), col("n_words"), col("n_lines"),
        round(col("mean_wlen"), 4).as("mean_wlen4"),
        round(col("sym_ratio"), 4).as("sym_ratio4"),
        round(col("bullet_ratio"), 4).as("bullet_ratio4"),
        round(col("ellipsis_ratio"), 4).as("ellipsis_ratio4"),
        round(col("alpha_ratio"), 4).as("alpha_ratio4"),
        col("n_stop"),
        (!(col("f_words") || col("f_mean") || col("f_sym")
          || col("f_bullet") || col("f_ellipsis") || col("f_alpha")
          || col("f_stop"))).as("keep"),
        col("f_words"), col("f_mean"), col("f_sym"), col("f_bullet"),
        col("f_ellipsis"), col("f_alpha"), col("f_stop"))

  /** §2 #235 — Gopher quality battery over the fixture corpus. The
    * synthetic docs are single-line word salad (c4_clean's situation),
    * so the same deterministic page synthesis stance applies: words
    * chunked into 10-word lines, bullets / hash symbols / ellipses /
    * a stop-word tail planted on fixed (doc_id, line) slices —
    * identically in both engines — so every rule in the battery has
    * real work and both keep outcomes occur at sf0.01. */
  def gopherQuality(spark: SparkSession, sfDir: String): DataFrame =
    gopherQualityFrom(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), gopherFixturePage.as("text")))

  /** The fixture page synthesis (shared by #235 and #239): words
    * chunked into 10-word lines, bullets / hash symbols / ellipses /
    * a stop-word tail planted on fixed (doc_id, line) slices. */
  private def gopherFixturePage =
    expr(
      """array_join(
           transform(
             sequence(0, greatest(1, (size(split(text, ' ')) + 9) div 10) - 1),
             i -> concat(
               if((doc_id + i) % 5 = 4, '- ', ''),
               array_join(slice(split(text, ' '), i * 10 + 1, 10), ' '),
               if(i = 0 and doc_id % 7 = 0, ' ##', ''),
               if(i = 0 and doc_id % 3 = 0, ' and of that', ''),
               if((doc_id + i) % 4 = 3, '...', ''))),
         '\n')""")

  /** Generic core: GOPHER RULE ATTRIBUTION for ANY (doc_id, text)
    * frame — per rule, how many documents fail it (`n_fail`), how many
    * fail ONLY it (`n_exclusive` — the docs that rule alone costs you),
    * and the failure share. The tuning table for the battery: a rule
    * with a large exclusive count is the knob to revisit before
    * shipping the gate, a rule with zero exclusive failures is
    * subsumed by the others on this corpus — the measured answer to
    * "which threshold is doing the cutting", same doctrine as
    * dedup_threshold_sweep for the dedup gate. Flags come from
    * [[gopherFlags]], the SAME expressions the keep decision uses, so
    * the report can never disagree with the battery.
    *
    * Scale shape: one map-only flags pass + a 7-way per-row explode of
    * BOOLEANS (7 rows per doc, not 7 scans) + one hash agg over 7
    * groups. */
  def gopherReportFrom(docs: DataFrame,
                       minWords: Int = 50, maxWords: Int = 100000,
                       minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                       maxSymbolRatio: Double = 0.1,
                       maxBulletRatio: Double = 0.9,
                       maxEllipsisRatio: Double = 0.3,
                       minAlphaRatio: Double = 0.8,
                       minStopHits: Int = 2): DataFrame = {
    val rules = Seq(
      "alpha_words" -> "f_alpha", "bullet_lines" -> "f_bullet",
      "ellipsis_lines" -> "f_ellipsis", "mean_word_len" -> "f_mean",
      "stop_words" -> "f_stop", "symbol_ratio" -> "f_sym",
      "word_count" -> "f_words")
    gopherFlags(docs, minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, maxBulletRatio, maxEllipsisRatio, minAlphaRatio,
      minStopHits)
      .withColumn("nf", rules.map { case (_, c) =>
        col(c).cast("int") }.reduceLeft(_ + _))
      .select(col("nf"), explode(array(rules.map { case (n, c) =>
        struct(lit(n).as("rule"), col(c).as("fail")) }: _*)).as("r"))
      .groupBy(col("r.rule").as("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r.fail").cast("long")).as("n_fail"),
        sum((col("r.fail") && col("nf") === 1).cast("long"))
          .as("n_exclusive"))
      .select(col("rule"), col("n_fail"), col("n_exclusive"),
        round(col("n_fail").cast("double") / col("n_docs"), 4)
          .as("fail_share4"))
      .orderBy("rule")
  }

  /** §2 #239 — Gopher rule attribution over the fixture corpus (the
    * same deterministic page synthesis as #235). */
  def gopherReport(spark: SparkSession, sfDir: String): DataFrame =
    gopherReportFrom(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), gopherFixturePage.as("text")))

  /** DuckDB oracle for [[gopherReport]]: the #235 replay's metric CTE
    * extended with the same per-rule flags, one UNION ALL branch per
    * rule. */
  def gopherReportOracle(minWords: Int = 50, maxWords: Int = 100000,
                         minMeanLen: Double = 3.0,
                         maxMeanLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1,
                         maxBulletRatio: Double = 0.9,
                         maxEllipsisRatio: Double = 0.3,
                         minAlphaRatio: Double = 0.8,
                         minStopHits: Int = 2): String = {
    val rules = Seq(
      "alpha_words" -> s"(alpha_ratio < $minAlphaRatio)",
      "bullet_lines" -> s"(bullet_ratio > $maxBulletRatio)",
      "ellipsis_lines" -> s"(ellipsis_ratio > $maxEllipsisRatio)",
      "mean_word_len" ->
        s"(NOT (mean_wlen >= $minMeanLen AND mean_wlen <= $maxMeanLen))",
      "stop_words" -> s"(n_stop < $minStopHits)",
      "symbol_ratio" -> s"(sym_ratio > $maxSymbolRatio)",
      "word_count" ->
        s"(n_words = 0 OR NOT (n_words >= $minWords AND n_words <= $maxWords))")
    val flagCols = rules.zipWithIndex.map { case ((_, e), i) =>
      s"$e AS f$i" }.mkString(", ")
    val nf = rules.indices.map(i => s"CAST(f$i AS INT)").mkString(" + ")
    val branches = rules.zipWithIndex.map { case ((name, _), i) =>
      s"""SELECT '$name' AS rule,
            CAST(sum(CASE WHEN f$i THEN 1 ELSE 0 END) AS BIGINT)
              AS n_fail,
            CAST(sum(CASE WHEN f$i AND nf = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exclusive,
            round(sum(CASE WHEN f$i THEN 1 ELSE 0 END)
                  / CAST(count(*) AS DOUBLE), 4) AS fail_share4
          FROM nf"""
    }.mkString(" UNION ALL ")
    s"""WITH ${gopherPagesCte()},
        flags AS (SELECT doc_id, $flagCols FROM met),
        nf AS (SELECT *, ($nf) AS nf FROM flags)
        SELECT rule, n_fail, n_exclusive, fail_share4
        FROM ($branches) ORDER BY rule"""
  }

  /** DuckDB oracle for [[gopherQuality]]: the page synthesis and every
    * rule replayed with list comprehensions; all ratios are int/int
    * divisions so the unrounded keep-decision doubles agree exactly. */
  /** The #235/#239 oracle's shared CTE chain: the fixture page
    * synthesis + per-doc metric computation, ONE definition so the
    * report's flags can never drift from the battery's replay. */
  private def gopherPagesCte(): String =
    """pages AS (
          SELECT doc_id,
            list_transform(range(0, nL), i ->
              CASE WHEN (doc_id + i) % 5 = 4 THEN '- ' ELSE '' END ||
              array_to_string(ws[i*10+1 : i*10+10], ' ') ||
              CASE WHEN i = 0 AND doc_id % 7 = 0 THEN ' ##' ELSE '' END ||
              CASE WHEN i = 0 AND doc_id % 3 = 0
                   THEN ' and of that' ELSE '' END ||
              CASE WHEN (doc_id + i) % 4 = 3 THEN '...' ELSE '' END)
              AS lines
          FROM (SELECT doc_id, string_split(text, ' ') AS ws,
                  greatest(1,
                    (len(string_split(text, ' ')) + 9) // 10) AS nL
                FROM documents)),
        base AS (
          SELECT doc_id, lines,
            list_filter(
              flatten(list_transform(lines, l -> string_split(l, ' '))),
              w -> w <> '') AS words,
            array_to_string(lines, chr(10)) AS t
          FROM pages),
        met AS (
          SELECT doc_id,
            len(words) AS n_words, len(lines) AS n_lines,
            CASE WHEN len(words) = 0 THEN 0.0 ELSE
              CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
                / len(words) END AS mean_wlen,
            CASE WHEN len(words) = 0 THEN 0.0 ELSE greatest(
              CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE)
                / len(words),
              CAST((length(t) - length(replace(t, '...', ''))) // 3
                 + (length(t) - length(replace(t, '…', ''))) AS DOUBLE)
                / len(words)) END AS sym_ratio,
            CAST(len(list_filter(lines,
                   l -> l[1:2] IN ('- ', '* ') OR l[1:1] = '•'))
                 AS DOUBLE) / len(lines) AS bullet_ratio,
            CAST(len(list_filter(lines,
                   l -> right(l, 3) = '...' OR right(l, 1) = '…'))
                 AS DOUBLE) / len(lines) AS ellipsis_ratio,
            CASE WHEN len(words) = 0 THEN 0.0 ELSE
              CAST(len(list_filter(words,
                     w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                / len(words) END AS alpha_ratio,
            len(list_filter(
              ['the','be','to','of','and','that','have','with'],
              s -> list_contains(list_transform(words, w -> lower(w)), s)))
              AS n_stop
          FROM base)"""

  def gopherQualityOracle(minWords: Int = 50, maxWords: Int = 100000,
                          minMeanLen: Double = 3.0,
                          maxMeanLen: Double = 10.0,
                          maxSymbolRatio: Double = 0.1,
                          maxBulletRatio: Double = 0.9,
                          maxEllipsisRatio: Double = 0.3,
                          minAlphaRatio: Double = 0.8,
                          minStopHits: Int = 2): String =
    s"""WITH ${gopherPagesCte()}
        SELECT doc_id,
          CAST(n_words AS INTEGER) AS n_words,
          CAST(n_lines AS INTEGER) AS n_lines,
          round(mean_wlen, 4) AS mean_wlen4,
          round(sym_ratio, 4) AS sym_ratio4,
          round(bullet_ratio, 4) AS bullet_ratio4,
          round(ellipsis_ratio, 4) AS ellipsis_ratio4,
          round(alpha_ratio, 4) AS alpha_ratio4,
          CAST(n_stop AS INTEGER) AS n_stop,
          (n_words > 0
            AND n_words >= $minWords AND n_words <= $maxWords
            AND mean_wlen >= $minMeanLen AND mean_wlen <= $maxMeanLen
            AND sym_ratio <= $maxSymbolRatio
            AND bullet_ratio <= $maxBulletRatio
            AND ellipsis_ratio <= $maxEllipsisRatio
            AND alpha_ratio >= $minAlphaRatio
            AND n_stop >= $minStopHits) AS keep
        FROM met ORDER BY doc_id"""

  /** Generic core: BM25 KEYWORD RETRIEVAL over ANY (doc_id, text)
    * frame for a fixed bag of query terms (Robertson–Spärck Jones
    * idf, k1/b saturation) — the lexical-search half of every corpus
    * exploration / eval-set retrieval tool, and the classic sparse
    * leg of a hybrid (BM25 + ANN) retriever.
    *
    * Determinism: idf and the per-term saturation are computed with
    * one explicitly parenthesized double expression per term, summed
    * left-to-right in term order, rounded to 4 dp BEFORE the
    * (score desc, doc_id) top-k order — exact cross-engine.
    *
    * Scale shape: per-term tf is a map-only array count; df and
    * (sum dl, count) are two tiny aggregates broadcast back (model
    * state, like IVF centroids); the top-k is TakeOrderedAndProject —
    * per-partition heaps, no global sort. One corpus scan total. */
  def bm25SearchFrom(docs: DataFrame, terms: Seq[String], k: Int = 20,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      "terms must be lowercase word tokens")
    val base = docs.select(col("doc_id"),
      TextShingles.words(col("text")).as("w"))
      .select(col("doc_id") +: size(col("w")).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          expr(s"size(filter(w, x -> x = '$t'))").cast("long").as(s"tf_$i")
        }: _*)
    // corpus stats: N + per-term df in ONE aggregate row, broadcast
    val aggCols = count(lit(1)).as("n_docs") +: sum("dl").as("sum_dl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
      .withColumn("score", round(terms.indices.map { i =>
        val idf = log(lit(1.0) + (col("n_docs") - col(s"df_$i") + lit(0.5))
          / (col(s"df_$i") + lit(0.5)))
        val sat = (col(s"tf_$i").cast("double") * (lit(k1) + lit(1.0))) /
          (col(s"tf_$i") + lit(k1) * (lit(1.0) - lit(b)
            + lit(b) * (col("dl") / (col("sum_dl").cast("double") / col("n_docs")))))
        idf * sat
      }.reduce(_ + _), 4))
    scored
      .select(col("doc_id") +: col("dl") +:
        terms.indices.map(i => col(s"tf_$i")) :+ col("score"): _*)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** §2 #109 — BM25 retrieval over the fixture corpus for a fixed
    * 3-term query. */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame =
    bm25SearchFrom(Tables.load(spark, sfDir, "documents"),
      Seq("data", "filter", "join"))

  /** DuckDB oracle for [[bm25Search]]: the shared body plus this
    * oracle's own top-k order — the fusion replay appends its own
    * instead ([[rrfOracleOver]]), so neither depends on string-editing
    * the other's ORDER BY (ADVICE-r18). */
  def bm25Oracle(terms: Seq[String] = Seq("data", "filter", "join"),
                 k: Int = 20, k1: Double = 1.2, b: Double = 0.75): String =
    s"""${bm25OracleBody(terms, k1, b)}
       ORDER BY score DESC, doc_id LIMIT $k"""

  /** The BM25 replay WITHOUT the final sort: CTE chain + unsorted
    * scored SELECT over every document. */
  private def bm25OracleBody(terms: Seq[String] = Seq("data", "filter",
                               "join"),
                             k1: Double = 1.2, b: Double = 0.75): String = {
    val tf = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(", ")
    val df = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
      .mkString(", ")
    val score = terms.indices.map(i =>
      s"(ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) * " +
        s"((CAST(tf_$i AS DOUBLE) * ($k1 + 1.0)) / " +
        s"(tf_$i + $k1 * ((1.0 - $b) + $b * " +
        s"(dl / (CAST(sum_dl AS DOUBLE) / n_docs))))))")
      .mkString(" + ")
    val tfCols = terms.indices.map(i => s"tf_$i").mkString(", ")
    s"""WITH base AS (SELECT doc_id,
            CAST(len(w) AS BIGINT) AS dl, $tf
          FROM (SELECT doc_id,
                  string_split_regex(trim(lower(text)), '\\s+') AS w
                FROM documents)),
        stats AS (SELECT count(*) AS n_docs,
            CAST(sum(dl) AS BIGINT) AS sum_dl, $df FROM base)
       SELECT doc_id, dl, $tfCols, round($score, 4) AS score
       FROM base, stats"""
  }

  /** BM25 CORPUS-STATISTICS ARTIFACT (VERDICT-r18 #1, the
    * [[Similarity.ivfIndexToDir]] / [[TextAnalysis.bpeRulesToDir]]
    * doctrine applied to the lexical leg): ONE corpus pass lands
    *  - `postings/` — (term, doc_id, tf, dl): the #111 inverted-index
    *    row shape with the doc-length norm DENORMALIZED onto each
    *    posting, so scoring a query never joins back to corpus-scale
    *    doc metadata. Rows are repartitioned by term and sorted within
    *    partitions by (term, doc_id): a query's `term IN (...)` pushes
    *    into the parquet scan and row-group min/max stats prune
    *    everything but the touched terms' lists.
    *  - `meta/` — the 1-row (n_docs, sum_dl) scalars (avgdl =
    *    sum_dl / n_docs; per-term df is the probed postings' own
    *    count, never stored stale).
    *  - a `_bm25_version` root marker, written LAST: a crashed build
    *    leaves no marker and [[bm25FromIndex]] refuses loudly.
    * After this, every lexical query — batch, fusion leg, stream —
    * reads ONLY the query terms' posting rows + one meta row: the
    * production fusion touches no corpus-scale data at query time. */
  def bm25StatsToDir(spark: SparkSession, sfDir: String,
                     dir: String): Unit =
    bm25StatsBuild(spark, Tables.load(spark, sfDir, "documents"), dir)

  /** [[bm25StatsToDir]] over an explicit (doc_id, text) frame. */
  def bm25StatsBuild(spark: SparkSession, docs: DataFrame,
                     dir: String): Unit = {
    writeBm25Unit(spark, docs, s"$dir/postings", s"$dir/meta")
    graft.streaming.StreamIO.writeMarker(dir, "_bm25_version", 1L,
      spark.sparkContext.hadoopConfiguration)
  }

  /** One (postings, meta) unit — the SINGLE transform pipeline the
    * base build and every delta append share, so the two paths cannot
    * drift (append == rebuild is the operator's oracle-checked
    * invariant). ONE tokenizing corpus pass total: the meta scalars
    * are derived from the postings JUST WRITTEN (every document owns
    * ≥ 1 posting row — an all-whitespace page contributes the empty
    * term — and carries its dl on each, so distinct (doc_id, dl) is
    * exactly the document table), a compressed-artifact read instead
    * of a second tokenize scan. Meta lands AFTER postings: for a
    * delta batch the meta row IS the commit record the readers key on
    * ([[readBm25Postings]]), so a crash between the two writes leaves
    * an invisible delta, never a torn one. */
  private def writeBm25Unit(spark: SparkSession, docs: DataFrame,
                            postingsPath: String,
                            metaPath: String): Unit = {
    docs.select(col("doc_id"), TextShingles.words(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "dl", "tf")
      .repartition(col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(postingsPath)
    spark.read.parquet(postingsPath)
      .select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(metaPath)
  }

  /** INCREMENTAL BM25 stats maintenance — the [[Similarity.ivfIndexAppend]]
    * doctrine applied to the lexical artifact: a delta batch of NEW
    * documents (ids disjoint from the base, the same contract as the
    * IVF append) lands its postings and its 1-row meta increment as the
    * batch's own `batch_id=N` subtrees, so the maintained artifact
    * serves EXACTLY like a full rebuild over the combined corpus
    * (postings key on (term, doc_id) — base×base rows are untouched by
    * new documents; CurationSpec proves the set equality). Replay of a
    * batch OVERWRITES its own subtree (the [[graft.streaming.StreamPairs]]
    * stance), so the continuous maintainer
    * ([[graft.streaming.StreamBm25Index]]) is exactly-once under
    * foreachBatch's at-least-once replay. Per-batch cost ∝ increment:
    * one pass over the delta documents; nothing of the base postings
    * is read or rewritten. */
  def bm25StatsAppend(spark: SparkSession, dir: String, docs: DataFrame,
                      batchId: Long = 0L): Unit = {
    require(graft.streaming.StreamIO.readMarker(dir, "_bm25_version",
      spark.sparkContext.hadoopConfiguration).nonEmpty,
      s"no BM25 stats artifact at $dir — run bm25StatsToDir first")
    if (docs.isEmpty) return
    writeBm25Unit(spark, docs, s"$dir/stream/batch_id=$batchId",
      s"$dir/meta_stream/batch_id=$batchId")
  }

  /** The artifact's postings: base build plus every COMMITTED
    * `stream/batch_id=N` delta (the [[Similarity.readIvfAssigned]]
    * stance) — serving sees continuously-ingested documents with no
    * code change. A batch is committed iff its meta increment landed
    * ([[writeBm25Unit]] writes meta LAST): a crash between the two
    * writes leaves a postings subtree the readers EXCLUDE, so the
    * served idf/avgdl can never disagree with the served postings. */
  private def readBm25Postings(spark: SparkSession,
                               dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/postings")
    val committed = batchIdsUnder(spark, s"$dir/meta_stream")
    unionDeltas(spark, base, s"$dir/stream", committed)
  }

  /** The artifact's corpus scalars: every landed meta row (base + one
    * per committed delta batch) SUMMED at read — an append never
    * rewrites the base meta, and the sum is exact (integers). */
  private def readBm25Meta(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/meta")
    unionDeltas(spark, base, s"$dir/meta_stream",
      batchIdsUnder(spark, s"$dir/meta_stream"))
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
  }

  /** The `batch_id=N` values present under a delta root (bounded by
    * batch count — maintainer metadata, not data). */
  private def batchIdsUnder(spark: SparkSession,
                            deltaRoot: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(deltaRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
  }

  /** base ∪ the delta root's subtrees for the given COMMITTED batch
    * ids (column-aligned; no committed batches = base alone — a
    * fileless root would trip parquet schema inference). */
  private def unionDeltas(spark: SparkSession, base: DataFrame,
                          deltaRoot: String,
                          committed: Seq[Long]): DataFrame =
    if (committed.isEmpty) base
    else {
      val present = batchIdsUnder(spark, deltaRoot)
        .filter(committed.toSet)
      if (present.isEmpty) base
      else base.unionByName(spark.read.parquet(deltaRoot)
        .filter(col("batch_id").isin(present: _*))
        .select(base.columns.map(col).toSeq: _*))
    }

  /** BM25 SERVED FROM THE ARTIFACT: identical output to
    * [[bm25SearchFrom]] on any query whose top-k all contain at least
    * one query term (CurationSpec pins the fixture equality) — but the
    * only corpus-scale input is the pruned postings scan. A document
    * containing NONE of the query terms scores 0 in the brute form and
    * simply has no posting row here (standard disjunctive-query
    * semantics): the served list never manufactures score-0 filler.
    *
    * Arithmetic is the brute form's exactly — same fixed term order,
    * same parenthesization, absent terms contribute +0.0 (which is
    * exact in IEEE) — so matched rows carry bit-identical scores.
    *
    * Scale shape: scan postings WHERE term IN (query) (pushed to
    * parquet, row-groups pruned by the term sort), pivot to the
    * fixed tf_i columns in ONE hash aggregate keyed by doc, broadcast
    * the 1-row meta × per-term df (tiny agg over the pruned scan), and
    * TakeOrderedAndProject the top-k. */
  def bm25FromIndex(spark: SparkSession, dir: String, terms: Seq[String],
                    k: Int = 20, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      "terms must be lowercase word tokens")
    require(graft.streaming.StreamIO.readMarker(dir, "_bm25_version",
      spark.sparkContext.hadoopConfiguration).nonEmpty,
      s"no BM25 stats artifact at $dir — run bm25StatsToDir first " +
        "(a missing _bm25_version marker also means a build crashed " +
        "mid-write; rebuild)")
    val meta = readBm25Meta(spark, dir)
    val posts = readBm25Postings(spark, dir)
      .filter(col("term").isin(terms: _*))
    // per-term df off the pruned scan (exact: one posting row per
    // (term, doc) pair), pivoted into the brute form's df_i columns
    val dfAgg = posts.groupBy().pivot("term", terms)
      .agg(count(lit(1)))
      .select(terms.zipWithIndex.map { case (t, i) =>
        coalesce(col(s"`$t`"), lit(0L)).as(s"df_$i") }: _*)
    val perDoc = posts.groupBy("doc_id", "dl")
      .pivot("term", terms).agg(sum("tf"))
      .select(col("doc_id") +: col("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          coalesce(col(s"`$t`"), lit(0L)).as(s"tf_$i") }: _*)
    val scored = perDoc
      .crossJoin(broadcast(meta.crossJoin(dfAgg)))
      .withColumn("score", round(terms.indices.map { i =>
        val idf = log(lit(1.0) + (col("n_docs") - col(s"df_$i") + lit(0.5))
          / (col(s"df_$i") + lit(0.5)))
        val sat = (col(s"tf_$i").cast("double") * (lit(k1) + lit(1.0))) /
          (col(s"tf_$i") + lit(k1) * (lit(1.0) - lit(b)
            + lit(b) * (col("dl") / (col("sum_dl").cast("double") / col("n_docs")))))
        idf * sat
      }.reduce(_ + _), 4))
    scored
      .select(col("doc_id") +: col("dl") +:
        terms.indices.map(i => col(s"tf_$i")) :+ col("score"): _*)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Per-session registry of BM25 stats artifacts (one corpus pass per
    * sfDir per JVM — the [[Dedup.sharedVerifiedPairsDir]] pattern). */
  private val sharedBm25Dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val bm25Ns = java.util.UUID.randomUUID().toString
  def sharedBm25StatsDir(spark: SparkSession, sfDir: String): String =
    sharedBm25Dirs.computeIfAbsent(sfDir, { _ =>
      val dir = ExportImport.scratch(
        s"bm25-stats/$bm25Ns/${ExportImport.pathSlug(sfDir)}")
      bm25StatsToDir(spark, sfDir, dir)
      dir
    })

  /** §2 #248 — BM25 IN ITS SERVING FORM: the #109 query served from
    * the session-shared stats artifact. Equal to [[bm25Search]] on the
    * fixture (every top-20 doc contains a query term — CurationSpec
    * pins the frame equality), priced as build-once + pruned probe. */
  def bm25Indexed(spark: SparkSession, sfDir: String): DataFrame =
    bm25FromIndex(spark, sharedBm25StatsDir(spark, sfDir),
      Seq("data", "filter", "join"))

  /** §2 #252 — INCREMENTAL BM25 MAINTENANCE end-to-end: build the
    * stats artifact on the base slice (doc_id % 10 < 8, the
    * dedup_pairs_incremental slicing), land the remaining documents as
    * one delta batch through [[bm25StatsAppend]], and serve the
    * standard query from the maintained artifact — which equals
    * serving a full rebuild over the whole corpus EXACTLY (the oracle
    * is [[bm25IndexedOracle]] verbatim: same replay, full corpus), so
    * the daily-maintenance path is oracle-checked, not just
    * spec-claimed. */
  def bm25Incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = ExportImport.scratch(
      s"bm25-stats/incr-${java.util.UUID.randomUUID()}")
    bm25StatsBuild(spark, docs.filter(col("doc_id") % 10 < 8), dir)
    bm25StatsAppend(spark, dir, docs.filter(col("doc_id") % 10 >= 8))
    bm25FromIndex(spark, dir, Seq("data", "filter", "join"))
  }

  /** DuckDB oracle for [[bm25Indexed]]: the #109 replay restricted to
    * documents holding at least one query term — the postings
    * representation's exact semantics. */
  def bm25IndexedOracle(terms: Seq[String] = Seq("data", "filter",
                          "join"),
                        k: Int = 20): String = {
    val anyTf = terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    s"""SELECT * FROM (${bm25OracleBody(terms)}) scored
       WHERE $anyTf
       ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** Generic core: RECIPROCAL-RANK FUSION (Cormack, Clarke & Buettcher,
    * SIGIR 2009) of two ranked retrieval lists — the standard hybrid
    * (lexical + vector) combiner a RAG corpus pipeline serves:
    * `rrf(d) = Σ_legs 1/(kc + rank_leg(d))`, a missing membership
    * contributing 0; kc = 60 is the published constant. Inputs are
    * (doc_id, rank) lists with 1-based ranks; output keeps each leg's
    * rank for attribution and re-ranks by (rrf DESC, doc_id).
    * Deterministic: the score is a fixed-order sum of two exact
    * reciprocals of small integers.
    *
    * Scale shape: the legs are already bounded top-k lists (KB-sized
    * model/report state); fusion is one full-outer equi-join over them
    * plus a k-row TakeOrdered — free at any corpus size. The
    * corpus-scale work lives in the legs (BM25's one scan, the ANN
    * index probe), each priced by its own operator. */
  def rrfFuseFrom(lex: DataFrame, vec: DataFrame, kc: Int = 60,
                  k: Int = 10): DataFrame =
    lex.select(col("doc_id"), col("rank").as("lex_rank"))
      .join(vec.select(col("doc_id"), col("rank").as("vec_rank")),
        Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kc) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(kc) + col("vec_rank")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(col("rrf"), 6).as("rrf6"))

  /** QUERY-KEYED RRF fuse — [[rrfFuseFrom]] generalized to a BATCH of
    * vector queries sharing one lexical list (the continuous-serving
    * shape: a stream's term query is fixed per deployment, each
    * micro-batch carries many query vectors): `lex` is the shared
    * (doc_id, rank) list, `vec` is (query_id, doc_id, rank); the
    * combine arithmetic and (rrf DESC, doc_id) order are
    * [[rrfFuseFrom]]'s exactly, per query (StreamingSpec pins the
    * single-query equality). Every frame is bounded — |queries| × kLeg
    * rows — so the per-query window is over report-sized state, never
    * the corpus.
    *
    * `queryIds`: the FULL (query_id) set of the batch. Pass it
    * whenever a query can legitimately have an empty vector list (a
    * sparse index whose probed cells hold nothing) — such a query
    * still gets its lex-only fused top-k, exactly as [[rrfFuseFrom]]
    * with an empty vec leg would. Defaults to the ids present in
    * `vec` (every query matched something). */
  def rrfFuseByQuery(lex: DataFrame, vec: DataFrame, kc: Int = 60,
                     k: Int = 10,
                     queryIds: Option[DataFrame] = None): DataFrame = {
    val lexQ = queryIds
      .map(_.select(col("query_id")).distinct())
      .getOrElse(vec.select(col("query_id")).distinct())
      .crossJoin(broadcast(lex.select(col("doc_id"),
        col("rank").as("lex_rank"))))
    val fused = lexQ
      .join(vec.select(col("query_id"), col("doc_id"),
        col("rank").as("vec_rank")),
        Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kc) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(kc) + col("vec_rank")), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("vec_rank"), round(col("rrf"), 6).as("rrf6"))
      .orderBy(col("query_id"), col("rrf6").desc, col("doc_id"))
  }

  /** (doc_id, rank) from a bounded scored list: 1-based rank by
    * (score DESC, doc_id). The window is single-partition over a
    * ≤ top-k frame by contract (WindowLintSpec allowlist) — never over
    * row-scale data. */
  def rankedBy(list: DataFrame,
               score: org.apache.spark.sql.Column): DataFrame =
    list.select(col("doc_id"), row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(score.desc, col("doc_id"))).as("rank"))

  /** §2 #242 — HYBRID RETRIEVAL FUSION over the fixture corpus: the
    * #109 BM25 top-20 (3-term lexical query) fused with the exact
    * cosine top-20 for query embedding 0 (doc and vector id spaces are
    * aligned in the fixture — the usual "one embedding per document"
    * layout). The production form swaps the exact vector leg for any
    * `annServe*FromIndex` list unchanged — fusion only sees (doc_id,
    * rank). */
  def retrievalFuse(spark: SparkSession, sfDir: String): DataFrame =
    rrfFuseFrom(
      rankedBy(bm25Search(spark, sfDir), col("score")),
      Similarity.annBruteforce(spark, sfDir, nQueries = 1, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rnk").as("rank")))

  /** §2 #246 — HYBRID FUSION IN ITS SERVING FORM: the same RRF combine
    * with the vector leg served FROM THE IVF INDEX ARTIFACT
    * ([[Similarity.annIvfIndexed]]'s build-once/probe path) instead of
    * the brute scan — the shape a production RAG pipeline runs: BM25's
    * one corpus scan + the index probe, fused for pennies. At
    * nProbe = nCells the vector leg equals the brute one, so the fused
    * table is IDENTICAL to [[retrievalFuse]] (spec-pinned). */
  def retrievalFuseIndexed(spark: SparkSession, sfDir: String,
                           nProbe: Int = 4): DataFrame =
    rrfFuseFrom(
      rankedBy(bm25Search(spark, sfDir), col("score")),
      Similarity.annIvfIndexed(spark, sfDir, nProbe = nProbe,
        nQueries = 1, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rnk").as("rank")))

  /** §2 #249 — HYBRID FUSION, BOTH LEGS ARTIFACT-SERVED (VERDICT-r18
    * #1's "done" shape): the lexical list from the BM25 stats artifact
    * ([[bm25FromIndex]] — a pruned postings probe), the vector list
    * from the IVF index artifact ([[Similarity.annIvfIndexed]]'s
    * probe) — the production RAG query path where NO corpus-scale
    * frame is touched at query time: both corpus passes were paid at
    * artifact-build and the per-query bill is two bounded probes plus
    * the KB-sized fuse. Equal to [[retrievalFuseIndexed]] whenever the
    * lexical top-kLeg all match a query term (the fixture does —
    * CurationSpec pins it). */
  def retrievalFuseServed(spark: SparkSession, sfDir: String,
                          nProbe: Int = 4): DataFrame =
    rrfFuseFrom(
      rankedBy(bm25Indexed(spark, sfDir), col("score")),
      Similarity.annIvfIndexed(spark, sfDir, nProbe = nProbe,
        nQueries = 1, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rnk").as("rank")))

  /** §2 #255 — HYBRID FUSION OVER THE SQ8 SCAN: [[retrievalFuseServed]]
    * with the vector leg through the sq8 serving rung
    * ([[Similarity.annIvfSq8Indexed]]: probed cells scored at
    * 1 byte/dim, bounded shortlist, exact re-rank) — the fused RAG
    * path with the corpus-scale candidate scan 4× cheaper while the
    * ranks the fuse consumes stay exact-rescored. The lexical leg
    * serves from the BM25 stats artifact unchanged; fusion only sees
    * (doc_id, rank), which is the whole point of the seam. At full
    * probes the fused table equals [[retrievalFuseServed]] whenever
    * the exact top-kLeg all sit inside the sq8 shortlist (the fixture
    * does — CurationSpec pins it). */
  def retrievalFuseSq8(spark: SparkSession, sfDir: String,
                       nProbe: Int = 4): DataFrame =
    rrfFuseFrom(
      rankedBy(bm25Indexed(spark, sfDir), col("score")),
      Similarity.annIvfSq8Indexed(spark, sfDir, nProbe = nProbe,
        nQueries = 1, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rnk").as("rank")))

  /** DuckDB oracle for [[retrievalFuse]]: the #109 BM25 replay and the
    * brute cosine leg as CTEs, ranked identically, fused with the same
    * fixed-order reciprocal sum. */
  def rrfOracle(kc: Int = 60, kLeg: Int = 20, k: Int = 10): String = {
    val dot = dotSql _
    rrfOracleOver(
      s"""vec AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
              AS INTEGER) AS vec_rank
          FROM (SELECT c.vec_id AS doc_id,
                  ${dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                    AS cos
                FROM nvv q JOIN nvv c ON c.vec_id <> q.vec_id
                WHERE q.vec_id = 0)
          QUALIFY vec_rank <= $kLeg)""", kc, kLeg, k)
  }

  /** DuckDB oracle for [[retrievalFuseIndexed]]: the same fuse
    * skeleton with the vector leg replayed through the static-IVF
    * assignment/probe CTEs ([[Similarity.ivfStaticOracle]]'s
    * machinery) — every stage of the served form exact. */
  def rrfIndexedOracle(nProbe: Int = 4, kc: Int = 60, kLeg: Int = 20,
                       k: Int = 10): String =
    rrfOracleOver(ivfVecLegCtes(nProbe, kLeg), kc, kLeg, k)

  /** DuckDB oracle for [[retrievalFuseServed]]: BOTH legs replayed in
    * their artifact-served semantics — the lexical list restricted to
    * term-matching documents (the postings scan's exact output), the
    * vector list through the static-IVF probe CTEs. */
  def rrfServedOracle(nProbe: Int = 4, kc: Int = 60, kLeg: Int = 20,
                      k: Int = 10): String =
    rrfOracleOver(ivfVecLegCtes(nProbe, kLeg), kc, kLeg, k,
      lexMatchedOnly = true)

  /** The static-IVF vector-leg CTE chain (assignment → probe → ranked
    * `vec` list) shared by [[rrfIndexedOracle]] and
    * [[rrfServedOracle]], so the two served replays cannot drift in
    * the probe arithmetic. */
  private def ivfVecLegCtes(nProbe: Int, kLeg: Int): String = {
    val dot = dotSql _
    val centRows = Similarity.staticCentroids().zipWithIndex
      .map { case (c, i) => s"(${i}, ${c.mkString("[", ", ", "]")})" }
      .mkString(", ")
    s"""cents(cell, cv) AS (VALUES $centRows),
        rankedv AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dot("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nvv v, cents c),
        assignedv AS (SELECT cell, vec_id AS neighbor_id,
                        embedding AS e_c, nrm AS n_c
                      FROM rankedv WHERE crnk = 1),
        probesv AS (SELECT cell, vec_id AS query_id, embedding AS e_q,
                      nrm AS n_q
                    FROM rankedv WHERE crnk <= $nProbe AND vec_id = 0),
        vec AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
              AS INTEGER) AS vec_rank
          FROM (SELECT a.neighbor_id AS doc_id,
                  ${dot("p.e_q", "a.e_c")} / (p.n_q * a.n_c) AS cos
                FROM probesv p JOIN assignedv a ON p.cell = a.cell
                WHERE p.query_id <> a.neighbor_id)
          QUALIFY vec_rank <= $kLeg)"""
  }

  /** DuckDB oracle for [[retrievalFuseSq8]]: the served fuse skeleton
    * with the vector leg replayed through the sq8 two-stage CTEs —
    * static-IVF assignment/probe, the shared dequant body
    * ([[Similarity.sq8DequantCteBody]]) scoring the shortlist, exact
    * re-rank to kLeg — every stage of the cheap-scan leg exact. */
  def rrfSq8Oracle(nProbe: Int = 4, kc: Int = 60, kLeg: Int = 20,
                   k: Int = 10): String =
    rrfOracleOver(sq8VecLegCtes(nProbe, kLeg), kc, kLeg, k,
      lexMatchedOnly = true)

  /** The sq8-scan vector-leg CTE chain (assignment → dequant scan →
    * bounded shortlist → exact re-rank → ranked `vec` list) —
    * [[ivfVecLegCtes]] one scan rung down, mirroring
    * [[Similarity.annServeSq8FromIndex]]'s two stages with the
    * serving default shortlistFactor = 8. */
  private def sq8VecLegCtes(nProbe: Int, kLeg: Int): String = {
    val dot = dotSql _
    val centRows = Similarity.staticCentroids().zipWithIndex
      .map { case (c, i) => s"(${i}, ${c.mkString("[", ", ", "]")})" }
      .mkString(", ")
    s"""cents(cell, cv) AS (VALUES $centRows),
        rankedv AS (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dot("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM nvv v, cents c),
        dqv AS (${Similarity.sq8DequantCteBody}),
        acandv AS (SELECT a.cell, d.vec_id, d.d FROM dqv d
                   JOIN (SELECT vec_id, cell FROM rankedv WHERE crnk = 1) a
                     ON a.vec_id = d.vec_id),
        probesv AS (SELECT cell, vec_id AS query_id, embedding AS e_q
                    FROM rankedv WHERE crnk <= $nProbe AND vec_id = 0),
        shortv AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (${dot("p.e_q", "n.d")}
                   / (sqrt(${dot("p.e_q", "p.e_q")})
                      * sqrt(${dot("n.d", "n.d")}))) DESC,
                n.vec_id) AS r
            FROM probesv p, acandv n
            WHERE n.cell = p.cell AND n.vec_id <> p.query_id)
          WHERE r <= ${8 * kLeg}),
        vec AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
              AS INTEGER) AS vec_rank
          FROM (SELECT s.neighbor_id AS doc_id,
                  ${dot("qv.embedding", "cv.embedding")} / (qv.nrm * cv.nrm)
                    AS cos
                FROM shortv s
                JOIN nvv qv ON qv.vec_id = s.query_id
                JOIN nvv cv ON cv.vec_id = s.neighbor_id)
          QUALIFY vec_rank <= $kLeg)"""
  }

  /** The shared RRF-oracle skeleton: the BM25 lex CTEs + the caller's
    * vector-leg CTE chain (must define `vec(doc_id, vec_rank)`; `nvv`
    * — normed vectors — is provided) + the fixed-order reciprocal
    * fuse. One definition, so the brute and artifact-served replays
    * cannot drift in the combine arithmetic. */
  private def rrfOracleOver(vecCtes: String, kc: Int, kLeg: Int,
                            k: Int, lexMatchedOnly: Boolean = false): String = {
    val dot = dotSql _
    // the artifact-served lexical leg carries only documents holding
    // >= 1 query term (postings semantics, [[bm25FromIndex]]); the
    // brute leg scores every document. The predicate is DERIVED from
    // the default term list (the bm25IndexedOracle stance), so a term
    // count change can never leave it filtering on stale tf columns.
    val defaultTerms = Seq("data", "filter", "join")
    val lexBody =
      if (lexMatchedOnly)
        s"""SELECT * FROM (${bm25OracleBody(defaultTerms)}) s
            WHERE ${defaultTerms.indices.map(i => s"tf_$i > 0")
              .mkString(" OR ")}"""
      else bm25OracleBody(defaultTerms)
    s"""WITH lexs AS ($lexBody),
        lex AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY score DESC, doc_id)
              AS INTEGER) AS lex_rank
          FROM lexs QUALIFY lex_rank <= $kLeg),
        nvv AS (SELECT vec_id, embedding,
            sqrt(${dot("embedding", "embedding")}) AS nrm
          FROM embeddings),
        $vecCtes
       SELECT doc_id, lex_rank, vec_rank,
         round(coalesce(1.0 / ($kc + lex_rank), 0.0)
               + coalesce(1.0 / ($kc + vec_rank), 0.0), 6) AS rrf6
       FROM lex FULL OUTER JOIN vec USING (doc_id)
       ORDER BY (coalesce(1.0 / ($kc + lex_rank), 0.0)
                 + coalesce(1.0 / ($kc + vec_rank), 0.0)) DESC, doc_id
       LIMIT $k"""
  }

  /** Generic core: deterministic GLOBAL SHUFFLE + SHARD layout over ANY
    * (doc_id, text) frame — the last step before a training run: every
    * document gets a pseudo-random position (Knuth hash of its id), the
    * corpus is cut into `nShards` shards by hash residue, and within a
    * shard documents are ordered by (hash, doc_id). Any engine, any
    * partitioning, any run produces the SAME layout, so a training job
    * can be resumed or re-sharded reproducibly.
    *
    * Output: one row per (shard, head position) — shard-level token/doc
    * totals (the balance check: Knuth residues spread skewed id ranges
    * uniformly) plus the first `headK` doc_ids in shuffle order (the
    * auditable witness that the order itself is reproducible).
    *
    * Scale shape: hash + shard are map-only; ONE hash aggregate per
    * shard whose [[graft.functions.TopKByScore]] buffers carry ≤ headK
    * rows per shard per map partition — NOT a per-shard sort (a shard
    * is 1/nShards of the corpus; sorting one inside a task is the
    * classic 100 TB faceplant). The full in-shard order never has to be
    * materialized anywhere — it is DEFINED by the pure hash function
    * and only sampled here. */
  def shardAssignFrom(docs: DataFrame, nShards: Int = 8,
                      headK: Int = 8): DataFrame = {
    require(nShards >= 1 && headK >= 1)
    val base = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
      Quality.knuth32(col("doc_id")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
    base.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"),
        // smallest hash first (score desc ⇒ negate; h < 2^32 is exact
        // in double), doc_id asc on ties — the shuffle order itself
        graft.functions.TopKByScoreAgg
          .topkByScore(col("doc_id"), -col("h").cast("double"), headK)
          .as("head"))
      .select(col("shard"), col("n_docs"), col("sum_tokens"),
        posexplode(col("head")))
      .select(col("shard"), col("n_docs"), col("sum_tokens"),
        (col("pos") + 1).cast("int").as("rk"),
        col("col.neighbor_id").as("doc_id"))
      .orderBy("shard", "rk")
  }

  /** §2 #106 — shard layout of the fixture corpus. */
  def shardAssign(spark: SparkSession, sfDir: String): DataFrame =
    shardAssignFrom(Tables.load(spark, sfDir, "documents"))

  /** DuckDB oracle for [[shardAssign]]. */
  def shardOracle(nShards: Int = 8, headK: Int = 8): String =
    s"""WITH d AS (SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_tok,
            ${Quality.knuthSql("doc_id")} AS h
          FROM documents),
        s AS (SELECT doc_id, n_tok, h,
                CAST(h % $nShards AS INTEGER) AS shard FROM d),
        agg AS (SELECT shard, count(*) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
                FROM s GROUP BY shard),
        head AS (SELECT shard, doc_id,
                   CAST(row_number() OVER (PARTITION BY shard
                          ORDER BY h, doc_id) AS INTEGER) AS rk
                 FROM s)
       SELECT a.shard, a.n_docs, a.sum_tokens, head.rk, head.doc_id
       FROM agg a JOIN head ON a.shard = head.shard
       WHERE head.rk <= $headK
       ORDER BY a.shard, head.rk"""

  /** §2 #131 — TRAIN/EVAL SPLIT LEAKAGE audit: split the corpus into
    * train and held-out-eval by a deterministic doc_id hash, then
    * count the eval documents whose content leaks into train — EXACT
    * (normalized content hash appears in train) and NEAR (shingle
    * Jaccard ≥ tau against some train doc). A random split of a
    * near-dup-bearing corpus puts one copy on each side and the eval
    * loss silently measures memorization; this is the audit that
    * catches it BEFORE training (decontaminate's stance turned inward
    * on the pipeline's own split).
    *
    * Scale shape: exact = one hash semi-join against the train hash
    * index; near = the two-frame prefix join whose probe side is the
    * EVAL slice only (train×train never pairs — the incremental-dedup
    * property, reused); the report is a 1-row aggregate over bounded
    * leak sets. */
  def splitLeakage(spark: SparkSession, sfDir: String, tau: Double = 0.5,
                   mod: Int = 10): DataFrame =
    // SERVED FROM THE SESSION PAIR ARTIFACT (r20 opt, the
    // dedupNgramExactjoin doctrine): the near-leak side is a pairwise
    // property, so at any tau at or above the artifact's 0.3
    // verification floor the qualifying eval–train pairs are exactly
    // the artifact's straddling pairs with RAW j >= tau (the unrounded
    // column — filtering j4 would admit round-half-up boundary pairs
    // the direct computation excludes). Below the floor the
    // self-contained core still runs.
    if (tau >= 0.3)
      splitLeakageFromPairTable(
        Tables.load(spark, sfDir, "documents"),
        Dedup.readVerifiedPairs(spark,
            Dedup.sharedVerifiedPairsDir(spark, sfDir, 0.3))
          .filter(col("j") >= tau), mod)
    else splitLeakageFrom(Tables.load(spark, sfDir, "documents"), tau, mod)

  /** Generic core over ANY (doc_id, text) frame. */
  def splitLeakageFrom(docs: DataFrame, tau: Double = 0.5,
                       mod: Int = 10): DataFrame = {
    val tagged = splitTagged(docs, mod)
    val exactLeaks = splitExactLeaks(tagged)
    def sh(df: DataFrame) = df.select(col("doc_id"),
      TextShingles.shingles3(TextShingles.words(col("text"))).as("sh"))
    val pairs = Dedup.crossPairsFrom(sh(tagged.filter(col("is_eval"))),
      sh(tagged), tau)
    val trainIds = tagged.filter(!col("is_eval"))
      .select(col("doc_id").as("id_b"))
    val nearLeaks = pairs.join(trainIds, Seq("id_b"), "left_semi")
      .select(col("id_a").as("doc_id")).distinct()
    splitLeakageReport(tagged, exactLeaks, nearLeaks)
  }

  /** Artifact-consuming core: the same report over an ALREADY-VERIFIED
    * pair table (id_a, id_b[, ...]) whose pairs are exactly those at
    * the audit's threshold — near leaks are the eval endpoints of
    * train–eval straddling pairs. */
  private def splitLeakageFromPairTable(docs: DataFrame,
                                        pairTable: DataFrame,
                                        mod: Int): DataFrame = {
    val tagged = splitTagged(docs, mod)
    val exactLeaks = splitExactLeaks(tagged)
    val lab = tagged.select(col("doc_id"), col("is_eval"))
    val nearLeaks = pairTable.select("id_a", "id_b")
      .join(lab.select(col("doc_id").as("id_a"), col("is_eval").as("ea")),
        "id_a")
      .join(lab.select(col("doc_id").as("id_b"), col("is_eval").as("eb")),
        "id_b")
      .filter(col("ea") =!= col("eb"))
      .select(when(col("ea"), col("id_a")).otherwise(col("id_b"))
        .as("doc_id"))
      .distinct()
    splitLeakageReport(tagged, exactLeaks, nearLeaks)
  }

  /** Deterministic split tag shared by the leakage audits. */
  private def splitTagged(docs: DataFrame, mod: Int): DataFrame =
    docs.withColumn("is_eval",
      pmod(graft.operators.Quality.knuth32(col("doc_id")),
        lit(mod.toLong)) === 0)

  /** Eval docs whose normalized content hash appears in train. */
  private def splitExactLeaks(tagged: DataFrame): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val hashed = tagged.select(col("doc_id"), col("is_eval"),
      sha2(norm.cast("binary"), 256).as("h"))
    val trainH = hashed.filter(!col("is_eval")).select("h").distinct()
    hashed.filter(col("is_eval"))
      .join(trainH, Seq("h"), "left_semi")
      .select("doc_id")
  }

  /** The 1-row leakage report off the three component frames. */
  private def splitLeakageReport(tagged: DataFrame, exactLeaks: DataFrame,
                                 nearLeaks: DataFrame): DataFrame = {
    val leaked = exactLeaks.unionAll(nearLeaks).distinct()
    tagged.agg(
        sum(when(!col("is_eval"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval"))
      .crossJoin(exactLeaks.agg(count(lit(1)).as("n_exact_leaks")))
      .crossJoin(nearLeaks.agg(count(lit(1)).as("n_near_leaks")))
      .crossJoin(leaked.agg(count(lit(1)).as("n_leaked")))
      .withColumn("leak_rate",
        when(col("n_eval") > 0,
          round(col("n_leaked") / col("n_eval").cast("double"), 4)))
  }

  /** DuckDB oracle for [[splitLeakage]]: split hash, normalized content
    * hashes and the all-pairs cross-split Jaccard replayed. */
  def splitLeakageOracle(tau: Double = 0.5, mod: Int = 10): String =
    s"""WITH t AS (SELECT doc_id, text,
            (${graft.operators.Quality.knuthSql("doc_id")}) % $mod = 0
              AS is_eval
          FROM documents),
        h AS (SELECT doc_id, is_eval,
                sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                  AS hh
              FROM t),
        ex AS (SELECT DISTINCT e.doc_id
               FROM h e JOIN h tr ON e.is_eval AND NOT tr.is_eval
                                  AND e.hh = tr.hh),
        shx AS (SELECT t.doc_id, t.is_eval,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in range(1, len(w)-1)]) AS s
                FROM (SELECT doc_id, is_eval,
                        string_split_regex(trim(lower(text)), '\\s+') AS w
                      FROM t) t),
        nr AS (SELECT DISTINCT a.doc_id
               FROM shx a JOIN shx b ON a.is_eval AND NOT b.is_eval
               WHERE len(a.s) > 0 AND len(b.s) > 0
                 AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                     >= $tau),
        lk AS (SELECT doc_id FROM ex UNION SELECT doc_id FROM nr)
       SELECT (SELECT count(*) FROM t WHERE NOT is_eval) AS n_train,
              (SELECT count(*) FROM t WHERE is_eval) AS n_eval,
              (SELECT count(*) FROM ex) AS n_exact_leaks,
              (SELECT count(*) FROM nr) AS n_near_leaks,
              (SELECT count(*) FROM lk) AS n_leaked,
              CASE WHEN (SELECT count(*) FROM t WHERE is_eval) > 0 THEN
                round((SELECT count(*) FROM lk)
                      / CAST((SELECT count(*) FROM t WHERE is_eval)
                             AS DOUBLE), 4)
              END AS leak_rate"""

  /** §2 #156 — LEAKAGE-SAFE SPLIT ASSIGNMENT: [[splitLeakage]] MEASURES
    * how much near-dup contamination a per-document hash split lets
    * through; this operator PREVENTS it by construction. Documents are
    * clustered over the verified near-dup pairs (the proven bounded
    * propagation) and the split hash is taken on the CLUSTER id, so
    * every near-dup group moves as a unit — no pair at the dedup
    * threshold can ever cross the train/eval boundary. This is how a
    * real pretraining pipeline carves its held-out set: split after
    * dedup-clustering, not before.
    *
    * Scale shape: one exact prefix join (the pair table — or read the
    * materialized artifact via [[leakageSafeSplitFrom]]) + the O(log d)
    * propagation + a map-only hash; assignment is deterministic
    * (knuth32, same values in SQL), so replays and backfills agree. */
  def leakageSafeSplit(spark: SparkSession, sfDir: String,
                       tau: Double = 0.3, mod: Int = 10): DataFrame =
    leakageSafeSplitFrom(
      Tables.load(spark, sfDir, "documents").select(col("doc_id")),
      Dedup.dedupNgramExactjoin(spark, sfDir, tau), mod)

  /** §2 #156b — the ARTIFACT-FED form of [[leakageSafeSplit]]: identical
    * output (same oracle), but the corpus-scale prefix join is not
    * re-paid per run — the verified-pair table is the per-session
    * materialized artifact ([[Dedup.sharedVerifiedPairsDir]]), the same
    * parquet the composed dedup audit reads. This is the form a
    * production pipeline executes: ONE pair build per corpus version,
    * then split assignment (and every audit) as a rollup over the
    * bounded pair table. */
  def leakageSafeSplitComposed(spark: SparkSession, sfDir: String,
                               tau: Double = 0.3, mod: Int = 10): DataFrame = {
    val dir = Dedup.sharedVerifiedPairsDir(spark, sfDir, tau)
    leakageSafeSplitFrom(
      Tables.load(spark, sfDir, "documents").select(col("doc_id")),
      Dedup.readVerifiedPairs(spark, dir).filter(col("j4") >= tau), mod)
  }

  /** Artifact-consuming core: split assignment over ANY node set and
    * ALREADY-VERIFIED pair table (id_a, id_b[, j4]). */
  def leakageSafeSplitFrom(nodes: DataFrame, pairTable: DataFrame,
                           mod: Int = 10): DataFrame =
    Dedup.dedupClustersFromPairs(nodes, pairTable)
      .select(col("doc_id"), col("cluster_id"),
        when(pmod(graft.operators.Quality.knuth32(col("cluster_id")),
            lit(mod.toLong)) === 0, "eval").otherwise("train").as("split"))
      .orderBy("doc_id")

  /** DuckDB oracle for [[leakageSafeSplit]]: recursive-CTE cluster
    * truth + the same knuth32 split hash on the cluster id. */
  def leakageSafeSplitOracle(tau: Double = 0.3, mod: Int = 10): String =
    s"""${graft.functions.TextShingles.duckdbShingleCte
            .replaceFirst("WITH sh", "WITH RECURSIVE sh")},
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= $tau),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id
                FROM reach GROUP BY id)
       SELECT doc_id, cluster_id,
              CASE WHEN (${graft.operators.Quality.knuthSql("cluster_id")})
                       % $mod = 0
                   THEN 'eval' ELSE 'train' END AS split
       FROM lab ORDER BY doc_id"""

  /** §2 #157 — QUALITY-RANKED TOKEN-BUDGET SELECTION: the actual
    * SELECTION step a pretraining pipeline runs after scoring — keep
    * the highest-quality documents (quality_model's logistic score,
    * ties broken by doc_id) until a token budget is spent (default:
    * half the corpus tokens). quality_filter thresholds a SCORE;
    * this allocates a BUDGET — the knob an actual run controls.
    *
    * The global running total over (score DESC, doc_id) is computed
    * SCALABLY, never as a single-partition `ORDER BY` window: scores
    * are exact 4-dp values, so per-score token totals are bounded by
    * the score domain (≤ 10^4 rows — model state, not data); those
    * totals become driver-side prefix offsets per score, and the
    * within-score window partitions BY score. seq_pack's two-phase
    * prefix-sum doctrine, keyed by the ranking value itself.
    *
    * Determinism: the 4-dp score is exact in both engines (proven by
    * quality_model), token counts are integers, and the boundary doc
    * is fixed by the total (score DESC, doc_id) order — floor(total ×
    * frac) is exact in double below 2^53 total tokens (~9e15, beyond
    * any corpus). */
  def budgetSelect(spark: SparkSession, sfDir: String,
                   frac: Double = 0.5): DataFrame =
    budgetSelectFrom(Tables.load(spark, sfDir, "documents"), frac)

  /** Generic core over ANY (doc_id, text) frame. */
  def budgetSelectFrom(docs: DataFrame, frac: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // identical feature arithmetic to quality_model (same 4-dp ratios,
    // same z, same sigmoid rounding) with the word count kept as the
    // token cost — one map-only corpus scan
    val words = size(split(trim(col("text")), "\\s+"))
    val punct = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
    val stop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(?:the|and|is|of|to)\\b"), lit(0)))
    // a null text yields null score/tokens all the way down to the
    // driver-side getDouble/getLong — drop such rows up front (a doc
    // with no text has no tokens to spend budget on)
    val scored = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), words.cast("long").as("n_tokens"),
        round(stop / words, 4).as("stop_ratio"),
        round(punct / length(col("text")), 4).as("punct_ratio"))
      .select(col("doc_id"), col("n_tokens"),
        (lit(-2.0) + lit(0.9) * log(col("n_tokens") + lit(1.0))
          + lit(3.0) * col("stop_ratio") - lit(8.0) * col("punct_ratio"))
          .as("z"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4).as("score"))
    // bounded driver state: one row per distinct 4-dp score (na.drop:
    // degenerate rows — e.g. all-whitespace text where a ratio divides
    // by zero — must not NPE the driver-side accessors)
    val perScore = scored.na.drop(Seq("score", "n_tokens"))
      .groupBy("score").agg(sum("n_tokens").as("stot"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(-_._1)
    val total = perScore.map(_._2).sum
    val budget = math.floor(total.toDouble * frac).toLong
    import docs.sparkSession.implicits._
    val offDf = perScore.map(_._1)
      .zip(perScore.map(_._2).scanLeft(0L)(_ + _))
      .toSeq.toDF("score", "offset")
    val within = Window.partitionBy("score").orderBy("doc_id")
    scored.join(broadcast(offDf), Seq("score"))
      .withColumn("cum_tokens", col("offset") + sum("n_tokens").over(within))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("score"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** DuckDB oracle for [[budgetSelect]]: the quality_model score
    * replayed + a window cumsum over the same total order. */
  def budgetSelectOracle(frac: Double = 0.5): String =
    s"""WITH s AS (SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars_calc,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_words,
            CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT)
              AS n_punct,
            CAST(len(regexp_extract_all(lower(text),
              '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT) AS n_stop
          FROM documents),
        f AS (SELECT doc_id, n_words,
            round(n_stop / n_words, 4) AS stop_ratio,
            round(n_punct / n_chars_calc, 4) AS punct_ratio FROM s),
        q AS (SELECT doc_id, n_words,
            round(1.0 / (1.0 + exp(-(-2.0 + 0.9 * ln(n_words + 1.0)
              + 3.0 * stop_ratio - 8.0 * punct_ratio))), 4) AS score
          FROM f),
        sel AS (SELECT doc_id, score, n_words,
            CAST(sum(n_words) OVER (ORDER BY score DESC, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM q),
        tot AS (SELECT CAST(floor(CAST(sum(n_words) AS DOUBLE) * $frac)
                  AS BIGINT) AS budget FROM q)
       SELECT doc_id, score, CAST(n_words AS BIGINT) AS n_tokens,
              cum_tokens
       FROM sel, tot WHERE cum_tokens <= budget
       ORDER BY score DESC, doc_id"""

  /** §2 #123 — DSIR-style IMPORTANCE WEIGHTING (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by the average log-likelihood ratio of its
    * hashed-unigram features under a TARGET domain distribution vs the
    * raw-corpus distribution (add-one smoothing over `nBuckets` hashed
    * feature buckets), and admit documents that look more target-like
    * than corpus-like (weight > 0). This is the standard
    * quality-targeting leg of a pretraining mix: point it at a trusted
    * in-domain slice and it up-ranks text that resembles it.
    *
    * Determinism: each token's ratio term is rounded to 8 dp and summed
    * as DECIMAL (lm_perplexity's stance), so the per-doc average is
    * independent of row order, partitioning, and engine.
    *
    * Scale shape: ONE (bucket) hash aggregate builds BOTH distributions
    * (n_c, n_t per bucket — `nBuckets` rows, never the corpus), a 1-row
    * totals broadcast, then a broadcast join back to the token stream
    * and one per-doc aggregate. Raw text never shuffles; the only
    * corpus-scale exchange is the per-doc aggregation of (doc_id, term)
    * pairs. */
  def dsirWeights(spark: SparkSession, sfDir: String,
                  nBuckets: Int = 1024): DataFrame =
    dsirWeightsFrom(Tables.load(spark, sfDir, "documents"),
      col("source") === "src0", nBuckets)

  /** Generic core: weight ANY (doc_id, text) frame against the target
    * slice selected by `isTarget` (which must derive from the frame's
    * own columns). */
  def dsirWeightsFrom(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
                      nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col("doc_id"), isTarget.as("tgt"),
        explode(TextShingles.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("tgt"),
        pmod(graft.functions.KrHashF.krHash(col("w")),
          lit(nBuckets.toLong)).as("b"))
    val dist = toks.groupBy("b").agg(
      count(lit(1)).as("n_c"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("n_t"))
    val totals = dist.agg(sum("n_c").as("t_c"), sum("n_t").as("t_t"))
    val terms = dist.crossJoin(broadcast(totals))
      .select(col("b"), round(log(
        ((col("n_t") + 1).cast("double") / (col("t_t") + lit(nBuckets)))
          / ((col("n_c") + 1).cast("double") / (col("t_c") + lit(nBuckets)))), 8)
        .cast(DecimalType(18, 8)).as("term"))
    toks.join(broadcast(terms), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        round(sum(col("term")).cast("double") / count(lit(1)), 4).as("weight"))
      .withColumn("selected", col("weight") > 0)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[dsirWeights]]: KR bucket hash, both
    * distributions, smoothing and the ratio terms replayed exactly. */
  def dsirOracle(nBuckets: Int = 1024): String = {
    val kr = """list_reduce(
         [CAST(unicode(w[i]) AS BIGINT)
          for i in range(1, CAST(length(w) AS INTEGER) + 1)],
         (a, c) -> (a * 257 + c) % 18014398509481984)"""
    s"""WITH wd AS (SELECT doc_id, source,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
          FROM documents),
        tk AS (SELECT doc_id, source = 'src0' AS tgt, $kr % $nBuckets AS b
               FROM wd WHERE length(w) > 0),
        d AS (SELECT b, CAST(count(*) AS BIGINT) AS n_c,
                CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_t
              FROM tk GROUP BY b),
        t AS (SELECT CAST(sum(n_c) AS BIGINT) AS t_c,
                CAST(sum(n_t) AS BIGINT) AS t_t FROM d),
        tm AS (SELECT b, CAST(round(ln(
                 (CAST(n_t + 1 AS DOUBLE) / (t_t + $nBuckets))
                 / (CAST(n_c + 1 AS DOUBLE) / (t_c + $nBuckets))), 8)
                 AS DECIMAL(18,8)) AS term
               FROM d, t)
       SELECT doc_id, count(*) AS n_tok,
              round(CAST(sum(term) AS DOUBLE) / count(*), 4) AS weight,
              round(CAST(sum(term) AS DOUBLE) / count(*), 4) > 0 AS selected
       FROM tk JOIN tm USING (b)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** §2 #196 — the COMPOSED ADMISSION PIPELINE: the whole ingest
    * decision as ONE declarative DAG — charset sanity → entropy band →
    * heuristic quality → exact dedup (first-doc-wins on the normalized
    * fingerprint) → benchmark decontamination (any shared n-gram with
    * the held-out slice, which also evicts the eval docs themselves
    * from train) — each document rejected at its FIRST failing gate,
    * reported as the 5-stage attrition table a corpus owner reads
    * after every ingest. quality_funnel is the composition witness for
    * the GATE family; this is the composition witness for the whole
    * ENGINE: map-only gates, a hash-keyed dedup join, and the
    * broadcast gram probe in one plan Catalyst schedules together.
    *
    * Scale shape: gates 1-3 ride the scan (codegen'd regex/entropy);
    * the dedup leg is one (hash → min) aggregate joined back on hash;
    * the contamination leg is the map-only gram explode + broadcast
    * bench join of #71; the funnel itself is ONE 1-row aggregate
    * stacked to 5 rows. Raw text shuffles NOWHERE. */
  def pipelineReport(spark: SparkSession, sfDir: String, n: Int = 4,
                     benchMod: Int = 50): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val nRepl = regexp_count(col("text"), lit("�"))
    val nCtrl = regexp_count(col("text"),
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
    val ent = round(graft.functions.CharEntropyF.charEntropy(col("text")), 4)
    val nWords = size(split(trim(col("text")), "\\s+")).cast("long")
    val nStop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(?:the|and|is|of|to)\\b"), lit(0))).cast("long")
    val quality = round(
      least(nWords / lit(50.0), lit(1.0)) * 0.5
        + (nStop / nWords) * 0.5, 4)
    val base = docs.select(col("doc_id"),
      (nRepl > 0 || nCtrl > 0).as("f_charset"),
      (ent < 3.0 || ent > 5.0).as("f_entropy"),
      (!(nWords >= 20 && quality >= 0.3)).as("f_quality"),
      sha2(lower(trim(regexp_replace(col("text"), "\\s+", " ")))
        .cast("binary"), 256).as("h"))
    val canon = base.groupBy("h").agg(min("doc_id").as("keep"))
    val contam = decontaminateFrom(docs,
        docs.filter(col("doc_id") % benchMod === 0), n)
      .select(col("doc_id"), lit(true).as("f_contam"))
    val ff = base.join(canon, Seq("h"))
      .join(contam, Seq("doc_id"), "left")
      .select(
        when(col("f_charset"), 1)
          .when(col("f_entropy"), 2)
          .when(col("f_quality"), 3)
          .when(col("doc_id") =!= col("keep"), 4)
          .when(coalesce(col("f_contam"), lit(false)), 5)
          .otherwise(0).as("ff"))
    ff.agg(count(lit(1)).as("n"),
        sum(when(col("ff") === 1, 1L).otherwise(0L)).as("r1"),
        sum(when(col("ff") === 2, 1L).otherwise(0L)).as("r2"),
        sum(when(col("ff") === 3, 1L).otherwise(0L)).as("r3"),
        sum(when(col("ff") === 4, 1L).otherwise(0L)).as("r4"),
        sum(when(col("ff") === 5, 1L).otherwise(0L)).as("r5"))
      .selectExpr("""stack(5,
          1, 'charset', n, r1, n - r1,
          2, 'entropy', n - r1, r2, n - r1 - r2,
          3, 'quality', n - r1 - r2, r3, n - r1 - r2 - r3,
          4, 'duplicate', n - r1 - r2 - r3, r4, n - r1 - r2 - r3 - r4,
          5, 'contaminated', n - r1 - r2 - r3 - r4, r5,
             n - r1 - r2 - r3 - r4 - r5)
          AS (stage, gate, n_in, n_rejected, n_out)""")
      .orderBy("stage")
  }

  /** DuckDB oracle for [[pipelineReport]]: the charset/quality regex
    * arithmetic, the shared entropy CTE chain, the dedup_exact
    * normalized fingerprint window, and the decontaminate gram probe —
    * composed into the identical first-fail CASE and stacked
    * attrition. */
  def pipelineReportOracle(n: Int = 4, benchMod: Int = 50): String = {
    require(n == 4, "the oracle's gram construction is written for n = 4")
    s"""WITH ${TextAnalysis.charEntropyCtes},
        w AS (SELECT doc_id,
                string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
        g AS (SELECT doc_id,
                unnest(list_distinct(
                  [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                   for i in range(1, len(w) - 2)])) AS gram
              FROM w),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % $benchMod = 0),
        contam AS (SELECT DISTINCT doc_id FROM g
                   WHERE gram IN (SELECT gram FROM bench)),
        base AS (SELECT d.doc_id,
            (len(regexp_extract_all(d.text, '�', 0)) > 0
             OR len(regexp_extract_all(d.text,
                  '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', 0)) > 0) AS f_charset,
            (e.char_entropy < 3.0 OR e.char_entropy > 5.0) AS f_entropy,
            NOT (CAST(len(string_split_regex(trim(d.text), '\\s+'))
                   AS BIGINT) >= 20
                 AND round(least(CAST(len(string_split_regex(trim(d.text),
                       '\\s+')) AS BIGINT) / 50.0, 1.0) * 0.5
                     + (CAST(len(regexp_extract_all(lower(d.text),
                          '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT)
                        / CAST(len(string_split_regex(trim(d.text), '\\s+'))
                            AS BIGINT)) * 0.5, 4) >= 0.3) AS f_quality,
            sha256(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))))
              AS h
          FROM documents d JOIN ent e ON e.doc_id = d.doc_id),
        keep AS (SELECT h, min(doc_id) AS keep FROM base GROUP BY 1),
        p AS (SELECT CASE WHEN f_charset THEN 1
                          WHEN f_entropy THEN 2
                          WHEN f_quality THEN 3
                          WHEN base.doc_id <> keep.keep THEN 4
                          WHEN contam.doc_id IS NOT NULL THEN 5
                          ELSE 0 END AS ff
              FROM base JOIN keep USING (h)
              LEFT JOIN contam ON contam.doc_id = base.doc_id),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
                CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
                CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS r4,
                CAST(sum(CASE WHEN ff = 5 THEN 1 ELSE 0 END) AS BIGINT) AS r5
              FROM p)
       SELECT * FROM (
         SELECT 1 AS stage, 'charset' AS gate, n AS n_in,
                r1 AS n_rejected, n - r1 AS n_out FROM a
         UNION ALL
         SELECT 2, 'entropy', n - r1, r2, n - r1 - r2 FROM a
         UNION ALL
         SELECT 3, 'quality', n - r1 - r2, r3, n - r1 - r2 - r3 FROM a
         UNION ALL
         SELECT 4, 'duplicate', n - r1 - r2 - r3, r4,
                n - r1 - r2 - r3 - r4 FROM a
         UNION ALL
         SELECT 5, 'contaminated', n - r1 - r2 - r3 - r4, r5,
                n - r1 - r2 - r3 - r4 - r5 FROM a)
       ORDER BY stage"""
  }
}
