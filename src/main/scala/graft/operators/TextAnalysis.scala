package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.TextShingles

/** Text analysis for training-data pipelines: quality stats, language ID,
  * token counting, document fingerprinting, char-shingle profiles.
  *
  * All map-only (no shuffle except the final presentation sort): at
  * 100 TB these run at scan speed, entirely inside whole-stage codegen
  * (regexp + array built-ins, no UDFs).
  *
  * Cross-engine contract: every regex below uses constructs with
  * identical semantics in Java (Spark) and RE2 (DuckDB) — `\b`, `\s`,
  * non-capturing groups, explicit `\x{...}` code points — and every
  * ratio is a double derived from exact integers.
  */
object TextAnalysis {

  /** §2 #28 — quality scoring: lengths, word/punct/stopword counts and
    * ratios. The blend mirrors the usual pretraining heuristics
    * (length prior + stopword density). */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val words = size(split(trim(col("text")), "\\s+"))
    val punct = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
    val stop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(?:the|and|is|of|to)\\b"), lit(0)))
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        words.cast("long").as("n_words"), punct.cast("long").as("n_punct"),
        stop.cast("long").as("n_stop"),
        round(stop / words, 4).as("stop_ratio"),
        round(punct / length(col("text")), 4).as("punct_ratio"),
        round(least(words / lit(50.0), lit(1.0)) * 0.5 + (stop / words) * 0.5, 4)
          .as("quality"))
      .orderBy("doc_id")
  }

  /** §2 #40 — quality-gate filter: the standard pretraining corpus cut.
    * Keeps documents passing length + quality-score thresholds; a pure
    * pushdown-friendly filter over the map-only stats. */
  def qualityFilter(spark: SparkSession, sfDir: String,
                    minWords: Int = 20, minQuality: Double = 0.3): DataFrame =
    textStats(spark, sfDir)
      .filter(col("n_words") >= minWords && col("quality") >= minQuality)
      .select(col("doc_id"), col("n_words"), col("quality"))
      .orderBy("doc_id")

  /** Per-language stopword-count patterns (shared with the oracle). */
  val langPatterns: Seq[(String, String)] = Seq(
    "en" -> "\\b(?:the|and|is|of|to)\\b",
    "de" -> "\\b(?:der|die|und|ist|das)\\b",
    "fr" -> "\\b(?:le|la|et|est|les)\\b",
    "es" -> "\\b(?:el|los|y|es|una)\\b")

  /** The decision rule, as one SQL CASE fragment evaluated verbatim by
    * BOTH engines over the per-language counts — the rule cannot drift
    * between implementation and oracle. */
  val langCaseSql: String =
    """CASE WHEN c_zh > 0 THEN 'zh'
            WHEN c_de > c_en AND c_de >= c_fr AND c_de >= c_es THEN 'de'
            WHEN c_fr > c_en AND c_fr >= c_es THEN 'fr'
            WHEN c_es > c_en THEN 'es'
            ELSE 'en' END"""

  /** §2 #29 — language ID: n-gram/stopword heuristic. On this synthetic
    * corpus the `lang` column is uncorrelated with the text (all docs
    * share one vocabulary), so `is_match` measures agreement with the
    * label, not classifier quality; the operator contract is the
    * deterministic scoring itself. */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = langPatterns.foldLeft(
      Tables.load(spark, sfDir, "documents")
        .withColumn("c_zh", size(regexp_extract_all(col("text"),
          lit("[\\x{4e00}-\\x{9fff}]"), lit(0))))) {
      case (df, (l, pat)) =>
        df.withColumn(s"c_$l",
          size(regexp_extract_all(lower(col("text")), lit(pat), lit(0))))
    }
    counts
      .withColumn("pred_lang", expr(langCaseSql))
      .select(col("doc_id"), col("pred_lang"),
        (col("pred_lang") === col("lang")).as("is_match"))
      .orderBy("doc_id")
  }

  /** §2 #30 — token counting: whitespace tokens + a BPE-ish regex
    * (letter runs, single digits, single punctuation marks). */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"), lit(0))).cast("long")
          .as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"))
      .orderBy("doc_id")

  /** §2 #31 — document fingerprint: order-independent digest of the
    * distinct shingle set (sorted + joined + SHA-256) — the set-level
    * analog of content hashing, stable under shingle reordering. */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = TextShingles.shingles3(TextShingles.words(col("text")))
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        // sort_array, NOT array_sort: the comparator-lambda form is a
        // higher-order function and breaks whole-stage codegen
        sha2(concat_ws("|", sort_array(sh)).cast("binary"), 256)
          .as("fingerprint"),
        size(sh).cast("long").as("n_shingles"))
      .orderBy("doc_id")
  }

  /** §2 #45 — rolling-hash (winnowing) fingerprint: the positional
    * plagiarism/near-dup fingerprint from the Schleimer et al. scheme,
    * via the custom [[graft.functions.WinnowFingerprint]] expression.
    * Output is the fingerprint cardinality + a digest, both reproduced
    * exactly by the DuckDB oracle's list-comprehension twin. */
  def docWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = graft.functions.Winnow.winnowFingerprint(col("text"))
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), fp.as("fp"))
      .select(col("doc_id"),
        size(col("fp")).cast("long").as("n_fp"),
        // array<long> → array<string> via Cast (codegen'd, element
        // text identical) — a transform lambda here would be an
        // interpreter wall
        sha2(concat_ws(",", col("fp").cast("array<string>")).cast("binary"),
          256).as("fp_digest"))
      .orderBy("doc_id")
  }

  /** §2 #68 — training-sequence PACKING: documents are laid out
    * contiguously in doc_id order and cut into fixed-token-budget
    * sequences (`seq_id = tokens-before div maxTokens`) — the layout
    * step between a cleaned corpus and a training run.
    *
    * The global running total is computed SCALABLY: bucket by a
    * DETERMINISTIC pure function of doc_id (equal-width ranges over
    * [min, max] — contiguous in doc_id order, so per-bucket prefix sums
    * compose), per-bucket prefix sums via a window bounded to that
    * bucket, plus driver-computed bucket offsets (nRanges numbers —
    * model state, not data). No single-partition window anywhere, which
    * is what a naive `ORDER BY` cumsum would plan.
    *
    * Why not `repartitionByRange` + `spark_partition_id`: the range
    * partitioner's sample seed incorporates the RDD id, so the offsets
    * job and the final job can draw DIFFERENT boundaries — the
    * partition ids then disagree between the two evaluations and the
    * prefix offsets silently mis-align (observed as a flaky hash
    * mismatch at r03). A bucket that is a pure function of the key is
    * identical in every evaluation by construction. */
  def seqPack(spark: SparkSession, sfDir: String, maxTokens: Long = 2048L,
              nRanges: Int = 8): DataFrame =
    seqPackPositions(spark, sfDir, maxTokens, nRanges) match {
      case None =>
        spark.emptyDataFrame
          .select(lit(0L).as("seq_id"), lit(0L).as("n_docs"),
            lit(0L).as("sum_tokens"), lit(0L).as("first_doc"),
            lit(0L).as("last_doc"))
      case Some(pos) =>
        pos.groupBy("seq_id")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("seq_id")
    }

  /** The packing's per-doc positions (doc_id, n_tok, cum_before,
    * seq_id) — the shared front of [[seqPack]] and [[packEfficiency]];
    * None on an empty corpus. */
  private def seqPackPositions(spark: SparkSession, sfDir: String,
                               maxTokens: Long,
                               nRanges: Int): Option[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    // deterministic contiguous buckets: equal-width doc_id ranges
    val Array(bounds) = toks.agg(min("doc_id").cast("long"),
      max("doc_id").cast("long")).collect()
    // empty input → empty packing (min/max aggregate to null)
    if (bounds.isNullAt(0)) return None
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(hi - lo + 1L, 1L)
    val bucket = ((col("doc_id").cast("long") - lit(lo)) * nRanges / span)
      .cast("int")
    val ranged = toks.withColumn("pid", bucket)
    // per-bucket totals → prefix offsets (tiny, driver-side by design)
    import spark.implicits._
    val partSums = ranged.groupBy("pid").agg(sum("n_tok").as("psum"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offDf = partSums.map(_._1)
      .zip(partSums.map(_._2).scanLeft(0L)(_ + _))
      .toSeq.toDF("pid", "offset")

    val within = Window.partitionBy("pid").orderBy("doc_id")
    Some(ranged.join(broadcast(offDf), Seq("pid"))
      .withColumn("cum_before",
        col("offset") + sum("n_tok").over(within) - col("n_tok"))
      .withColumn("seq_id", expr(s"cum_before div $maxTokens")))
  }

  /** §2 #197 — PACKING EFFICIENCY: the one-row audit of [[seqPack]]'s
    * layout — sequences produced, mean fill against the context
    * length, and how many documents STRADDLE a sequence boundary (the
    * fraction a training run truncates or splits attention across;
    * the number that decides between contiguous packing and best-fit
    * binning). Rides the same scalable prefix machinery; the extra
    * work is one 1-row aggregate. */
  def packEfficiency(spark: SparkSession, sfDir: String,
                     maxTokens: Long = 2048L,
                     nRanges: Int = 8): DataFrame =
    seqPackPositions(spark, sfDir, maxTokens, nRanges) match {
      case None =>
        spark.emptyDataFrame
          .select(lit(0L).as("n_seqs"), lit(0L).as("n_docs"),
            lit(0L).as("total_tokens"), lit(0.0).as("mean_fill4"),
            lit(0L).as("n_straddlers"))
      case Some(pos) =>
        // n_seqs from the TOKEN SPAN, not countDistinct(seq_id): seq_id
        // marks doc START windows only, so a doc spanning 3+ context
        // windows would leave interior windows uncounted and mean_fill4
        // could exceed 1.0. Contiguous packing from offset 0 fills
        // exactly ceil(total_tokens / maxTokens) sequences.
        pos.agg(
          when(sum("n_tok") > 0,
            expr(s"(sum(n_tok) - 1) div $maxTokens") + 1L)
            .otherwise(0L).as("n_seqs"),
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("total_tokens"),
          sum(when(col("n_tok") > 0 &&
            expr(s"cum_before div $maxTokens")
              =!= expr(s"(cum_before + n_tok - 1) div $maxTokens"), 1L)
            .otherwise(0L)).as("n_straddlers"))
          .select(col("n_seqs"), col("n_docs"), col("total_tokens"),
            round(col("total_tokens")
              / (col("n_seqs") * lit(maxTokens.toDouble)), 4)
              .as("mean_fill4"),
            col("n_straddlers"))
    }

  def packEfficiencyOracle(maxTokens: Long = 2048L): String =
    s"""WITH toks AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tok
           FROM documents),
        pos AS (SELECT doc_id, n_tok,
                  sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS cb
                FROM toks)
       SELECT CAST(CASE WHEN sum(n_tok) > 0
                        THEN (sum(n_tok) - 1) // $maxTokens + 1
                        ELSE 0 END AS BIGINT) AS n_seqs,
         count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         round(CAST(sum(n_tok) AS BIGINT)
           / (((sum(n_tok) - 1) // $maxTokens + 1)
              * CAST($maxTokens AS DOUBLE)), 4)
           AS mean_fill4,
         CAST(sum(CASE WHEN n_tok > 0
                        AND cb // $maxTokens <> (cb + n_tok - 1) // $maxTokens
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
       FROM pos"""

  /** Generic core: Gopher-style REPETITION signals for ANY
    * (doc_id, text) frame — the standard pretraining quality gates from
    * Rae et al. 2021 (Gopher, §A1.1): fraction of the doc taken by its
    * single most frequent word, and the duplicate share of its 2-gram
    * and 3-gram occurrences. A template-generated or looping document
    * scores high on all three long before exact/near dedup would pair
    * it with anything.
    *
    * Shape at 100 TB: the n-gram metrics are map-only (per-row array
    * expressions); only the top-word count needs an aggregation, and
    * its exchange carries (doc_id, word, count) triples — raw text
    * never shuffles. Fractions are rounded to 4 dp BEFORE the boolean
    * gate so the decision is bit-identical cross-engine. */
  def repetitionFrom(docs: DataFrame, topWordMax: Double = 0.20,
                     dup2Max: Double = 0.18, dup3Max: Double = 0.16): DataFrame = {
    val base = docs.select(col("doc_id"),
      graft.functions.TextShingles.words(col("text")).as("w"))
    // one exchange of (doc_id, word) pairs → per-doc modal word count
    val topc = base.select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_c"))
    // map-only n-gram duplicate shares; sequence() DESCENDS below its
    // floor, so each gram list needs an explicit emptiness guard
    val grams = base.select(col("doc_id"),
      size(col("w")).cast("long").as("n_words"),
      when(size(col("w")) >= 2, expr(
        "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"))
        .otherwise(expr("array()").cast("array<string>")).as("g2"),
      when(size(col("w")) >= 3, expr(
        "transform(sequence(2, size(w) - 1), i -> concat(w[i-2], ' ', w[i-1], ' ', w[i]))"))
        .otherwise(expr("array()").cast("array<string>")).as("g3"))
    def dupFrac(g: String) =
      when(size(col(g)) > 0,
        round(lit(1.0) - size(array_distinct(col(g)))
          / size(col(g)).cast("double"), 4))
        .otherwise(lit(0.0))
    grams.join(topc, "doc_id")
      .select(col("doc_id"), col("n_words"),
        round(col("top_c") / col("n_words").cast("double"), 4)
          .as("top_word_frac"),
        dupFrac("g2").as("dup2_frac"), dupFrac("g3").as("dup3_frac"))
      .withColumn("repetitive",
        col("top_word_frac") > topWordMax || col("dup2_frac") > dup2Max ||
          col("dup3_frac") > dup3Max)
      .orderBy("doc_id")
  }

  /** §2 #83 — repetition-signal quality gate over the fixture corpus. */
  def qualityRepetition(spark: SparkSession, sfDir: String): DataFrame =
    repetitionFrom(Tables.load(spark, sfDir, "documents"))

  /** §2 #79 — corpus BIGRAM model counts (the n-gram-LM table a
    * data-quality pass builds): for each leading word, the top-3
    * following words by count (count desc, word asc tie-break),
    * restricted to bigrams seen ≥ `minCount` times. One explode + one
    * hash agg + one per-word window; exchanges carry (w1, w2, count)
    * triples only — raw text never shuffles. */
  def ngramLm(spark: SparkSession, sfDir: String, k: Int = 3,
              minCount: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = graft.functions.TextShingles.words(col("text"))
    val bigrams = Tables.load(spark, sfDir, "documents")
      .select(w.as("w"))
      // single-token docs: sequence(1, 0) would DESCEND to [1, 0] and
      // emit null bigrams the oracle's empty range never produces —
      // same trap as chunkFrom's empty-text guard
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val counts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val byCount = Window.partitionBy("w1")
      .orderBy(col("n").desc, col("w2"))
    counts.withColumn("rk", row_number().over(byCount))
      .filter(col("rk") <= k)
      .select(col("w1"), col("w2"), col("n"), col("rk"))
      .orderBy("w1", "rk")
  }

  /** Generic core: per-document LM NEGATIVE LOG-LIKELIHOOD under the
    * corpus's own bigram model (add-one smoothing over the
    * following-word vocabulary) — the KenLM-style perplexity gate a
    * pretraining pipeline runs to drop gibberish: text whose bigrams
    * the corpus has never seen scores high.
    *
    * Determinism: a float `avg()` depends on accumulation order across
    * partitions, so each bigram's −ln p is rounded to 8 dp and summed
    * as DECIMAL(18,8) — exact, order-independent, reproduced digit-
    * for-digit by the DuckDB oracle — then averaged and rounded to 4.
    *
    * Scale shape: two hash aggregations for the model (bigram +
    * leading-word counts), a 1-row broadcast vocab size, and count
    * joins that carry (doc, w1, w2) triples only — raw text never
    * shuffles; the model tables join by word keys, so the big side
    * shuffles once. */
  /** Per-doc bigram stream (doc_id, w1, w2) — the shared front of both
    * perplexity scorers. Single-word docs have no bigrams (and
    * sequence(1,0) DESCENDS). */
  private def docBigrams(docs: DataFrame): DataFrame = {
    val w = graft.functions.TextShingles.words(col("text"))
    docs.select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
  }

  def perplexityFrom(docs: DataFrame): DataFrame = {
    val bg = docBigrams(docs)
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = bg.agg(countDistinct(col("w2")).as("v"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll",
        round(-log((col("c2") + 1).cast("double") / (col("c1") + col("v"))), 8)
          .cast(DecimalType(18, 8)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 4).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** §2 #85 — corpus-LM perplexity scoring over the fixture corpus. */
  def lmPerplexity(spark: SparkSession, sfDir: String): DataFrame =
    perplexityFrom(Tables.load(spark, sfDir, "documents"))

  /** Generic core: per-doc NLL under an interpolated KNESER–NEY bigram
    * model (Kneser & Ney 1995; the smoothing KenLM — and therefore the
    * actual CCNet filter — uses, vs [[perplexityFrom]]'s add-one
    * baseline): p(w2|w1) = max(c−D,0)/c(w1·) + λ(w1)·p_cont(w2) with
    * absolute discount D and the CONTINUATION probability p_cont(w2) =
    * N1+(·w2)/|bigram types| — "how many contexts does w2 complete",
    * not "how often does w2 occur" (the famous San-Francisco
    * correction: frequent-but-bound words stop leaking probability).
    *
    * Determinism: every factor is an exact integer count except the
    * dyadic discount 0.75 — each bigram's term is IEEE-identical in
    * DuckDB, rounded to 8 dp and decimal-summed per doc exactly as the
    * add-one scorer. Scale shape identical too: three model hash aggs
    * (bigram / history / continuation), a 1-row type count broadcast,
    * word-keyed count joins; raw text never shuffles. */
  def perplexityKnFrom(docs: DataFrame,
                       discount: Double = 0.75): DataFrame = {
    val bg = docBigrams(docs)
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val hist = c2.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("nf"))
    val cont = c2.groupBy("w2").agg(count(lit(1)).as("np"))
    val types = c2.agg(count(lit(1)).as("tt"))
    bg.join(c2, Seq("w1", "w2")).join(hist, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      // seen bigrams have c2 ≥ 1 > D, so max(c−D, 0) = c − D
      .withColumn("nll",
        round(-log((col("c2") - lit(discount)) / col("c1")
          + lit(discount) * col("nf") / col("c1")
            * (col("np") / col("tt"))), 8)
          .cast(DecimalType(18, 8)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 4)
          .as("avg_nll_kn"))
      .orderBy("doc_id")
  }

  /** §2 #174 — Kneser–Ney perplexity scoring of the fixture corpus. */
  def lmPerplexityKn(spark: SparkSession, sfDir: String): DataFrame =
    perplexityKnFrom(Tables.load(spark, sfDir, "documents"))

  /** Generic core: HASHED TF-IDF document embeddings (the hashing
    * trick, Weinberger 2009) over ANY (doc_id, text) frame — the
    * text→vector bridge when no neural embeddings exist: each token
    * lands in `dim` buckets by the cross-engine Karp–Rabin hash with a
    * ±1 sign bit, weighted by smoothed TF-IDF. Long format
    * (doc_id, bucket, w6) so the oracle compares exactly; feed
    * [[graft.api.Graft]] consumers by pivoting to an array when a
    * dense vector is wanted.
    *
    * Determinism: bucket contributions are rounded to 8 dp and summed
    * as DECIMAL(18,8) (order-independent), idf arithmetic is IEEE-
    * pinned against the oracle's CAST(… AS DOUBLE) forms.
    *
    * Scale shape: one token explode (map-only) → (doc, token) hash agg
    * → a VOCABULARY-bounded df agg joined back by token → one
    * (doc, bucket) hash agg. No windows, no collects; the df join is
    * the only wide exchange and it carries (doc, token, tf) triples. */
  def tfidfEmbedFrom(docs: DataFrame, dim: Int = 64): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(TextShingles.words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct(col("doc_id")).as("n"))
    val h = graft.functions.KrHashF.krHash(col("tok"))
    val idf = log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)
    // integer div/mod throughout: h < 2^54 would round through a
    // double division
    val sign = when(pmod(expr(s"h div $dim"), lit(2L)) === 0,
      lit(1.0)).otherwise(lit(-1.0))
    tf.join(df, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("h", h)
      .withColumn("bucket", pmod(col("h"), lit(dim.toLong)))
      .withColumn("c",
        round(sign * col("tf") * idf, 8).cast(DecimalType(18, 8)))
      .groupBy("doc_id", "bucket")
      .agg(round(sum(col("c")).cast("double"), 6).as("w6"))
      .orderBy("doc_id", "bucket")
  }

  /** §2 #175 — 64-dim hashed TF-IDF vectors of the fixture corpus. */
  def tfidfEmbed(spark: SparkSession, sfDir: String): DataFrame =
    tfidfEmbedFrom(Tables.load(spark, sfDir, "documents"))

  /** Generic core: HTML/MARKUP STRIP over ANY (doc_id, text) frame —
    * the crawl-pipeline step BEFORE every text gate here (C4 cleaned
    * WET text; pipelines that start from WARC strip markup first):
    * drop script/style blocks wholesale, strip tags, collapse
    * whitespace; report tag/link counts and the fingerprint of the
    * extracted text. Map-only codegen'd regexes; every construct
    * ((?s), non-greedy, classes) has identical Java/RE2 semantics. */
  def htmlStripFrom(docs: DataFrame): DataFrame = {
    val noScript = regexp_replace(col("text"),
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noScript, "<[^>]+>", " ")
    val clean = trim(regexp_replace(noTags, "\\s+", " "))
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit("<[^>]+>")).cast("long").as("n_tags"),
      regexp_count(col("text"), lit("<a\\s")).cast("long").as("n_links"),
      clean.as("clean"))
      .select(col("doc_id"), col("n_tags"), col("n_links"),
        size(split(col("clean"), " ")).cast("long").as("n_words_clean"),
        sha2(col("clean").cast("binary"), 256).as("clean_sha"))
      .orderBy("doc_id")
  }

  /** §2 #182 — markup strip over the fixture corpus. The synthetic
    * corpus carries no natural markup, so a deterministic slice
    * (doc_id % 3 = 0) is first wrapped in an HTML scaffold with a
    * script block and a link — identically in both engines (the
    * event_dedup replay stance) — and the gate must recover exactly
    * the original text for wrapped docs. */
  def htmlStrip(spark: SparkSession, sfDir: String): DataFrame =
    htmlStripFrom(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(
          lit("<html><head><script type=\"text/js\">var x = 1 < 2;</script>"),
          lit("</head><body><p>"), col("text"),
          lit("</p><a href=\"https://example.com\">ref</a></body></html>")))
          .otherwise(col("text")).as("text")))

  val htmlStripOracle: String =
    """WITH src AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN
             '<html><head><script type="text/js">var x = 1 < 2;</script>'
             || '</head><body><p>' || text
             || '</p><a href="https://example.com">ref</a></body></html>'
           ELSE text END AS text
         FROM documents),
        stripped AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text, '<[^>]+>')) AS BIGINT)
             AS n_tags,
           CAST(len(regexp_extract_all(text, '<a\s')) AS BIGINT)
             AS n_links,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
             '\s+', ' ', 'g')) AS clean
         FROM src)
       SELECT doc_id, n_tags, n_links,
         CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_words_clean,
         sha256(clean) AS clean_sha
       FROM stripped ORDER BY doc_id"""

  /** Generic core: CCNet-style perplexity BUCKETING over ANY
    * (doc_id, text, lang) frame — per language, split the corpus into
    * head / middle / tail thirds by LM perplexity (Wenzek et al. 2020,
    * "CCNet": keep the head, inspect the middle, drop the tail). The
    * standard second stage after [[perplexityFrom]]: a score alone
    * filters nothing until it is cut per-language, because languages
    * have incomparable perplexity ranges.
    *
    * Scale shape — the naive form (ntile over a per-language window)
    * sorts a third of the corpus on ONE reducer per language; this
    * one never does. avg_nll is already rounded to 4 dp, so the score
    * DOMAIN is bounded (≤ a few 10⁵ distinct (lang, score) keys no
    * matter the corpus size): aggregate doc counts per (lang, nll4),
    * run the cumulative window over that BOUNDED table, and broadcast
    * the (lang, nll4 → bucket) map back onto the per-doc frame. Two
    * bounded aggs + one broadcast join; the corpus shuffles only
    * inside perplexityFrom itself.
    *
    * Tie policy: docs sharing a 4-dp score NEVER split across buckets —
    * a score-group lands in the bucket its cumulative END position
    * falls in (head iff cum·3 ≤ n, middle iff cum·3 ≤ 2n). Integer
    * arithmetic, no float boundary compare, bit-identical in DuckDB. */
  def perplexityBucketsFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = perplexityFrom(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("nll4", round(col("avg_nll") * 10000).cast("long"))
    val perScore = scored.groupBy("lang", "nll4")
      .agg(count(lit(1)).as("cnt"))
    val perLang = Window.partitionBy("lang").orderBy("nll4")
    val cum = perScore
      .withColumn("cum", sum(col("cnt")).over(perLang))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("lang")))
      .withColumn("ppl_bucket",
        when(col("cum") * 3 <= col("n"), "head")
          .when(col("cum") * 3 <= col("n") * 2, "middle")
          .otherwise("tail"))
    scored
      .join(broadcast(cum.select(col("lang"), col("nll4"), col("ppl_bucket"))),
        Seq("lang", "nll4"))
      .select(col("doc_id"), col("lang"), col("avg_nll"), col("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** §2 #167 — CCNet perplexity head/middle/tail assignment of the
    * fixture corpus (docs with <2 words carry no bigram evidence and
    * are absent, exactly as in [[perplexityFrom]]). */
  def perplexityBuckets(spark: SparkSession, sfDir: String): DataFrame =
    perplexityBucketsFrom(Tables.load(spark, sfDir, "documents"))

  /** Email/IPv4 patterns shared verbatim with the oracle: every
    * construct here (classes, bounded repeats, `\b`) has identical
    * semantics in Java regex (Spark) and RE2 (DuckDB). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Generic core: PII SCRUB over ANY (doc_id, text) frame — redact
    * emails then IPv4s, report per-doc counts and the fingerprint of
    * the redacted text. The compliance pass every shipped corpus runs;
    * map-only (regex count + replace per row, codegen'd built-ins), so
    * it rides along with any other scan at 100 TB. */
  def piiScrubFrom(docs: DataFrame): DataFrame = {
    val nEmails = regexp_count(col("text"), lit(EmailRe)).cast("long")
    val nIps = regexp_count(col("text"), lit(Ipv4Re)).cast("long")
    val scrubbed = regexp_replace(
      regexp_replace(col("text"), EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")
    docs.select(col("doc_id"), nEmails.as("n_emails"), nIps.as("n_ips"),
      sha2(scrubbed.cast("binary"), 256).as("scrubbed_sha"))
      .withColumn("had_pii", col("n_emails") + col("n_ips") > 0)
      .orderBy("doc_id")
  }

  /** Generic core: CHARSET/mojibake gate over ANY (doc_id, text) frame
    * — counts U+FFFD replacement characters (the fingerprint of a
    * mis-decoded byte stream) and C0 control characters (excluding
    * tab/newline/CR), plus the clean-character fraction; `charset_ok`
    * is the admission decision. The standard encoding-sanity gate a
    * crawl corpus runs before anything downstream trusts the text.
    * Map-only codegen'd regex counts — rides any scan at 100 TB. */
  def charsetGateFrom(docs: DataFrame): DataFrame = {
    val nRepl = regexp_count(col("text"), lit("�")).cast("long")
    val nCtrl = regexp_count(col("text"),
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).cast("long")
    docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nRepl.as("n_replacement"), nCtrl.as("n_control"))
      .withColumn("clean_frac",
        round(lit(1.0) - (col("n_replacement") + col("n_control"))
          / col("n_chars").cast("double"), 4))
      .withColumn("charset_ok",
        col("n_replacement") === 0 && col("n_control") === 0)
      .orderBy("doc_id")
  }

  /** §2 #99 — charset gate over the fixture corpus; clean synthetic
    * text gets deterministic mojibake injected first (pii_scrub's
    * stance), identically in both engines. */
  def charsetGate(spark: SparkSession, sfDir: String): DataFrame =
    charsetGateFrom(Tables.load(spark, sfDir, "documents")
      .withColumn("text", expr(
        // Spark's char(n) wraps at 256, so the replacement character
        // must be a literal; char(7) (BEL) is safe
        """concat(text,
             if(doc_id % 9 = 0,
                repeat('�', cast(doc_id % 3 + 1 as int)), ''),
             if(doc_id % 15 = 0, char(7), ''))""")))

  /** DuckDB oracle for [[charsetGate]]. */
  val charsetOracle: String =
    """WITH t AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 9 = 0
                THEN repeat(chr(65533), CAST(doc_id % 3 + 1 AS INTEGER))
                ELSE '' END ||
           CASE WHEN doc_id % 15 = 0 THEN chr(7) ELSE '' END AS text
         FROM documents),
        c AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(text, chr(65533))) AS BIGINT)
             AS n_replacement,
           CAST(len(regexp_extract_all(text,
             '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_control
         FROM t)
       SELECT doc_id, n_chars, n_replacement, n_control,
         round(1.0 - (n_replacement + n_control)
               / CAST(n_chars AS DOUBLE), 4) AS clean_frac,
         (n_replacement = 0 AND n_control = 0) AS charset_ok
       FROM c ORDER BY doc_id"""

  /** §2 #87 — PII scrub over the fixture corpus. The synthetic corpus
    * carries no PII, so (like fk_orphans' thinned parents) a
    * deterministic slice gets addresses/IPs injected FIRST — the same
    * injection the oracle applies — and the scrub has real work whose
    * counts and redacted digests both engines must agree on. */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    piiScrubFrom(Tables.load(spark, sfDir, "documents")
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com now")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" from 10.0."), col("doc_id") % 256,
              lit(".7 logged")))
          .otherwise(col("text"))))

  /** Generic core: tokenizer VOCABULARY COVERAGE over ANY
    * (doc_id, text) frame — the table a tokenizer-training pass builds
    * first: the global top-`k` words by count with rank and cumulative
    * corpus-coverage fraction (what share of all token occurrences the
    * first r vocabulary entries explain). The coverage curve decides
    * vocab size and flags corpora whose head is template boilerplate.
    *
    * Scale shape: one hash aggregate (word → count; partial map-side
    * combine, exchange carries (word, count) pairs only), then
    * `orderBy.limit(k)` — which Spark plans as TakeOrderedAndProject:
    * each partition keeps its own top-k heap and the driver merges
    * nParts·k rows, never a global sort. The rank/cumsum window after
    * it runs over ≤ k rows by construction (bounded model state, same
    * stance as seq_pack's offsets), so the empty-frame Window warning
    * does not apply at any corpus size. */
  def vocabCoverageFrom(docs: DataFrame, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(TextShingles.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    // single-partition ordered window over the k-row head only (the
    // limit(k) runs first) — on WindowLintSpec's bounded allowlist
    val byCount = Window.orderBy(col("n").desc, col("word"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.orderBy(col("n").desc, col("word")).limit(k)
      .crossJoin(broadcast(total))
      .select(
        row_number().over(Window.orderBy(col("n").desc, col("word")))
          .as("rank"),
        col("word"), col("n"),
        round(sum("n").over(byCount) / col("total").cast("double"), 4)
          .as("cum_frac"))
      .orderBy("rank")
  }

  /** §2 #103 — vocabulary coverage over the fixture corpus. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame =
    vocabCoverageFrom(Tables.load(spark, sfDir, "documents"))

  /** DuckDB oracle for [[vocabCoverage]]. */
  val vocabOracle: String =
    """WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
             AS word FROM documents),
        c AS (SELECT word, count(*) AS n FROM w GROUP BY word),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        top AS (SELECT word, n FROM c ORDER BY n DESC, word LIMIT 100)
       SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS INTEGER)
                AS rank,
              word, n,
              round(CAST(sum(n) OVER (ORDER BY n DESC, word
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) / CAST(total AS DOUBLE), 4) AS cum_frac
       FROM top, t ORDER BY rank"""

  /** Generic core: bigram COLLOCATIONS by pointwise mutual information
    * over ANY (doc_id, text) frame — PMI = ln(P(w1 w2) / (P(w1)·P(w2)))
    * with unigram probabilities over all token occurrences and bigram
    * probabilities over all adjacent pairs, restricted to pairs seen
    * ≥ `minCount` times (the classic Church–Hanks collocation score; a
    * curation pass uses it to spot boilerplate phrases and to build
    * phrase-aware tokenizers).
    *
    * Determinism: the PMI double is computed with one explicitly
    * parenthesized expression evaluated identically by both engines,
    * rounded to 4 dp BEFORE the (pmi desc, w1, w2) ordering, so the
    * top-k cut is a total order with no float-tie ambiguity.
    *
    * Scale shape: two hash aggregates (unigram + bigram counts), two
    * equi-joins of the surviving pairs against the unigram table
    * (pairs after the ≥ minCount cut are the vocabulary² head, not the
    * corpus), two 1-row broadcast totals, and a TakeOrderedAndProject
    * top-k — raw text never shuffles. */
  def wordPmiFrom(docs: DataFrame, minCount: Long = 5L,
                  k: Int = 50): DataFrame = {
    val toks = docs.select(TextShingles.words(col("text")).as("w"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val nWords = uni.agg(sum("c1").as("n_words"))
    val bi = toks.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
    val pairs = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val nBigrams = pairs.agg(sum("n_pair").as("n_bigrams"))
    pairs.filter(col("n_pair") >= minCount)
      .join(uni.select(col("t").as("w1"), col("c1").as("n_w1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c1").as("n_w2")), "w2")
      .crossJoin(broadcast(nWords)).crossJoin(broadcast(nBigrams))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        round(log((col("n_pair").cast("double") * col("n_words") * col("n_words"))
          / (col("n_bigrams").cast("double") * col("n_w1") * col("n_w2"))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
  }

  /** §2 #104 — top bigram collocations over the fixture corpus. */
  def wordPmi(spark: SparkSession, sfDir: String): DataFrame =
    wordPmiFrom(Tables.load(spark, sfDir, "documents"))

  /** DuckDB oracle for [[wordPmi]]. */
  val pmiOracle: String =
    """WITH w AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
           FROM documents),
        uni AS (SELECT unnest(w) AS t FROM w),
        c1 AS (SELECT t, count(*) AS c1 FROM uni GROUP BY t),
        nw AS (SELECT CAST(sum(c1) AS BIGINT) AS n_words FROM c1),
        bg AS (SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
                              for i in range(1, len(w))]) AS s
               FROM w WHERE len(w) >= 2),
        c2 AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS n_pair
               FROM bg GROUP BY 1, 2),
        nb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_bigrams FROM c2)
       SELECT w1, w2, n_pair, a.c1 AS n_w1, b.c1 AS n_w2,
              round(ln((CAST(n_pair AS DOUBLE) * n_words * n_words)
                    / (CAST(n_bigrams AS DOUBLE) * a.c1 * b.c1)), 4) AS pmi
       FROM c2 JOIN c1 a ON c2.w1 = a.t JOIN c1 b ON c2.w2 = b.t, nw, nb
       WHERE n_pair >= 5
       ORDER BY pmi DESC, w1, w2 LIMIT 50"""

  /** Generic core: MODEL-BASED quality score over the [[textStats]]
    * feature frame — a fixed-weight logistic regression (the shape of
    * the fastText/CCNet-style quality classifier every pretraining
    * pipeline runs; the weights here stand in for a trained model,
    * the plumbing — feature extraction, scoring, thresholding — is the
    * operator). Map-only on top of the map-only stats: at 100 TB this
    * rides the same scan as the rest of the quality gates.
    *
    * Determinism: features enter z already rounded (textStats' 4 dp
    * ratios), the linear form is one explicitly parenthesized
    * expression, and the sigmoid is rounded to 4 dp before the ≥ 0.5
    * admission compare — both engines evaluate identical arithmetic. */
  def qualityModelFrom(stats: DataFrame): DataFrame =
    stats.select(col("doc_id"),
      (lit(-2.0) + lit(0.9) * log(col("n_words") + lit(1.0))
        + lit(3.0) * col("stop_ratio") - lit(8.0) * col("punct_ratio"))
        .as("z"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4).as("score"))
      .withColumn("accepted", col("score") >= 0.5)
      .orderBy("doc_id")

  /** §2 #105 — logistic quality model over the fixture corpus. */
  def qualityModel(spark: SparkSession, sfDir: String): DataFrame =
    qualityModelFrom(textStats(spark, sfDir))

  /** DuckDB oracle for [[qualityModel]] (features = the text_stats
    * oracle's, verbatim). */
  val qualityModelOracle: String =
    """WITH s AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_words,
             CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT)
               AS n_punct,
             CAST(len(regexp_extract_all(lower(text),
               '\b(?:the|and|is|of|to)\b', 0)) AS BIGINT) AS n_stop
           FROM documents),
        f AS (SELECT doc_id, n_words,
             round(n_stop / n_words, 4) AS stop_ratio,
             round(n_punct / n_chars_calc, 4) AS punct_ratio FROM s),
        z AS (SELECT doc_id,
             -2.0 + 0.9 * ln(n_words + 1.0)
               + 3.0 * stop_ratio - 8.0 * punct_ratio AS z FROM f)
       SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS score,
              round(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS accepted
       FROM z ORDER BY doc_id"""

  /** §2 #143 — QUALITY-SCORE CALIBRATION: the quality_model score
    * bucketed into deciles, each decile scored against an INDEPENDENT
    * quality proxy (language-ID agreement with the labeled lang) — the
    * reliability table that decides whether the score's 0.5 admission
    * threshold means anything before a 100 TB corpus is cut with it. A
    * well-calibrated score shows lang-ID agreement rising with the
    * decile; a flat column says the model ranks noise.
    *
    * Decile means are DECIMAL-summed (scores are exact 4-dp values, so
    * the sum is exact and order-independent — the entropy/mix-report
    * stance) and divided once in double; the agreement rate is an
    * integer ratio. Scale shape: two map-only per-doc passes (the score
    * formula and the lang-ID regex counts — one corpus scan each, no
    * text shuffle), one doc_id equi-join, one ≤10-row hash aggregate. */
  def qualityCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val qm = qualityModel(spark, sfDir).select(col("doc_id"), col("score"))
    val li = langId(spark, sfDir).select(col("doc_id"), col("is_match"))
    qm.join(li, "doc_id")
      .withColumn("decile",
        least(floor(col("score") * 10), lit(9L)).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score").cast("decimal(18,4)")).as("score_sum"),
        sum(when(col("is_match"), 1L).otherwise(0L)).as("n_lang_ok"))
      .select(col("decile"), col("n_docs"),
        round(col("score_sum").cast("double") / col("n_docs"), 4)
          .as("mean_score"),
        col("n_lang_ok"),
        round(col("n_lang_ok") / col("n_docs").cast("double"), 4)
          .as("lang_ok_rate"))
      .orderBy("decile")
  }

  /** DuckDB oracle for [[qualityCalibration]] — the quality_model and
    * lang_id oracle pipelines joined and decile-bucketed. */
  val qualityCalibrationOracle: String =
    s"""WITH s AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_words,
             CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT)
               AS n_punct,
             CAST(len(regexp_extract_all(lower(text),
               '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT) AS n_stop
           FROM documents),
        f AS (SELECT doc_id,
             -2.0 + 0.9 * ln(n_words + 1.0)
               + 3.0 * round(n_stop / n_words, 4)
               - 8.0 * round(n_punct / n_chars_calc, 4) AS z FROM s),
        q AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS score
              FROM f),
        li AS (SELECT doc_id, pred_lang = lang AS is_match FROM (
            SELECT doc_id, lang, $langCaseSql AS pred_lang
            FROM (SELECT doc_id, lang,
                    len(regexp_extract_all(text,
                      '[\\x{4e00}-\\x{9fff}]', 0)) AS c_zh,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:the|and|is|of|to)\\b', 0)) AS c_en,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:der|die|und|ist|das)\\b', 0)) AS c_de,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:le|la|et|est|les)\\b', 0)) AS c_fr,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:el|los|y|es|una)\\b', 0)) AS c_es
                  FROM documents))),
        j AS (SELECT CAST(least(floor(score * 10), 9) AS INTEGER)
                AS decile, score, is_match
              FROM q JOIN li USING (doc_id))
       SELECT decile, count(*) AS n_docs,
         round(CAST(sum(CAST(score AS DECIMAL(18,4))) AS DOUBLE)
               / count(*), 4) AS mean_score,
         CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lang_ok,
         round(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 4) AS lang_ok_rate
       FROM j GROUP BY 1 ORDER BY 1"""

  /** Generic core: INVERTED-INDEX build over ANY (doc_id, text) frame
    * — per term: document frequency, collection frequency, posting
    * span, and an ORDER-INDEPENDENT postings checksum (decimal sum of
    * the Knuth-hashed doc ids — the integrity_checksum stance), top-k
    * terms by df. With vocab_coverage and bm25_search this completes
    * the lexical-search path: vocabulary → postings → scoring.
    *
    * Scale shape: one (term, doc) hash aggregate with map-side
    * combine, one term-level aggregate whose per-term state is FIVE
    * scalars — a hot term's billion-row posting list is never
    * collected anywhere, its checksum folds commutatively — then a
    * TakeOrderedAndProject top-k. */
  def invertedIndexFrom(docs: DataFrame, k: Int = 50): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(TextShingles.words(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    perDoc
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        // exact decimal sum of the 32-bit posting hashes, folded mod
        // 2^61-1 into BIGINT — the checksum must fit int64 so every
        // downstream hasher normalizes it identically on both engines
        (sum(Quality.knuth32(col("doc_id")).cast(DecimalType(38, 0)))
          % lit(2305843009213693951L)).cast("long").as("postings_check"))
      .orderBy(col("df").desc, col("term")).limit(k)
  }

  /** §2 #111 — inverted index of the fixture corpus. */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    invertedIndexFrom(Tables.load(spark, sfDir, "documents"))

  /** DuckDB oracle for [[invertedIndex]]. */
  val invertedIndexOracle: String =
    s"""WITH t AS (SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
          FROM documents),
        pd AS (SELECT term, doc_id, count(*) AS tf
               FROM t GROUP BY term, doc_id)
       SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
              min(doc_id) AS first_doc, max(doc_id) AS last_doc,
              CAST(sum(CAST(${Quality.knuthSql("doc_id")} AS HUGEINT))
                % 2305843009213693951 AS BIGINT) AS postings_check
       FROM pd GROUP BY term
       ORDER BY df DESC, term LIMIT 50"""

  /** Generic core: per-source MIXTURE REPORT over ANY
    * (doc_id, source, lang, text) frame — document/token shares and
    * the Shannon entropy (bits) of each source's language
    * distribution: the diagnostics a mixture builder reads before
    * setting per-source budgets (a zero-entropy source is
    * monolingual; a high-entropy one needs per-language sub-budgets).
    *
    * Determinism: each language's −p·log2(p) term is rounded to 8 dp
    * and summed as DECIMAL (order-independent, the lm_perplexity
    * stance) before the final 4 dp rounding; token counts and shares
    * are exact integers and one double division.
    *
    * Scale shape: two hash aggregates — (source, lang) then source —
    * plus a 1-row broadcast total; exchanges carry count triples. */
  def sourceMixReportFrom(docs: DataFrame): DataFrame = {
    val byLang = docs.select(col("source"), col("lang"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n"), sum("n_tok").as("toks"))
    val bySource = byLang.groupBy("source")
      .agg(sum("n").as("n_docs"), sum("toks").as("sum_tokens"),
        count(lit(1)).as("n_langs"))
    val total = bySource.agg(sum("sum_tokens").as("all_tokens"))
    // p·ln(p) / −ln2 = −p·log2(p), with ln in BOTH engines (a native
    // log2 could differ in the last ulp from ln(x)/ln(2))
    val p = col("n") / col("nd").cast("double")
    val ent = byLang.join(bySource.select(col("source"),
        col("n_docs").as("nd")), "source")
      .withColumn("term",
        round((p * log(p)) / lit(-0.6931471805599453), 8)
          .cast(DecimalType(18, 8)))
      .groupBy("source").agg(sum("term").as("ent_sum"))
    bySource.join(ent, "source").crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("sum_tokens"),
        round(col("sum_tokens") / col("all_tokens").cast("double"), 4)
          .as("token_share"),
        round(col("ent_sum").cast("double"), 4).as("lang_entropy_bits"))
      .orderBy("source")
  }

  /** §2 #112 — mixture report of the fixture corpus. */
  def sourceMixReport(spark: SparkSession, sfDir: String): DataFrame =
    sourceMixReportFrom(Tables.load(spark, sfDir, "documents"))

  /** DuckDB oracle for [[sourceMixReport]]. */
  val sourceMixOracle: String =
    """WITH bl AS (SELECT source, lang, count(*) AS n,
            CAST(sum(len(string_split_regex(trim(text), '\s+')))
              AS BIGINT) AS toks
          FROM documents GROUP BY source, lang),
        bs AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
                 CAST(sum(toks) AS BIGINT) AS sum_tokens,
                 count(*) AS n_langs
               FROM bl GROUP BY source),
        tot AS (SELECT CAST(sum(sum_tokens) AS BIGINT) AS all_tokens
                FROM bs),
        ent AS (SELECT bl.source,
                  sum(CAST(round(((n / CAST(n_docs AS DOUBLE))
                    * ln(n / CAST(n_docs AS DOUBLE)))
                    / -0.6931471805599453, 8)
                    AS DECIMAL(18,8))) AS ent_sum
                FROM bl JOIN bs ON bl.source = bs.source
                GROUP BY bl.source)
       SELECT bs.source, n_docs, n_langs, sum_tokens,
              round(sum_tokens / CAST(all_tokens AS DOUBLE), 4)
                AS token_share,
              round(CAST(ent_sum AS DOUBLE), 4) AS lang_entropy_bits
       FROM bs JOIN ent ON bs.source = ent.source, tot
       ORDER BY bs.source"""

  /** §2 #199 — SOURCE KL DIVERGENCE: per-source unigram distribution
    * vs the corpus-wide distribution, both restricted to the corpus
    * TOP-K words — KL(source ‖ corpus) = Σ p_s·ln(p_s/p_c). The
    * mixture-health number next to #112's entropy: entropy says how a
    * source spreads over languages; KL says how far its WORD usage
    * drifts from the blend it feeds (near 0 = interchangeable filler;
    * high = a distinct register worth its own mixture weight — the
    * signal DSIR/importance-weighting schemes build on). Restricting
    * both distributions to the corpus top-K keeps the support shared
    * and the statistic vocabulary-bounded; zero-count terms contribute
    * 0 by the 0·ln0 convention (inner join drops them identically in
    * both engines).
    *
    * Scale shape: the token explode rides the corpus scan; every
    * aggregate after it is vocabulary- or source-bounded; the K-word
    * reference list is a TakeOrdered + broadcast (bounded model state,
    * like every trained literal here). Terms are 8-dp rounded and
    * decimal-summed, so the KL is partition-order independent. */
  def sourceKl(spark: SparkSession, sfDir: String,
               topK: Int = 200): DataFrame =
    sourceKlFrom(Tables.load(spark, sfDir, "documents"), topK)

  /** Generic core over ANY (source, text) frame. */
  def sourceKlFrom(docs: DataFrame, topK: Int = 200): DataFrame = {
    val toks = docs.select(col("source"),
      explode(TextShingles.words(col("text"))).as("t"))
    // deterministic reference vocabulary: top-K by (count desc, word)
    val corpus = toks.groupBy("t").agg(count(lit(1)).as("cw"))
      .orderBy(desc("cw"), col("t")).limit(topK)
    val corpusTot = corpus.agg(sum("cw").as("nc"))
    val src = toks.join(broadcast(corpus), "t")
      .groupBy("source", "t")
      .agg(count(lit(1)).as("cs"), first(col("cw")).as("cw"))
    val srcTot = src.groupBy("source").agg(sum("cs").as("ns"))
    src.join(srcTot, "source").crossJoin(broadcast(corpusTot))
      .withColumn("term", round(
        (col("cs") / col("ns").cast("double"))
          * log((col("cs").cast("double") * col("nc"))
            / (col("ns").cast("double") * col("cw"))), 8)
        .cast(DecimalType(18, 8)))
      .groupBy("source")
      .agg(max("ns").as("n_topk_tokens"),
        count(lit(1)).as("n_topk_words"),
        sum("term").as("kl_sum"))
      .select(col("source"), col("n_topk_tokens"), col("n_topk_words"),
        round(col("kl_sum").cast("double"), 4).as("kl4"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[sourceKl]]: same top-K tie-break, same
    * double-division and ln arithmetic, same 8-dp decimal term sum. */
  def sourceKlOracle(topK: Int = 200): String =
    s"""WITH w AS (SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
           FROM documents),
        c AS (SELECT t, count(*) AS cw FROM w
              GROUP BY t ORDER BY cw DESC, t LIMIT $topK),
        nc AS (SELECT CAST(sum(cw) AS BIGINT) AS nc FROM c),
        s AS (SELECT source, w.t, count(*) AS cs, any_value(cw) AS cw
              FROM w JOIN c ON w.t = c.t GROUP BY source, w.t),
        ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns
               FROM s GROUP BY source)
       SELECT s.source, CAST(max(ns) AS BIGINT) AS n_topk_tokens,
         CAST(count(*) AS BIGINT) AS n_topk_words,
         round(CAST(sum(CAST(round((cs / CAST(ns AS DOUBLE))
             * ln((CAST(cs AS DOUBLE) * nc) / (CAST(ns AS DOUBLE) * cw)),
             8) AS DECIMAL(18,8))) AS DOUBLE), 4) AS kl4
       FROM s JOIN ns ON s.source = ns.source, nc
       GROUP BY s.source ORDER BY s.source"""

  /** §2 #208 — POPULATION STABILITY INDEX per source: the NUMERIC-
    * feature drift audit beside [[sourceMixReport]] (shares) and
    * [[sourceKl]] (vocabulary) — PSI of each source's document-length
    * distribution against the corpus blend, over fixed-width 256-char
    * bins (deterministic bin edges: no cross-engine quantile-
    * interpolation contract needed). PSI = Σ (p_s − p_g)·ln(p_s/p_g)
    * over bins the source populates; corpus bins the source misses are
    * COUNTED (`n_bins_skipped`) rather than epsilon-smoothed — the
    * missing-mass is its own signal, not noise to paper over.
    * `is_shifted` flags PSI > 0.2 (the industry screening threshold).
    *
    * Scale shape: one map-only bin computation + two hash aggregates
    * (cells ≤ |sources|·|bins|, both partial-combined) + a broadcast
    * of the |bins|-row global table. Terms are 8-dp decimals (the
    * order-independent exact-sum doctrine of source_kl). */
  def sourcePsi(spark: SparkSession, sfDir: String,
                binWidth: Int = 256): DataFrame =
    sourcePsiFrom(Tables.load(spark, sfDir, "documents"), binWidth)

  /** Generic core over ANY (source, n_chars) frame. */
  def sourcePsiFrom(docs: DataFrame, binWidth: Int): DataFrame = {
    val cells = docs
      .select(col("source"), (col("n_chars") / binWidth)
        .cast("long").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("cs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val global = cells.groupBy("bin").agg(sum("cs").as("cg"))
    val globTot = cells.agg(sum("cs").as("n"))
    val srcTot = cells.groupBy("source").agg(sum("cs").as("ns"))
    val nBins = global.agg(count(lit(1)).as("n_bins"))
    TransientCaches.register(cells)
    cells
      .join(broadcast(global), Seq("bin"))
      .join(srcTot, Seq("source"))
      .crossJoin(broadcast(globTot))
      .withColumn("term", round(
        (col("cs") / col("ns").cast("double")
          - col("cg") / col("n").cast("double"))
          * log((col("cs").cast("double") * col("n"))
            / (col("ns").cast("double") * col("cg"))), 8)
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)))
      .groupBy("source")
      .agg(max("ns").as("n_docs"), count(lit(1)).as("n_bins_hit"),
        sum("term").as("psi_sum"))
      .crossJoin(broadcast(nBins))
      .select(col("source"), col("n_docs"),
        col("n_bins_hit"),
        (col("n_bins") - col("n_bins_hit")).as("n_bins_skipped"),
        round(col("psi_sum").cast("double"), 4).as("psi4"),
        (col("psi_sum").cast("double") > 0.2).as("is_shifted"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[sourcePsi]]: same fixed bins, same 8-dp
    * decimal terms, same skipped-bin accounting. */
  def sourcePsiOracle(binWidth: Int = 256): String =
    s"""WITH cells AS (SELECT source, n_chars // $binWidth AS bin,
                         count(*) AS cs
                       FROM documents GROUP BY 1, 2),
        gb AS (SELECT bin, sum(cs) AS cg FROM cells GROUP BY 1),
        gt AS (SELECT sum(cs) AS n FROM cells),
        st AS (SELECT source, sum(cs) AS ns FROM cells GROUP BY 1),
        nb AS (SELECT count(*) AS n_bins FROM gb)
       SELECT c.source, CAST(max(st.ns) AS BIGINT) AS n_docs,
         count(*) AS n_bins_hit,
         CAST(max(nb.n_bins) - count(*) AS BIGINT) AS n_bins_skipped,
         round(CAST(sum(CAST(round(
             (c.cs / CAST(st.ns AS DOUBLE) - gb.cg / CAST(gt.n AS DOUBLE))
             * ln((CAST(c.cs AS DOUBLE) * gt.n)
               / (CAST(st.ns AS DOUBLE) * gb.cg)), 8)
           AS DECIMAL(18,8))) AS DOUBLE), 4) AS psi4,
         CAST(sum(CAST(round(
             (c.cs / CAST(st.ns AS DOUBLE) - gb.cg / CAST(gt.n AS DOUBLE))
             * ln((CAST(c.cs AS DOUBLE) * gt.n)
               / (CAST(st.ns AS DOUBLE) * gb.cg)), 8)
           AS DECIMAL(18,8))) AS DOUBLE) > 0.2 AS is_shifted
       FROM cells c
       JOIN gb ON gb.bin = c.bin
       JOIN st ON st.source = c.source, gt, nb
       GROUP BY c.source ORDER BY c.source"""

  /** Generic core: Unicode canonicalization (NFC + whitespace collapse
    * + trim) via the codegen'd [[graft.functions.NfcNormalize]]
    * expression — the pass that must run BEFORE any exact-hash dedup:
    * composed vs decomposed code point sequences (é as U+00E9 or
    * e+U+0301) render identically but hash differently, so without it
    * the exact/paragraph/line dedup operators silently under-merge.
    * Map-only, rides along with any corpus scan at 100 TB. */
  def textNormalizeFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.CatalystBridge
    val collapsed = trim(regexp_replace(col("text"), "\\s+", " "))
    val norm = CatalystBridge.column(
      graft.functions.NfcNormalize(CatalystBridge.expression(collapsed)))
    docs
      .withColumn("norm", norm)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        (col("norm") =!= col("text")).as("changed"),
        sha2(col("norm").cast("binary"), 256).as("norm_sha"))
      .orderBy("doc_id")
  }

  /** §2 #115 — NFC normalization over the fixture corpus. The corpus
    * is pure ASCII (already NFC), so decomposed sequences are PLANTED
    * on fixed doc_id slices — e+COMBINING ACUTE (NFC composes to é),
    * the ANGSTROM SIGN singleton (U+212B → U+00C5), A+COMBINING RING
    * (→ U+00C5) — identically in both engines, so the oracle checks
    * real composition work, not an identity map. */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame =
    textNormalizeFrom(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" unit \u212B")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" ring A\u030A")).otherwise(lit("")))
        .as("text")))

  /** DuckDB oracle for [[textNormalize]] (chr(769)=U+0301 COMBINING
    * ACUTE, chr(8491)=U+212B ANGSTROM SIGN, chr(778)=U+030A COMBINING
    * RING — DuckDB's nfc_normalize applies the same UAX #15 tables as
    * java.text.Normalizer). */
  val textNormalizeOracle: String =
    """WITH t AS (SELECT doc_id,
           text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
                        ELSE '' END
                || CASE WHEN doc_id % 5 = 0 THEN ' unit ' || chr(8491)
                        ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN ' ring A' || chr(778)
                        ELSE '' END AS text
         FROM documents),
        n AS (SELECT doc_id, text,
           nfc_normalize(trim(regexp_replace(text, '\s+', ' ', 'g')))
             AS norm
         FROM t)
       SELECT doc_id,
         length(text) AS n_chars_raw,
         length(norm) AS n_chars_norm,
         norm <> text AS changed,
         sha256(norm) AS norm_sha
       FROM n ORDER BY doc_id"""

  /** §2 #32 — character 3-gram profile: distinct shingle count per doc. */
  def textShingles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(length(col("text")) >= 3,
          // expr: the Scala substring() helper takes literal positions,
          // the SQL one accepts the lambda-bound index column
          size(array_distinct(expr(
            "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))))
          .otherwise(0).as("n_shingles3"))
      .orderBy("doc_id")

  /** §2 #124 — QUALITY ADMISSION FUNNEL: the composed corpus-intake
    * pipeline as ONE query — four sequential gates (minimum length,
    * stopword-blend quality score, modal-word repetition, language
    * agreement), each document rejected at its FIRST failing gate, and
    * the per-stage attrition report (n_in, n_rejected, n_out) a corpus
    * owner actually reads. The gates reuse the exact formulas of
    * text_stats / quality_repetition / lang_id, so the funnel is the
    * composition witness for the whole gate family.
    *
    * Scale shape: gates 1/2/4 are map-only regex/size arithmetic; gate
    * 3 needs the per-doc modal word — one (doc, word) hash aggregate.
    * The funnel itself is ONE 1-row aggregate stacked into 4 rows;
    * raw text never shuffles. */
  def qualityFunnel(spark: SparkSession, sfDir: String, minWords: Int = 10,
                    minQuality: Double = 0.5,
                    topWordMax: Double = 0.3): DataFrame =
    qualityFunnelFrom(Tables.load(spark, sfDir, "documents"),
      minWords, minQuality, topWordMax)

  /** Generic core over ANY (doc_id, lang, text) frame. */
  def qualityFunnelFrom(docs: DataFrame, minWords: Int = 10,
                        minQuality: Double = 0.5,
                        topWordMax: Double = 0.3): DataFrame = {
    val nWords = size(split(trim(col("text")), "\\s+")).cast("long")
    val nStop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(?:the|and|is|of|to)\\b"), lit(0))).cast("long")
    val langCounts = langPatterns.foldLeft(
      docs.withColumn("c_zh", size(regexp_extract_all(col("text"),
        lit("[\\x{4e00}-\\x{9fff}]"), lit(0))))) {
      case (df, (l, pat)) =>
        df.withColumn(s"c_$l",
          size(regexp_extract_all(lower(col("text")), lit(pat), lit(0))))
    }
    val stats = langCounts.select(col("doc_id"), col("lang"),
      nWords.as("n_words"), nStop.as("n_stop"),
      expr(langCaseSql).as("pred_lang"))
    val topc = docs
      .select(col("doc_id"), explode(TextShingles.words(col("text"))).as("wd"))
      .groupBy("doc_id", "wd").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"))
    val quality = round(
      least(col("n_words") / lit(50.0), lit(1.0)) * 0.5
        + (col("n_stop") / col("n_words")) * 0.5, 4)
    val ff = stats.join(topc, "doc_id")
      .select(
        when(!(col("n_words") >= minWords), 1)
          .when(!(quality >= minQuality), 2)
          .when(!(round(col("top_c") / col("n_words").cast("double"), 4)
            <= topWordMax), 3)
          .when(!(col("pred_lang") === col("lang")), 4)
          .otherwise(0).as("ff"))
    ff.agg(count(lit(1)).as("n"),
        sum(when(col("ff") === 1, 1L).otherwise(0L)).as("r1"),
        sum(when(col("ff") === 2, 1L).otherwise(0L)).as("r2"),
        sum(when(col("ff") === 3, 1L).otherwise(0L)).as("r3"),
        sum(when(col("ff") === 4, 1L).otherwise(0L)).as("r4"))
      .selectExpr("""stack(4,
          1, 'min_length', n, r1, n - r1,
          2, 'quality', n - r1, r2, n - r1 - r2,
          3, 'repetition', n - r1 - r2, r3, n - r1 - r2 - r3,
          4, 'lang_match', n - r1 - r2 - r3, r4, n - r1 - r2 - r3 - r4)
          AS (stage, gate, n_in, n_rejected, n_out)""")
      .orderBy("stage")
  }

  /** DuckDB oracle for [[qualityFunnel]]: every gate formula is the
    * already-proven oracle fragment (text_stats, lang_id, modal-word
    * count), composed into the same first-fail attribution. */
  def qualityFunnelOracle(minWords: Int = 10, minQuality: Double = 0.5,
                          topWordMax: Double = 0.3): String =
    s"""WITH s AS (SELECT doc_id, lang,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_words,
            CAST(len(regexp_extract_all(lower(text),
              '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT) AS n_stop,
            len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS c_zh,
            len(regexp_extract_all(lower(text),
              '\\b(?:the|and|is|of|to)\\b', 0)) AS c_en,
            len(regexp_extract_all(lower(text),
              '\\b(?:der|die|und|ist|das)\\b', 0)) AS c_de,
            len(regexp_extract_all(lower(text),
              '\\b(?:le|la|et|est|les)\\b', 0)) AS c_fr,
            len(regexp_extract_all(lower(text),
              '\\b(?:el|los|y|es|una)\\b', 0)) AS c_es
          FROM documents),
        t AS (SELECT doc_id, max(c) AS top_c FROM (
                SELECT doc_id, w, count(*) AS c FROM (
                  SELECT doc_id,
                    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                  FROM documents)
                GROUP BY doc_id, w)
              GROUP BY doc_id),
        p AS (SELECT
            CASE WHEN NOT (n_words >= $minWords) THEN 1
                 WHEN NOT (round(least(n_words / 50.0, 1.0) * 0.5
                             + (n_stop / n_words) * 0.5, 4) >= $minQuality)
                   THEN 2
                 WHEN NOT (round(top_c / CAST(n_words AS DOUBLE), 4)
                             <= $topWordMax) THEN 3
                 WHEN NOT (($langCaseSql) = lang) THEN 4
                 ELSE 0 END AS ff
          FROM s JOIN t USING (doc_id)),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
                CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
                CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS r4
              FROM p)
       SELECT * FROM (
         SELECT 1 AS stage, 'min_length' AS gate, n AS n_in,
                r1 AS n_rejected, n - r1 AS n_out FROM a
         UNION ALL
         SELECT 2, 'quality', n - r1, r2, n - r1 - r2 FROM a
         UNION ALL
         SELECT 3, 'repetition', n - r1 - r2, r3, n - r1 - r2 - r3 FROM a
         UNION ALL
         SELECT 4, 'lang_match', n - r1 - r2 - r3, r4,
                n - r1 - r2 - r3 - r4 FROM a)
       ORDER BY stage"""

  /** §2 #122 — BPE MERGE TRAINING (tokenizer induction, Sennrich et al.
    * 2016) as distributed aggregation: the first `nMerges` merge rules a
    * byte-pair-encoding tokenizer would learn from the corpus, each
    * round = argmax over frequency-weighted adjacent-symbol-pair counts,
    * greedy left-to-right merge application. Output: one row per merge
    * (step, left, right, pair_freq) — the artifact a tokenizer ships.
    *
    * Scale shape: ONE corpus-scale aggregation (word frequencies);
    * every training round then runs on the DISTINCT-WORD vocabulary
    * (bounded: top `maxWords` by frequency — exactly how production BPE
    * trainers cap their word lists), so round cost is independent of
    * corpus size. Driver state per round is the 1-row argmax — the
    * merge-rule literal broadcast into the next round's fold, bounded
    * model state like the IVF centroids. Ties break (freq desc, left,
    * right); the vocab is restricted to `^[a-z]+$` words so lexicographic
    * order is byte-identical across engines. */
  def bpeTrain(spark: SparkSession, sfDir: String, nMerges: Int = 5,
               maxWords: Int = 2000): DataFrame =
    bpeTrainFrom(Tables.load(spark, sfDir, "documents"), nMerges, maxWords)

  /** Generic core over ANY (doc_id, text) frame. */
  def bpeTrainFrom(docs: DataFrame, nMerges: Int,
                   maxWords: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // corpus-scale pass: frequency per alphabetic word, capped vocab
    val vocab0 = docs
      .select(explode(TextShingles.words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(maxWords)
      .select(col("freq"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
          .as("syms"))
    // the vocab is re-scanned every round — cache it (released at the
    // session boundary), the corpus is never touched again
    var vocab = TransientCaches.register(vocab0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to nMerges) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(syms) - 1),
               i -> struct(element_at(syms, i) AS l,
                           element_at(syms, i + 1) AS r))""")).as("p"),
          col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.nonEmpty) {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((step, l, r, cnt))
        // greedy left-to-right merge of (l, r) in every word — the fold
        // is the textbook BPE apply, replayed verbatim by the oracle
        val next = vocab.select(col("freq"), expr(
          s"""aggregate(syms, cast(array() as array<string>),
                (acc, x) -> CASE WHEN size(acc) > 0
                                  AND element_at(acc, -1) = '$l'
                                  AND x = '$r'
                  THEN concat(slice(acc, 1, size(acc) - 1), array('$l$r'))
                  ELSE concat(acc, array(x)) END)""").as("syms"))
        val cached = TransientCaches.register(next
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        cached.count()
        vocab = cached
      }
    }
    merges.toSeq.toDF("step", "left", "right", "pair_freq")
      .orderBy("step")
  }

  /** §2 #122b — BPE ENCODE: apply the [[bpeTrain]]-learned merge rules
    * to the whole corpus and report per-document token counts and the
    * chars-per-token compression ratio — the measurement that decides
    * whether a tokenizer is good enough BEFORE committing a 100 TB
    * tokenization run (train on the vocab, evaluate on the corpus).
    *
    * Scale shape: training is the bounded [[bpeTrainFrom]] pipeline
    * (vocab-sized rounds); encoding is then MAP-ONLY — the k merge
    * rules are string literals folded into one nested-aggregate
    * expression per word, so the corpus pass rides a single scan with
    * no joins and no shuffle beyond the per-doc aggregate. */
  def bpeEncode(spark: SparkSession, sfDir: String, nMerges: Int = 5,
                maxWords: Int = 2000): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val rules = bpeTrainFrom(docs, nMerges, maxWords).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    encodeWithRules(docs, rules)
  }

  /** The map-only encode pass given already-learned rules: chars →
    * symbols, then each rule applied in order as one nested fold (all
    * literals: codegen sees a constant pipeline). Shared by the
    * train-inline ([[bpeEncode]]) and artifact-fed
    * ([[bpeEncodeFromRules]]) forms — identical output by construction. */
  private def encodeWithRules(docs: DataFrame,
                              rules: Seq[(String, String)]): DataFrame = {
    val encoded = rules.foldLeft(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))") {
      case (acc, (l, r)) =>
        s"""aggregate($acc, cast(array() as array<string>),
              (acc, x) -> CASE WHEN size(acc) > 0
                                AND element_at(acc, -1) = '$l' AND x = '$r'
                THEN concat(slice(acc, 1, size(acc) - 1), array('$l$r'))
                ELSE concat(acc, array(x)) END)"""
    }
    docs
      .select(col("doc_id"),
        explode(TextShingles.words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .select(col("doc_id"), length(col("word")).cast("long").as("n_chars"),
        size(expr(encoded)).cast("long").as("n_toks"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_chars").as("n_chars"),
        sum("n_toks").as("n_tokens"))
      .withColumn("compression",
        round(col("n_chars") / col("n_tokens").cast("double"), 4))
      .orderBy("doc_id")
  }

  /** TOKENIZER ARTIFACT (the §8 artifact doctrine applied to the BPE
    * family): persist the learned merge rules as a tiny versioned
    * parquet — train ONCE per corpus version, then every encode
    * (batch, backfill, stream) reads the artifact instead of re-paying
    * the corpus-scale vocabulary pass. The rules table IS the
    * tokenizer: (step, left, right, pair_freq), k rows of model state. */
  def bpeRulesToDir(spark: SparkSession, sfDir: String, dir: String,
                    nMerges: Int = 5, maxWords: Int = 2000): Unit =
    bpeTrain(spark, sfDir, nMerges, maxWords)
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** Read a [[bpeRulesToDir]] artifact (schema-checked). */
  def readBpeRules(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.parquet(dir)
    require(df.columns.toSeq == Seq("step", "left", "right", "pair_freq"),
      s"not a BPE rules artifact: ${df.columns.mkString(", ")}")
    df
  }

  /** §2 #122c — ENCODE FROM THE RULES ARTIFACT: identical output to
    * [[bpeEncode]] (same fold, same rules — TextAnalysisSpec proves
    * equality), but the training pass is replaced by a k-row artifact
    * read. This is the shape a production tokenization run has: the
    * vocabulary is versioned alongside the corpus, and a 100 TB encode
    * never re-trains. */
  def bpeEncodeFromRules(docs: DataFrame, rulesDf: DataFrame): DataFrame = {
    val rules = rulesDf.orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    encodeWithRules(docs, rules)
  }

  /** Per-session registry of rules artifacts — one train per
    * (sfDir, nMerges, maxWords) per JVM (the in-process form of the
    * versioned-vocab doctrine; same pattern as
    * [[Dedup.sharedVerifiedPairsDir]]). */
  private val sharedRulesDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), String]()
  private lazy val rulesNs = java.util.UUID.randomUUID().toString
  def sharedBpeRulesDir(spark: SparkSession, sfDir: String,
                        nMerges: Int = 5, maxWords: Int = 2000): String =
    sharedRulesDirs.computeIfAbsent((sfDir, nMerges, maxWords), { _ =>
      val dir = ExportImport.scratch(
        s"bpe-rules/$rulesNs/m$nMerges-w$maxWords-${math.abs(sfDir.hashCode)}")
      bpeRulesToDir(spark, sfDir, dir, nMerges, maxWords)
      dir
    })

  /** Driver form of [[bpeEncodeFromRules]]: encode the corpus off the
    * session-shared rules artifact (oracle identical to bpe_encode by
    * construction). */
  def bpeEncodeArtifact(spark: SparkSession, sfDir: String,
                        nMerges: Int = 5, maxWords: Int = 2000): DataFrame =
    bpeEncodeFromRules(Tables.load(spark, sfDir, "documents"),
      readBpeRules(spark, sharedBpeRulesDir(spark, sfDir, nMerges, maxWords)))

  /** DuckDB oracle for [[bpeEncode]]: the [[bpeTrainOracle]] CTE chain
    * learns the same rules, then every corpus word is folded through
    * them in order (rule k applied via a cross join of the 1-row m_k). */
  def bpeEncodeOracle(nMerges: Int = 5, maxWords: Int = 2000): String =
    s"""${bpeEncodeCtes(nMerges, maxWords)}
       SELECT doc_id, count(*) AS n_words,
              CAST(sum(n_chars) AS BIGINT) AS n_chars,
              CAST(sum(n_toks) AS BIGINT) AS n_tokens,
              round(CAST(sum(n_chars) AS DOUBLE) / sum(n_toks), 4)
                AS compression
       FROM enc GROUP BY doc_id ORDER BY doc_id"""

  /** Shared WITH-block of [[bpeEncodeOracle]] and [[bpeFertilityOracle]]:
    * the [[bpeTrainOracle]] CTE chain, the 1-row sentinel rules, and the
    * per-word encode fold, ending at the `enc` CTE (doc_id, n_chars,
    * n_toks per corpus word). Both oracles compose this named helper so
    * neither needs to string-slice the other's final SELECT. */
  private def bpeEncodeCtes(nMerges: Int, maxWords: Int): String = {
    val trainCtes = bpeTrainOracle(nMerges, maxWords)
    // reuse the training chain up to (not including) the final SELECT;
    // fail loudly at oracle-REGISTRATION time (not with an opaque
    // StringIndexOutOfBounds) if bpeTrainOracle's tail is ever reworded
    val cteEnd = trainCtes.lastIndexOf("SELECT * FROM")
    require(cteEnd >= 0,
      "bpeTrainOracle no longer ends in 'SELECT * FROM ...' — " +
        "update bpeEncodeCtes' slice point to match")
    val withBlock = trainCtes.substring(0, cteEnd)
    // a vocab can learn FEWER than nMerges rules (tiny corpus: some m_k
    // is empty) — an empty m_k in the FROM list would annihilate enc
    // entirely while the engine happily encodes with the learned prefix
    // of rules. mm_k is therefore guaranteed 1 row: the rule, or a
    // chr(1) sentinel no [a-z]+ symbol can ever equal, which makes that
    // round's fold the identity — exactly "apply the learned prefix".
    val sentinels = (1 to nMerges).map { k =>
      s"""mm$k AS (SELECT coalesce(max(l), chr(1)) AS l,
                          coalesce(max(r), chr(1)) AS r FROM m$k)"""
    }.mkString(",\n        ")
    val fold = (1 to nMerges).foldLeft(
      "[word[i] for i in range(1, len(word) + 1)]") { (acc, k) =>
      s"""list_reduce(list_transform($acc, x -> [x]),
            (a, b) -> CASE WHEN a[-1] = mm$k.l AND b[1] = mm$k.r
              THEN list_concat(a[1:len(a) - 1], [mm$k.l || mm$k.r])
              ELSE list_concat(a, b) END)"""
    }
    val mJoins = (1 to nMerges).map(k => s"mm$k").mkString(", ")
    s"""${withBlock.trim},
        $sentinels,
        dw AS (SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
               FROM documents),
        enc AS (SELECT doc_id, CAST(length(word) AS BIGINT) AS n_chars,
                  CAST(len($fold) AS BIGINT) AS n_toks
                FROM dw, $mJoins
                WHERE regexp_matches(word, '^[a-z]+$$'))"""
  }

  /** §2 #158 — BPE FERTILITY BY LANGUAGE: tokens-per-word (and
    * chars-per-token) of the trained tokenizer, per labeled language —
    * the standard multilingual tokenizer-health metric. A tokenizer
    * trained on a skewed mix over-fragments under-represented
    * languages; this table is the check a pipeline runs BEFORE
    * committing the mix (train → encode → fertility by lang).
    *
    * Scale shape: rides [[bpeEncode]]'s map-only corpus pass; the
    * rollup is one doc_id equi-join + a ≤n-languages hash aggregate.
    * Ratios derive from exact integer sums, rounded once. */
  def bpeFertility(spark: SparkSession, sfDir: String, nMerges: Int = 5,
                   maxWords: Int = 2000): DataFrame =
    bpeEncode(spark, sfDir, nMerges, maxWords)
      .join(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"), sum("n_chars").as("n_chars"))
      .withColumn("fertility",
        round(col("n_tokens") / col("n_words").cast("double"), 4))
      .withColumn("chars_per_token",
        round(col("n_chars") / col("n_tokens").cast("double"), 4))
      .orderBy("lang")

  /** DuckDB oracle for [[bpeFertility]]: the [[bpeEncodeOracle]] CTE
    * chain (same learned rules, same per-word fold) rolled up by the
    * labeled language instead of per doc. */
  def bpeFertilityOracle(nMerges: Int = 5, maxWords: Int = 2000): String =
    s"""${bpeEncodeCtes(nMerges, maxWords)},
        perdoc AS (SELECT doc_id, count(*) AS n_words,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens
             FROM enc GROUP BY doc_id)
       SELECT d.lang, count(*) AS n_docs,
              CAST(sum(p.n_words) AS BIGINT) AS n_words,
              CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
              CAST(sum(p.n_chars) AS BIGINT) AS n_chars,
              round(CAST(sum(p.n_tokens) AS DOUBLE) / sum(p.n_words), 4)
                AS fertility,
              round(CAST(sum(p.n_chars) AS DOUBLE) / sum(p.n_tokens), 4)
                AS chars_per_token
       FROM perdoc p JOIN documents d USING (doc_id)
       GROUP BY d.lang ORDER BY d.lang"""

  /** DuckDB oracle for [[bpeTrain]]: word frequencies, pair counts,
    * argmax and the merge fold replayed round by round (one CTE chain
    * per round — the oracle may unroll what the engine loops). */
  def bpeTrainOracle(nMerges: Int = 5, maxWords: Int = 2000): String = {
    val rounds = (1 to nMerges).map { k =>
      val prev = s"v${k - 1}"
      s"""p$k AS (SELECT pr[1] AS l, pr[2] AS r,
              CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT freq,
                    unnest([[syms[i], syms[i + 1]]
                            for i in range(1, len(syms))]) AS pr
                  FROM $prev WHERE len(syms) >= 2)
            GROUP BY 1, 2),
          m$k AS (SELECT $k AS step, l, r, cnt FROM p$k
                  ORDER BY cnt DESC, l, r LIMIT 1),
          v$k AS (SELECT freq,
              list_reduce(list_transform(syms, x -> [x]),
                (a, b) -> CASE WHEN a[-1] = m.l AND b[1] = m.r
                  THEN list_concat(a[1:len(a) - 1], [m.l || m.r])
                  ELSE list_concat(a, b) END) AS syms
            FROM $prev, m$k m)"""
    }.mkString(",\n        ")
    val union = (1 to nMerges)
      .map(k => s"SELECT step, l AS left, r AS right, cnt AS pair_freq FROM m$k")
      .mkString(" UNION ALL ")
    s"""WITH v0 AS (
          SELECT CAST(count(*) AS BIGINT) AS freq,
                 [word[i] for i in range(1, len(word) + 1)] AS syms
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                  AS word
                FROM documents)
          WHERE regexp_matches(word, '^[a-z]+$$')
          GROUP BY word ORDER BY freq DESC, word LIMIT $maxWords),
        $rounds
       SELECT * FROM ($union) ORDER BY step"""
  }

  /** UNIGRAM-LM TOKENIZER training (Kudo 2018, arXiv:1804.10959) in
    * the hard-EM (Viterbi) variant over the bounded word-frequency
    * table — the OTHER tokenizer a data-pipeline team compares against
    * BPE before committing a 100 TB tokenization run. Seed = the top
    * (vocabSize − 26) substrings of length ≤ maxPieceLen by
    * frequency-weighted occurrence count plus all 26 single characters
    * (coverage guarantee); then `iters` rounds of { Viterbi-segment
    * every vocab word under the current piece log-probs; re-estimate
    * counts from usage, pruning unused multi-char pieces } — the
    * SentencePiece E/M loop with hard assignments.
    *
    * DETERMINISM: piece log-probs are INTEGER micro-nats
    * (`round(ln(cnt/total)·1e6)`), computed ONCE here and inlined as
    * literals into BOTH the engine encode and the DuckDB oracle — the
    * downstream Viterbi DP is integer arithmetic, so the argmax can
    * never diverge between engines on a ULP (the trainCentroids
    * rounding stance, strengthened to exact integers).
    *
    * Scale shape: the ONE corpus-scale pass is the word-frequency
    * aggregate (bpeTrain's stance); the EM loop runs driver-side on
    * the ≤ maxWords (word, freq) table — bounded model state, exactly
    * like the k-means/PQ/OPQ family, covered by determinism +
    * property specs while [[unigramTrainedOracle]] replays the
    * corpus-scale ENCODE exactly downstream of the model. */
  private[graft] def trainUnigram(wordFreqs: Seq[(String, Long)],
                                  vocabSize: Int = 120,
                                  maxPieceLen: Int = 4,
                                  iters: Int = 2)
      : Seq[(String, Long, Long)] = {
    // DRIVER-SIDE TRAINER, BOUNDED BY CONTRACT (VERDICT-r18 #8): the
    // substring seed holds ~|word|·maxPieceLen pieces per table row —
    // ~8 MB at the default 2 000 words, but a corpus-scale vocab pass
    // (maxWords ~10⁶) would materialize GBs on the driver. The word
    // TABLE is already the product of a distributed top-k (the one
    // corpus pass, unigramWordFreqs); the trainer itself is model
    // fitting over that bounded table, so it fails loudly past the
    // bound (the TopKAggregate stance) instead of silently OOMing.
    require(wordFreqs.size <= 20000,
      s"unigram trainer seeds all substrings of the word table on the " +
        s"driver — ${wordFreqs.size} words exceeds the 20000-word bound; " +
        "train on a top-k word table (maxWords <= 20000) — beyond that " +
        "the seed/count passes must move to DataFrame aggregates " +
        "(the bpe_train shape)")
    val chars = ('a' to 'z').map(_.toString)
    val seed = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- wordFreqs; i <- 0 until w.length;
         l <- 1 to math.min(maxPieceLen, w.length - i)) {
      val p = w.substring(i, i + l)
      seed(p) = seed.getOrElse(p, 0L) + f
    }
    val multi = seed.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, vocabSize - chars.length))
    var cnt: Map[String, Long] =
      (chars.map(c => c -> math.max(seed.getOrElse(c, 0L), 1L)) ++
        multi).toMap
    def lpOf(c: Map[String, Long]): Map[String, Long] = {
      val t = c.values.sum.toDouble
      c.map { case (p, n) => p -> math.round(math.log(n / t) * 1e6) }
    }
    var lp = lpOf(cnt)
    for (_ <- 1 to iters) {
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, f) <- wordFreqs; p <- viterbiPieces(w, lp, maxPieceLen))
        usage(p) = usage.getOrElse(p, 0L) + f
      cnt = cnt.flatMap { case (p, _) =>
        val u = usage.getOrElse(p, 0L)
        // single chars never leave the vocab (coverage of words beyond
        // the training table); unused multi-char pieces are pruned
        if (p.length == 1) Some(p -> math.max(u, 1L))
        else if (u > 0) Some(p -> u)
        else None
      }
      lp = lpOf(cnt)
    }
    cnt.toSeq.map { case (p, c) => (p, c, lp(p)) }
      .sortBy { case (p, c, _) => (-c, p) }
  }

  /** The trainer's Viterbi segmentation — the SAME integer-score DP
    * the engine encode and the oracle replay: `d[i] = max_j d[j] +
    * lp(word[j..i))`, ties → fewer pieces, then the smaller j (the
    * longer final piece). All single characters are in the vocab, so
    * every [a-z]+ word is segmentable. */
  private[graft] def viterbiPieces(w: String, lp: Map[String, Long],
                                   maxPieceLen: Int): Seq[String] = {
    val n = w.length
    val ds = new Array[Long](n + 1)
    val dc = new Array[Long](n + 1)
    val bk = new Array[Int](n + 1)
    for (i <- 1 to n) {
      var bs = Long.MinValue; var bc = 0L; var bj = -1
      for (j <- math.max(0, i - maxPieceLen) until i) {
        lp.get(w.substring(j, i)) match {
          case Some(v) =>
            val s = ds(j) + v; val c = dc(j) + 1
            if (bj < 0 || s > bs || (s == bs && c < bc)) {
              bs = s; bc = c; bj = j
            }
          case None => ()
        }
      }
      ds(i) = bs; dc(i) = bc; bk(i) = bj
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = n
    while (i > 0) { out.prepend(w.substring(bk(i), i)); i = bk(i) }
    out.toSeq
  }

  /** The corpus word-frequency table the unigram trainer consumes —
    * the SAME one corpus-scale pass bpeTrain makes (top `maxWords`
    * alphabetic words by frequency, deterministic order). */
  private def unigramWordFreqs(docs: DataFrame,
                               maxWords: Int): Seq[(String, Long)] =
    docs
      .select(explode(TextShingles.words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** One trained unigram model per (sfDir, params) per JVM — the
    * in-process versioned-vocab doctrine, same as
    * [[sharedBpeRulesDir]]. */
  private val sharedUnigramModels = new java.util.concurrent
    .ConcurrentHashMap[(String, Int, Int, Int, Int), Map[String, Long]]()
  private def sharedUnigramLp(spark: SparkSession, sfDir: String,
                              vocabSize: Int, maxPieceLen: Int,
                              iters: Int, maxWords: Int): Map[String, Long] =
    sharedUnigramModels.computeIfAbsent(
      (sfDir, vocabSize, maxPieceLen, iters, maxWords), { _ =>
        trainUnigram(
          unigramWordFreqs(Tables.load(spark, sfDir, "documents"), maxWords),
          vocabSize, maxPieceLen, iters)
          .map { case (p, _, l) => p -> l }.toMap
      })

  /** The MAP-ONLY corpus encode under a trained unigram model: one
    * integer-score Viterbi DP per word (the piece log-probs ride as a
    * broadcast map literal), per-doc token totals and the
    * chars-per-token compression — [[bpeEncode]]'s exact output shape,
    * so the two tokenizers compare row for row. No joins, no shuffle
    * beyond the per-doc aggregate. */
  /** The integer Viterbi DP as a Column function of ANY word column —
    * token count of the best segmentation under the piece micro-nat
    * map. Column-API lambdas get fresh variable names, so this nests
    * safely inside an outer fold (the streaming twin folds it over the
    * per-doc word array). */
  private[graft] def unigramDpTokens(lp: Map[String, Long],
                                     maxPieceLen: Int = 4)
                                    (word: Column): Column = {
    val lpMap = typedLit(lp)
    val dp = aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("s"), lit(0L).as("c"))),
      (acc, i) => {
        val cands = filter(
          transform(
            sequence(greatest(lit(1), i - lit(maxPieceLen) + lit(1)), i),
            j => struct(
              (element_at(acc, j).getField("s")
                + element_at(lpMap, word.substr(j, i - j + lit(1))))
                .as("s"),
              (element_at(acc, j).getField("c") + lit(1L)).as("c"),
              j.cast("long").as("j"))),
          c => c.getField("s").isNotNull)
        val best = aggregate(
          slice(cands, lit(2), size(cands)), element_at(cands, 1),
          (p, q) => when(
            q.getField("s") > p.getField("s")
              || (q.getField("s") === p.getField("s")
                && (q.getField("c") < p.getField("c")
                  || (q.getField("c") === p.getField("c")
                    && q.getField("j") < p.getField("j")))), q)
            .otherwise(p))
        concat(acc, array(struct(best.getField("s").as("s"),
          best.getField("c").as("c"))))
      })
    element_at(dp, -1).getField("c")
  }

  private[graft] def unigramEncodeWithModel(docs: DataFrame,
                                            lp: Map[String, Long],
                                            maxPieceLen: Int = 4)
      : DataFrame = {
    docs
      .select(col("doc_id"),
        explode(TextShingles.words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .select(col("doc_id"),
        length(col("word")).cast("long").as("n_chars"),
        unigramDpTokens(lp, maxPieceLen)(col("word")).as("n_toks"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_chars").as("n_chars"),
        sum("n_toks").as("n_tokens"))
      .withColumn("compression",
        round(col("n_chars") / col("n_tokens").cast("double"), 4))
      .orderBy("doc_id")
  }

  /** §2 #243 — UNIGRAM-LM ENCODE: train the unigram tokenizer
    * (driver-side EM over the bounded vocab, one training per corpus
    * per JVM) and encode the whole corpus — [[bpeEncode]]'s twin, same
    * output schema, so a pipeline prices the two tokenizers off
    * identical tables. */
  def unigramEncode(spark: SparkSession, sfDir: String,
                    vocabSize: Int = 120, maxPieceLen: Int = 4,
                    iters: Int = 2, maxWords: Int = 2000): DataFrame =
    unigramEncodeWithModel(Tables.load(spark, sfDir, "documents"),
      sharedUnigramLp(spark, sfDir, vocabSize, maxPieceLen, iters,
        maxWords),
      maxPieceLen)

  /** [[trainUnigram]] over ANY (doc_id, text) frame, returning the
    * (piece → integer micro-nat log-prob) map the encode consumes —
    * the facade's frame-first training entry. */
  def unigramTrainFrom(docs: DataFrame, vocabSize: Int = 120,
                       maxPieceLen: Int = 4, iters: Int = 2,
                       maxWords: Int = 2000): Map[String, Long] =
    trainUnigram(unigramWordFreqs(docs, maxWords), vocabSize,
      maxPieceLen, iters).map { case (p, _, l) => p -> l }.toMap

  /** TOKENIZER ARTIFACT for the unigram family ([[bpeRulesToDir]]'s
    * doctrine): the trained model as a tiny versioned parquet —
    * (piece, cnt, lp) rows of model state, train ONCE per corpus
    * version, every encode (batch, backfill, stream) reads the
    * artifact instead of re-paying the vocabulary pass + EM. */
  def unigramModelToDir(spark: SparkSession, sfDir: String, dir: String,
                        vocabSize: Int = 120, maxPieceLen: Int = 4,
                        iters: Int = 2, maxWords: Int = 2000): Unit = {
    import spark.implicits._
    trainUnigram(
      unigramWordFreqs(Tables.load(spark, sfDir, "documents"), maxWords),
      vocabSize, maxPieceLen, iters)
      .toDF("piece", "cnt", "lp")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Read a [[unigramModelToDir]] artifact back to the (piece → lp)
    * map the encode consumes (schema-checked, loud on anything else). */
  def readUnigramModel(spark: SparkSession, dir: String): Map[String, Long] = {
    val df = spark.read.parquet(dir)
    require(df.columns.toSeq == Seq("piece", "cnt", "lp"),
      s"not a unigram model artifact: ${df.columns.mkString(", ")}")
    df.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
  }

  /** Per-session registry of unigram model artifacts (one train per
    * (sfDir, params) per JVM — the versioned-vocab doctrine). */
  private val sharedUnigramDirs = new java.util.concurrent
    .ConcurrentHashMap[(String, Int, Int, Int, Int), String]()
  private lazy val unigramNs = java.util.UUID.randomUUID().toString
  def sharedUnigramModelDir(spark: SparkSession, sfDir: String,
                            vocabSize: Int = 120, maxPieceLen: Int = 4,
                            iters: Int = 2, maxWords: Int = 2000): String =
    sharedUnigramDirs.computeIfAbsent(
      (sfDir, vocabSize, maxPieceLen, iters, maxWords), { _ =>
        // the directory name carries EVERY cache-key component
        // (ADVICE-r18): maxWords included and sfDir as its sanitized
        // path, not a hashCode — two distinct keys can never map to
        // the same artifact directory and overwrite each other.
        val dir = ExportImport.scratch(
          s"unigram-model/$unigramNs/v$vocabSize-l$maxPieceLen-i$iters" +
            s"-w$maxWords-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}")
        unigramModelToDir(spark, sfDir, dir, vocabSize, maxPieceLen,
          iters, maxWords)
        dir
      })

  /** §2 #245 — UNIGRAM ENCODE FROM THE MODEL ARTIFACT: identical
    * output to [[unigramEncode]] (same DP, same model — the #122c
    * stance one tokenizer over), with training replaced by a
    * vocab-sized artifact read. */
  def unigramEncodeArtifact(spark: SparkSession, sfDir: String,
                            vocabSize: Int = 120, maxPieceLen: Int = 4,
                            iters: Int = 2,
                            maxWords: Int = 2000): DataFrame =
    unigramEncodeWithModel(Tables.load(spark, sfDir, "documents"),
      readUnigramModel(spark, sharedUnigramModelDir(spark, sfDir,
        vocabSize, maxPieceLen, iters, maxWords)),
      maxPieceLen)

  /** The DuckDB CTE chain replaying [[unigramEncodeWithModel]] for a
    * GIVEN model: words split identically, then the SAME integer
    * Viterbi DP as a list_reduce fold with the piece micro-nat scores
    * inlined as one CASE. Ends at `$encName` (doc_id, n_chars,
    * n_toks). Shared by the encode and fertility oracles so the two
    * replays cannot drift. */
  private def unigramEncCte(lp: Map[String, Long], maxPieceLen: Int,
                            encName: String): String = {
    val caseArms = lp.toSeq.sortBy(_._1).map { case (p, v) =>
      s"WHEN '$p' THEN CAST($v AS BIGINT)"
    }.mkString(" ")
    val lpCase = (s: String) => s"(CASE $s $caseArms ELSE NULL END)"
    s"""${encName}_dw AS (SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         FROM documents),
       $encName AS (SELECT doc_id,
           CAST(length(word) AS BIGINT) AS n_chars,
           (list_reduce(
              list_prepend(
                [{'s': CAST(0 AS BIGINT), 'c': CAST(0 AS BIGINT)}],
                [[{'s': CAST(i AS BIGINT), 'c': CAST(0 AS BIGINT)}]
                 for i in range(1, length(word) + 1)]),
              (a, x) -> list_append(a,
                list_transform([
                  list_reduce(
                    list_filter(
                      [{'s': a[j].s +
                          ${lpCase("word[j:CAST(x[1].s AS INTEGER)]")},
                        'c': a[j].c + 1, 'j': CAST(j AS BIGINT)}
                       for j in range(
                         greatest(1, CAST(x[1].s AS INTEGER)
                                     - $maxPieceLen + 1),
                         CAST(x[1].s AS INTEGER) + 1)],
                      cc -> cc.s IS NOT NULL),
                    (p, q) -> CASE WHEN q.s > p.s
                        OR (q.s = p.s AND (q.c < p.c
                        OR (q.c = p.c AND q.j < p.j)))
                      THEN q ELSE p END)],
                  b -> {'s': b.s, 'c': b.c})[1])
           ))[-1].c AS n_toks
         FROM ${encName}_dw
         WHERE regexp_matches(word, '^[a-z]+$$'))"""
  }

  /** DuckDB oracle for [[unigramEncode]]: trains the SAME model (the
    * deterministic driver-side trainer — the ivfTrainedOracle stance)
    * and replays the corpus encode exactly via [[unigramEncCte]]. */
  def unigramTrainedOracle(vocabSize: Int = 120, maxPieceLen: Int = 4,
                           iters: Int = 2,
                           maxWords: Int = 2000): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val lp = sharedUnigramLp(spark, sfDir, vocabSize, maxPieceLen, iters,
      maxWords)
    s"""WITH ${unigramEncCte(lp, maxPieceLen, "uenc")}
       SELECT doc_id, count(*) AS n_words,
              CAST(sum(n_chars) AS BIGINT) AS n_chars,
              CAST(sum(n_toks) AS BIGINT) AS n_tokens,
              round(CAST(sum(n_chars) AS DOUBLE) / sum(n_toks), 4)
                AS compression
       FROM uenc GROUP BY doc_id ORDER BY doc_id"""
  }

  /** §2 #244 — TOKENIZER FERTILITY COMPARISON: [[bpeFertility]]'s
    * per-language health table computed for BOTH tokenizers (BPE and
    * unigram) off identical corpus passes — the decision table a
    * multilingual pipeline reads before committing a mix: which
    * tokenizer over-fragments which language, at what
    * chars-per-token. */
  def tokenizerFertility(spark: SparkSession, sfDir: String,
                         nMerges: Int = 5, maxWords: Int = 2000,
                         vocabSize: Int = 120, maxPieceLen: Int = 4,
                         iters: Int = 2): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val langs = docs.select(col("doc_id"), col("lang"))
    // skipped mass per language (VERDICT-r18 #5): both encodes admit
    // only lowercase-folded [a-z]+ words (TextShingles.words lowers,
    // so mixed case IS covered) — everything else (digits,
    // punctuation-bearing tokens) is silently outside the table
    // without this column. Tokenizer-independent by construction
    // (same word filter), reported on every row so the table states
    // its own coverage.
    val skipped = docs
      .select(col("lang"),
        explode(TextShingles.words(col("text"))).as("word"))
      .groupBy("lang")
      .agg(sum(when(col("word").rlike("^[a-z]+$"), 0L).otherwise(1L))
        .as("n_skipped_words"))
    def roll(enc: DataFrame, name: String) = enc
      .join(langs, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"), sum("n_chars").as("n_chars"))
      .withColumn("tokenizer", lit(name))
    roll(bpeEncode(spark, sfDir, nMerges, maxWords), "bpe")
      .unionByName(roll(
        unigramEncode(spark, sfDir, vocabSize, maxPieceLen, iters,
          maxWords), "unigram"))
      .join(skipped, Seq("lang"))
      .select(col("lang"), col("tokenizer"), col("n_docs"),
        col("n_words"), col("n_tokens"), col("n_chars"),
        round(col("n_tokens") / col("n_words").cast("double"), 4)
          .as("fertility"),
        round(col("n_chars") / col("n_tokens").cast("double"), 4)
          .as("chars_per_token"),
        col("n_skipped_words"),
        round(col("n_skipped_words")
          / (col("n_skipped_words") + col("n_words")).cast("double"), 4)
          .as("skipped_share"))
      .orderBy("lang", "tokenizer")
  }

  /** DuckDB oracle for [[tokenizerFertility]]: the BPE replay
    * ([[bpeEncodeCtes]]) and the unigram replay ([[unigramEncCte]])
    * rolled up by language, one UNION ALL branch per tokenizer. */
  def tokenizerFertilityOracle(nMerges: Int = 5, maxWords: Int = 2000,
                               vocabSize: Int = 120, maxPieceLen: Int = 4,
                               iters: Int = 2): String = {
    val (spark, sfDir) = Tables.oracleSession()
    val lp = sharedUnigramLp(spark, sfDir, vocabSize, maxPieceLen, iters,
      maxWords)
    def branch(encName: String, tok: String) =
      s"""SELECT d.lang, '$tok' AS tokenizer,
            count(*) AS n_docs,
            CAST(sum(p.n_words) AS BIGINT) AS n_words,
            CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
            CAST(sum(p.n_chars) AS BIGINT) AS n_chars,
            round(CAST(sum(p.n_tokens) AS DOUBLE) / sum(p.n_words), 4)
              AS fertility,
            round(CAST(sum(p.n_chars) AS DOUBLE) / sum(p.n_tokens), 4)
              AS chars_per_token
          FROM (SELECT doc_id, count(*) AS n_words,
                  CAST(sum(n_chars) AS BIGINT) AS n_chars,
                  CAST(sum(n_toks) AS BIGINT) AS n_tokens
                FROM $encName GROUP BY doc_id) p
          JOIN documents d USING (doc_id)
          GROUP BY d.lang"""
    s"""${bpeEncodeCtes(nMerges, maxWords)},
        ${unigramEncCte(lp, maxPieceLen, "uenc")},
        skipped AS (
          SELECT lang,
            CAST(sum(CASE WHEN regexp_matches(word, '^[a-z]+$$')
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped_words
          FROM (SELECT lang,
                  unnest(string_split_regex(trim(lower(text)), '\\s+'))
                    AS word
                FROM documents)
          GROUP BY lang)
       SELECT t.*, s.n_skipped_words,
         round(CAST(s.n_skipped_words AS DOUBLE)
               / (s.n_skipped_words + t.n_words), 4) AS skipped_share
       FROM (${branch("enc", "bpe")}
             UNION ALL ${branch("uenc", "unigram")}) t
       JOIN skipped s USING (lang)
       ORDER BY lang, tokenizer"""
  }

  /** §2 #161 — CHARACTER-ENTROPY GATE: Shannon entropy (bits/char) of
    * each document's code-point distribution beside the funnel's ratio
    * features — the standard gibberish/boilerplate detector (natural
    * language ~3.5-4.5 bits; base64/hex higher; padding near 0).
    * `flagged` marks documents outside the [lo, hi] band.
    *
    * Scale shape: ONE map-only pass through the native codegen'd
    * [[graft.functions.CharEntropy]] expression — the DataFrame
    * formulation (explode chars → two groupBys) would shuffle one row
    * per CHARACTER, i.e. the corpus itself, twice, for a scalar.
    * Cross-engine exact: the expression folds `c·ln(c)/ln 2` left in
    * ascending code-point order, which the oracle reproduces
    * bit-for-bit with `list_reduce` over `list(... ORDER BY ch)`
    * (Java `Math.log` and DuckDB `ln` verified bit-identical over the
    * whole integer count range). */
  def charEntropy(spark: SparkSession, sfDir: String,
                  lo: Double = 3.0, hi: Double = 5.0): DataFrame =
    charEntropyFrom(Tables.load(spark, sfDir, "documents"), lo, hi)

  /** Generic core over ANY (doc_id, text) frame. */
  def charEntropyFrom(docs: DataFrame,
                      lo: Double = 3.0, hi: Double = 5.0): DataFrame =
    docs
      .select(col("doc_id"),
        round(graft.functions.CharEntropyF.charEntropy(col("text")), 4)
          .as("char_entropy"),
        length(col("text")).cast("long").as("n_chars_calc"))
      .withColumn("flagged",
        col("char_entropy") < lo || col("char_entropy") > hi)
      .orderBy("doc_id")

  /** Named CTE chain of the per-doc character entropy (counts → folded
    * → ent) — composed by [[charEntropyOracle]] and the gate_agreement
    * oracle (no string surgery, the ADVICE-r9 stance). */
  val charEntropyCtes: String =
    """counts AS (
          SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
          FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
                FROM documents WHERE length(text) > 0)
          GROUP BY doc_id, ch),
        folded AS (
          SELECT doc_id,
            list_reduce(list(c * (ln(c) / ln(2)) ORDER BY ch), (a, b) -> a + b)
              AS acc,
            CAST(sum(c) AS DOUBLE) AS n
          FROM counts GROUP BY doc_id),
        ent AS (
          SELECT d.doc_id,
            round(CASE WHEN f.doc_id IS NULL THEN 0.0
                       ELSE ln(f.n) / ln(2) - f.acc / f.n END, 4)
              AS char_entropy,
            CAST(length(d.text) AS BIGINT) AS n_chars_calc
          FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id)"""

  /** DuckDB oracle for [[charEntropy]] — same fold, same order, same
    * ln-based log2 (see the operator scaladoc for the bit-equality
    * argument). */
  def charEntropyOracle(lo: Double = 3.0, hi: Double = 5.0): String =
    s"""WITH $charEntropyCtes
       SELECT doc_id, char_entropy, n_chars_calc,
              char_entropy < $lo OR char_entropy > $hi AS flagged
       FROM ent ORDER BY doc_id"""

  /** The agreement projection over the 2×2 contingency counts —
    * observed agreement, chance agreement, Cohen's κ — as ONE SQL
    * fragment evaluated VERBATIM by both engines (selectExpr here,
    * spliced into the DuckDB oracle), so the arithmetic cannot drift. */
  private val kappaSelect: Seq[String] = Seq(
    "n", "n11", "n10", "n01", "n00",
    "round((n11 + n00) / CAST(n AS DOUBLE), 4) AS po4",
    """round(((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
       + (CAST(1 AS DOUBLE) - (n11 + n10) / CAST(n AS DOUBLE))
       * (CAST(1 AS DOUBLE) - (n11 + n01) / CAST(n AS DOUBLE)), 4) AS pe4""",
    """CASE WHEN (CAST(1 AS DOUBLE)
           - (((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
              + (CAST(1 AS DOUBLE) - (n11 + n10) / CAST(n AS DOUBLE))
              * (CAST(1 AS DOUBLE) - (n11 + n01) / CAST(n AS DOUBLE)))) <> 0
       THEN round(((n11 + n00) / CAST(n AS DOUBLE)
           - (((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
              + (CAST(1 AS DOUBLE) - (n11 + n10) / CAST(n AS DOUBLE))
              * (CAST(1 AS DOUBLE) - (n11 + n01) / CAST(n AS DOUBLE))))
           / (CAST(1 AS DOUBLE)
           - (((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
              + (CAST(1 AS DOUBLE) - (n11 + n10) / CAST(n AS DOUBLE))
              * (CAST(1 AS DOUBLE) - (n11 + n01) / CAST(n AS DOUBLE)))), 4)
       ELSE NULL END AS kappa4""")

  /** §2 #192 — GATE AGREEMENT: Cohen's κ between two independent
    * quality gates (the heuristic quality score vs the character-
    * entropy gate) over the whole corpus — the inter-rater check run
    * before trusting that two cheap gates measure different things
    * (κ ≈ 1 ⇒ one gate is redundant; κ ≈ 0 ⇒ they disagree at chance
    * level and compose usefully). One doc_id equi-join of two map-only
    * scores + ONE hash agg to a 2×2 table + a 1-row projection. */
  def gateAgreement(spark: SparkSession, sfDir: String,
                    minWords: Int = 20, minQuality: Double = 0.3,
                    lo: Double = 3.0, hi: Double = 5.0): DataFrame = {
    val q = textStats(spark, sfDir)
      .select(col("doc_id"),
        (col("n_words") >= minWords && col("quality") >= minQuality)
          .as("pass_q"))
    val e = charEntropyFrom(
        Tables.load(spark, sfDir, "documents"), lo, hi)
      .select(col("doc_id"), (!col("flagged")).as("pass_e"))
    q.join(e, Seq("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pass_q") && col("pass_e"), 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("pass_q") && !col("pass_e"), 1L).otherwise(0L))
          .as("n10"),
        sum(when(!col("pass_q") && col("pass_e"), 1L).otherwise(0L))
          .as("n01"),
        sum(when(!col("pass_q") && !col("pass_e"), 1L).otherwise(0L))
          .as("n00"))
      .selectExpr(kappaSelect: _*)
  }

  /** DuckDB oracle for [[gateAgreement]]: the text_stats quality
    * arithmetic + the entropy CTE chain + the IDENTICAL κ fragment. */
  def gateAgreementOracle(minWords: Int = 20, minQuality: Double = 0.3,
                          lo: Double = 3.0, hi: Double = 5.0): String =
    s"""WITH $charEntropyCtes,
        q AS (SELECT doc_id,
                n_words >= $minWords AND
                round(least(n_words / 50.0, 1.0) * 0.5
                      + (n_stop / n_words) * 0.5, 4) >= $minQuality AS pass_q
              FROM (SELECT doc_id,
                      CAST(len(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT) AS n_words,
                      CAST(len(regexp_extract_all(lower(text),
                        '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT) AS n_stop
                    FROM documents)),
        g AS (SELECT count(*) AS n,
                CAST(sum(CASE WHEN pass_q AND pass_e THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
                CAST(sum(CASE WHEN pass_q AND NOT pass_e THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
                CAST(sum(CASE WHEN NOT pass_q AND pass_e THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
                CAST(sum(CASE WHEN NOT pass_q AND NOT pass_e THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00
              FROM q JOIN (SELECT doc_id,
                             NOT (char_entropy < $lo OR char_entropy > $hi)
                               AS pass_e
                           FROM ent) e USING (doc_id))
       SELECT ${kappaSelect.mkString(",\n         ")}
       FROM g"""

  /** §2 #162 — ZIPF FIT BY SOURCE: least-squares slope of log10(freq)
    * vs log10(rank) over each source's top-`maxRank` words — the
    * corpus-health diagnostic (natural text ≈ −1; templated/generated
    * text flattens, near-duplicated text steepens). Reported with the
    * fit's r² so a grader can tell "shallow slope" from "no power law
    * at all".
    *
    * Scale shape: word-count aggregation is VOCABULARY-bounded (the
    * classic heavy-hitter agg with map-side combine), the rank window
    * partitions BY SOURCE over ≤maxRank surviving rows each, and the
    * final regression is a ≤n_sources-row aggregate of running sums.
    * Rank ties broken (freq DESC, word) so both engines rank
    * identically. */
  def zipfFit(spark: SparkSession, sfDir: String,
              maxRank: Int = 500): DataFrame =
    zipfFitFrom(Tables.load(spark, sfDir, "documents"), maxRank)

  /** Generic core over ANY (source, text) frame. */
  def zipfFitFrom(docs: DataFrame, maxRank: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val ranked = words.groupBy("source", "word")
      .agg(count(lit(1)).cast("double").as("freq"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("freq").desc, col("word"))))
      .filter(col("rank") <= maxRank)
      .select(col("source"), log10(col("rank")).as("x"),
        log10(col("freq")).as("y"))
    val k = count(lit(1)).cast("double")
    val sxy = sum(col("x") * col("y")); val sx = sum(col("x"))
    val sy = sum(col("y")); val sxx = sum(col("x") * col("x"))
    val syy = sum(col("y") * col("y"))
    ranked.groupBy("source")
      .agg(k.as("k"), sxy.as("sxy"), sx.as("sx"), sy.as("sy"),
        sxx.as("sxx"), syy.as("syy"))
      .select(col("source"), col("k").cast("long").as("n_ranks"),
        round((col("k") * col("sxy") - col("sx") * col("sy"))
          / nullif(col("k") * col("sxx") - col("sx") * col("sx"), lit(0.0)), 4)
          .as("slope"),
        // degenerate fits (all-equal freqs or a single rank) → NULL, not
        // NaN: 0/0 is engine-dependent, a missing r² is not
        round(pow(col("k") * col("sxy") - col("sx") * col("sy"), 2)
          / nullif((col("k") * col("sxx") - col("sx") * col("sx"))
            * (col("k") * col("syy") - col("sy") * col("sy")), lit(0.0)), 4)
          .as("r2"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[zipfFit]]: identical rank tie-break and
    * closed-form least squares (sums of ≤maxRank well-scaled terms —
    * 4-dp rounding absorbs summation-order ulps, the repo's standard
    * float-aggregate contract). */
  def zipfFitOracle(maxRank: Int = 500): String =
    s"""WITH w AS (
          SELECT source,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents),
        f AS (SELECT source, word, CAST(count(*) AS DOUBLE) AS freq
              FROM w WHERE word <> '' GROUP BY source, word),
        r AS (SELECT source, log10(row_number() OVER (PARTITION BY source
                 ORDER BY freq DESC, word)) AS x, log10(freq) AS y,
                row_number() OVER (PARTITION BY source
                 ORDER BY freq DESC, word) AS rank
              FROM f QUALIFY rank <= $maxRank)
       SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
         round((count(*) * sum(x*y) - sum(x) * sum(y))
           / nullif(count(*) * sum(x*x) - sum(x) * sum(x), 0.0), 4) AS slope,
         round(pow(count(*) * sum(x*y) - sum(x) * sum(y), 2)
           / nullif((count(*) * sum(x*x) - sum(x) * sum(x))
             * (count(*) * sum(y*y) - sum(y) * sum(y)), 0.0), 4) AS r2
       FROM r GROUP BY source ORDER BY source"""

  /** §2 #163 — LANGUAGE-ID CONFUSION MATRIX: the classifier-eval step
    * over [[langId]] — one row per observed (labeled, predicted) cell
    * with the count and the cell's share of its label row (recall
    * decomposition). On this synthetic corpus the label is
    * uncorrelated with the text, so the matrix measures the
    * heuristic's PRIOR (how often each language wins on shared
    * vocabulary), which is exactly what you audit before trusting a
    * cheap lang-ID gate at corpus scale.
    *
    * Scale shape: rides langId's map-only scoring; the rollup is a
    * ≤|langs|² hash aggregate plus a tiny label-marginal window. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pred = langId(spark, sfDir)
      .join(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang")), "doc_id")
    pred.groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("label_share",
        round(col("n") / sum(col("n")).over(Window.partitionBy("lang")), 4))
      .orderBy("lang", "pred_lang")
  }

  /** §2 #167 — CORPUS HEALTH CARD: the one-row daily summary a
    * pipeline owner reads before anything else — volume (docs, tokens),
    * quality (mean 4-dp quality score), entropy-gate attrition,
    * diversity (languages, sources, top-source share). Composes the
    * SAME per-doc features as text_stats / char_entropy (identical
    * arithmetic), so a drilled-down investigation reconciles cell by
    * cell with this card.
    *
    * Scale shape: ONE map-only scan + one global aggregate, plus a
    * ≤n-sources agg for the share column. Means are DECIMAL sums of
    * already-4-dp per-doc values (quantize_eval's doctrine): exact in
    * both engines, independent of row order and partitioning. */
  def corpusReport(spark: SparkSession, sfDir: String,
                   lo: Double = 3.0, hi: Double = 5.0): DataFrame = {
    val words = size(split(trim(col("text")), "\\s+"))
    val stop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(?:the|and|is|of|to)\\b"), lit(0)))
    val quality =
      round(least(words / lit(50.0), lit(1.0)) * 0.5 + (stop / words) * 0.5, 4)
    val ent = round(graft.functions.CharEntropyF.charEntropy(col("text")), 4)
    val perDoc = Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("source"),
        words.cast("long").as("n_toks"), quality.as("q"), ent.as("e"))
    val topShare = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n")).agg(max("n").as("top_n"))
    perDoc
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum(col("q").cast("decimal(38,4)")).as("q_sum"),
        sum(col("e").cast("decimal(38,4)")).as("e_sum"),
        sum(when(col("e") < lo || col("e") > hi, 1L).otherwise(0L))
          .as("n_flagged"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"))
      .crossJoin(topShare)
      .select(col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("n_docs").cast("double"), 4)
          .as("mean_doc_tokens"),
        round(col("q_sum").cast("double") / col("n_docs"), 4)
          .as("mean_quality"),
        round(col("e_sum").cast("double") / col("n_docs"), 4)
          .as("mean_entropy"),
        round(col("n_flagged") / col("n_docs").cast("double"), 4)
          .as("entropy_flagged_frac"),
        col("n_langs"), col("n_sources"),
        round(col("top_n") / col("n_docs").cast("double"), 4)
          .as("top_source_share"))
  }

  /** DuckDB oracle for [[corpusReport]] — same per-doc features (the
    * text_stats + char_entropy oracles' arithmetic), same decimal
    * means. */
  def corpusReportOracle(lo: Double = 3.0, hi: Double = 5.0): String =
    s"""WITH counts AS (
          SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
          FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
                FROM documents WHERE length(text) > 0)
          GROUP BY doc_id, ch),
        folded AS (
          SELECT doc_id,
            list_reduce(list(c * (ln(c) / ln(2)) ORDER BY ch), (a, b) -> a + b)
              AS acc,
            CAST(sum(c) AS DOUBLE) AS n
          FROM counts GROUP BY doc_id),
        perdoc AS (
          SELECT d.lang, d.source,
            CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
              AS n_toks,
            round(least(len(string_split_regex(trim(d.text), '\\s+')) / 50.0,
                1.0) * 0.5
              + (len(regexp_extract_all(lower(d.text),
                  '\\b(?:the|and|is|of|to)\\b', 0))
                 / CAST(len(string_split_regex(trim(d.text), '\\s+'))
                        AS DOUBLE)) * 0.5, 4) AS q,
            round(CASE WHEN f.doc_id IS NULL THEN 0.0
                       ELSE ln(f.n) / ln(2) - f.acc / f.n END, 4) AS e
          FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id),
        tops AS (
          SELECT max(n) AS top_n FROM
            (SELECT count(*) AS n FROM perdoc GROUP BY source))
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         round(sum(n_toks) / CAST(count(*) AS DOUBLE), 4) AS mean_doc_tokens,
         round(CAST(sum(CAST(q AS DECIMAL(38,4))) AS DOUBLE) / count(*), 4)
           AS mean_quality,
         round(CAST(sum(CAST(e AS DECIMAL(38,4))) AS DOUBLE) / count(*), 4)
           AS mean_entropy,
         round(sum(CASE WHEN e < $lo OR e > $hi THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE), 4) AS entropy_flagged_frac,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         round((SELECT top_n FROM tops) / CAST(count(*) AS DOUBLE), 4)
           AS top_source_share
       FROM perdoc"""

  /** DuckDB oracle for [[langConfusion]] — the lang_id oracle's CASE
    * scoring rolled up into matrix cells. */
  def langConfusionOracle: String =
    s"""WITH scored AS (
          SELECT doc_id, lang, $langCaseSql AS pred_lang
          FROM (SELECT doc_id, lang,
                  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0))
                    AS c_zh,
                  len(regexp_extract_all(lower(text),
                    '\\b(?:the|and|is|of|to)\\b', 0)) AS c_en,
                  len(regexp_extract_all(lower(text),
                    '\\b(?:der|die|und|ist|das)\\b', 0)) AS c_de,
                  len(regexp_extract_all(lower(text),
                    '\\b(?:le|la|et|est|les)\\b', 0)) AS c_fr,
                  len(regexp_extract_all(lower(text),
                    '\\b(?:el|los|y|es|una)\\b', 0)) AS c_es
                FROM documents))
       SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n,
              round(count(*) / CAST(sum(count(*))
                OVER (PARTITION BY lang) AS DOUBLE), 4) AS label_share
       FROM scored GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""
}
