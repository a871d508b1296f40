package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, MinHash, TopKByScoreAgg, VectorQuantize}

/** Kernel probes (traced run only): each times one `graft.functions`
  * expression over cached generated rows, minus the same query without
  * the expression, per row. */
object Probes {
  private val rows = 100000L
  private val dim = 64
  private val P = 2147483647L

  def all(spark: SparkSession, trace: Trace, run: Span): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(17)
    val perms = Seq.fill(64)((1L + rnd.nextInt(Int.MaxValue - 1), rnd.nextInt(Int.MaxValue).toLong))
    val cents = Array.fill(16) {
      val c = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
    def vec(seed: Int): Column =
      transform(sequence(lit(1), lit(dim)), i => sin(col("id") * i + seed).cast("float"))
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val base = spark.range(rows)
    val (hashes, vecs, scored) = trace.within(spark, "probe", "inputs", run, "functions") {
      (cached(base.select(transform(sequence(lit(0), lit(63)),
          i => pmod(xxhash64(col("id"), i), lit(P))).as("h"))),
        cached(base.select(vec(1).as("a"), vec(2).as("b"))),
        cached(base.select((col("id") % 1000).as("g"), col("id").as("neighbor_id"),
          sin(col("id")).as("cos"))))
    }
    val probes = Seq(
      "functions.minhash_ns_per_doc" -> perRow(trace, run, "minhash",
        hashes.agg(sum(element_at(col("h"), 1))),
        hashes.agg(sum(element_at(MinHash.minhashSignature(col("h"), perms, P), 1)))),
      "functions.dot_ns_per_pair" -> perRow(trace, run, "dot",
        vecs.agg(sum(element_at(col("a"), 1) + element_at(col("b"), 1))),
        vecs.agg(sum(DotProduct.dot(col("a"), col("b"))))),
      "functions.nearest_cells_ns_per_vec" -> perRow(trace, run, "nearest_cells",
        vecs.agg(sum(element_at(col("a"), 1))),
        vecs.agg(sum(element_at(VectorQuantize.nearestCells(col("a"), cents, 4), 1)))),
      "functions.topk_ns_per_row" -> perRow(trace, run, "topk",
        scored.groupBy("g").agg(max(col("cos"))),
        scored.groupBy("g").agg(TopKByScoreAgg.topkByScore(col("neighbor_id"), col("cos"), 5))))
    Seq(hashes, vecs, scored).foreach(_.unpersist(blocking = true))
    probes
  }

  /** Median over seven alternating timed runs (after one untimed run
    * of each) of the time with the kernel minus the time without it. */
  private def perRow(trace: Trace, run: Span, name: String, without: DataFrame,
                     withKernel: DataFrame): Double = {
    def time(df: DataFrame): Long = {
      val t = System.nanoTime()
      df.collect()
      System.nanoTime() - t
    }
    trace.within(without.sparkSession, "probe", name, run, "functions") {
      time(withKernel); time(without)
      val diffs = (1 to 7).map(_ => time(withKernel) - time(without)).sorted
      diffs(3).toDouble / rows
    }
  }
}
