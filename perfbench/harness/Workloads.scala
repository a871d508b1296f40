package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.Graft
import graft.operators.Similarity

/** One workload as perfbench/workloads.json defines it: the
  * `graft.operators` queries a pass runs, in order, then (`ann` only) one
  * `Graft.buildIvfIndex` and `serveBatches` batches of `batchSize` query
  * vectors through `Graft.annServeFromIndex`. */
final case class Workload(name: String, operators: Seq[String],
                          serveBatches: Int, batchSize: Int) {

  def calls(spark: SparkSession, dir: String, artifacts: String): Seq[Call] = {
    val index = s"$artifacts/ivf-index"
    def batch(b: Int): DataFrame = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= b * batchSize && col("vec_id") < (b + 1) * batchSize)
      .select(col("vec_id"), col("embedding"))
    val serve = if (serveBatches == 0) Nil else
      Call("build_ivf_index", "api", () => { Graft.buildIvfIndex(spark, dir, index); None }) +:
        (0 until serveBatches).map(b => Call(s"serve_b$b", "api",
          () => Some(Graft.annServeFromIndex(spark, index, batch(b)))))
    operators.map(n => Call(n, "operators",
      () => Some(graft.SparkEntry.queries(n)(spark, dir)))) ++ serve
  }
}

object Workloads {
  def load(path: String): Map[String, Workload] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(path)))
    root.properties().asScala.map { e =>
      val w = e.getValue
      e.getKey -> Workload(e.getKey,
        w.get("operators").elements().asScala.map(_.asText).toSeq,
        Option(w.get("serve_batches")).map(_.asInt).getOrElse(0),
        Option(w.get("batch_size")).map(_.asInt).getOrElse(0))
    }.toMap
  }

  /** Oracles whose SQL inlines a model trained on the oracle's input
    * (`graft.oracle.sfdir`); each pass rebuilds them for its own input
    * after its timed calls, where they hit the model memo. The build
    * step checks that each still equals its SparkEntry.oracleSql entry. */
  val perPassOracles: Map[String, () => String] = Map(
    "ann_ivf" -> (() => Similarity.ivfTrainedOracle()))

  /** The serve batch over vec_id < batch size answers this query. */
  val firstServeOracle = "ann_ivf_indexed"

  def oracleFor(call: String, static: Map[String, String]): Option[String] =
    if (call == "serve_b0") static.get(firstServeOracle)
    else perPassOracles.get(call).map(_()).orElse(static.get(call))
}
