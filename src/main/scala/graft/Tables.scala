package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-checked loaders for the driver-provided testdata tables.
  *
  * All operators read through here so that a future swap to a real
  * lakehouse layout (partitioned dirs, catalog tables) is one change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables that should always be broadcast in joins. */
  val broadcastDims: Set[String] =
    Set("region", "nation", "customer", "supplier", "part")

  /** The driver has shipped events.ts as parquet TIMESTAMP(NANOS) (read as
    * LongType nanos under `nanosAsLong`), and as TIMESTAMP_MICROS with
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ unless NTZ inference is
    * off). Normalize every variant to a plain session-TZ (UTC) TIMESTAMP so
    * operators and oracles see one type regardless of generator vintage.
    * Integral `div` on the nanos path avoids the >2^53 double-precision
    * trap; the NTZ cast is exact (UTC session = DuckDB's naive read). */
  def normalizeTs(df: DataFrame, col: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    if (!df.columns.contains(col)) df
    else df.schema(col).dataType match {
      case LongType =>
        df.withColumn(col, timestamp_micros(expr(s"$col div 1000")))
      case TimestampNTZType =>
        df.withColumn(col, df(col).cast("timestamp"))
      case _ => df
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** The session settings every graft entrypoint (Verify/Bench/tests)
    * applies: UTC for oracle parity, nanos-tolerant parquet reads, AQE on. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // parquet TIMESTAMP with isAdjustedToUTC=false would otherwise read
    // as TIMESTAMP_NTZ (Spark 4 default), which unix_micros()/watermarks
    // reject; with a UTC session the plain-TIMESTAMP read is value-exact
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // reliable-checkpoint files (clustersFromPairs' durable lineage
    // cuts) are deleted by the ContextCleaner once their RDD handle is
    // GC'd — without this, repeated propagation runs in one session
    // accumulate dead round checkpoints on disk forever
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  /** The session and corpus an oracle builder that inlines TRAINED
    * model literals trains on: the active session (else a small local
    * one) and the `graft.oracle.sfdir` corpus (default sf0.01). */
  private[graft] def oracleSession(): (SparkSession, String) = {
    val spark = SparkSession.getActiveSession.getOrElse(
      configure(SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")).getOrCreate())
    (spark, sys.props.getOrElse("graft.oracle.sfdir", "/root/testdata/sf0.01"))
  }
}
