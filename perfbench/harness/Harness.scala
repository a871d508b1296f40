package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One call into a layer's public function. `run` returns the frame the
  * harness then collects in full, or None for a call whose whole effect
  * is its construction (an artifact build). */
final case class Call(name: String, layer: String, run: () => Option[DataFrame])

/** A call's result, kept until the pass's timed region has ended. */
final case class Result(name: String, schema: StructType, rows: Array[Row])

/** Benchmark harness: runs one workload in this JVM as a closed loop
  * with one client (calls run one after another) — `--warmup` untimed
  * passes, then timed passes until `--seconds` of timed work is done or
  * the inputs run out. Each pass reads its own input directory.
  *
  * Modes:
  *  - `run`: the workload; writes `result.json`, each pass's results
  *    and oracle SQL (for the DuckDB check) and, traced, `spans.jsonl`.
  *  - `oracles`: dumps `SparkEntry.oracleSql` once per build and checks
  *    that [[Workloads.perPassOracles]] still matches it.
  *
  * Everything is measured from outside the engine: wall clocks around
  * calls into `graft.operators` / `graft.api`, a SparkListener
  * ([[Trace]]) and JVM MXBeans. */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    new File(out).mkdirs()
    val spark = session()
    try a("mode") match {
      case "oracles" => dumpOracles(spark, a("inputs"), out)
      case "run" => runWorkload(spark, Workloads.load(a("workloads"))(a("workload")),
        a("inputs").split(",").toSeq, a("warmup").toInt, a("oracle-cache"), a("seconds").toDouble,
        a("trace") == "1", a("scratch"), a("artifacts"), out)
    } finally spark.stop()
  }

  private def session(): SparkSession = {
    val s = graft.Tables.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Same hygiene graft.Bench and graft.Verify apply between queries. */
  private def release(spark: SparkSession): Unit = {
    graft.operators.TransientCaches.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def runWorkload(spark: SparkSession, workload: Workload, inputs: Seq[String],
                  warmupPasses: Int, oracleCache: String, seconds: Double, traced: Boolean,
                  scratch: String, artifacts: String, out: String): Unit = {
    val trace = new Trace(traced)
    if (traced) spark.sparkContext.addSparkListener(trace.listener)
    val staticOracles = Json.readStringMap(oracleCache)
    val run = trace.open("run", workload.name, None)
    val passes = ArrayBuffer[Json.Raw]()
    var timedStartMs = 0.0
    var timedS = 0.0
    var zeroRows = Vector.empty[String]
    var errors = Vector.empty[String]
    var i = 0
    while (i < inputs.size && (i <= warmupPasses || timedS < seconds)) {
      val warmup = i < warmupPasses
      if (i == warmupPasses) timedStartMs = trace.nowMs
      val dir = inputs(i)
      // the harness's own artifacts live outside graft's scratch root,
      // whose growth is the leak measurement
      val own = new File(s"$artifacts/p$i")
      val calls = workload.calls(spark, dir, own.getPath)
      val gc0 = Jvm.gcMs
      val pass = trace.open("pass", if (warmup) s"warmup$i" else s"p$i", Some(run))
      val results = ArrayBuffer[Result]()
      val timings = ArrayBuffer[Json.Raw]()
      for (c <- calls) {
        val span = trace.open("call", c.name, Some(pass), c.layer)
        trace.beginJobs(spark, span)
        var constructMs = Double.NaN
        try {
          val cons = trace.open("construct", c.name, Some(span))
          val df = c.run()
          trace.close(cons)
          constructMs = cons.end - cons.start
          df.foreach { d =>
            val col = trace.open("collect", c.name, Some(span))
            val rows = d.collect()
            trace.close(col)
            if (!warmup) results += Result(c.name, d.schema, rows)
            if (rows.isEmpty) zeroRows :+= s"p$i/${c.name}"
          }
        } catch {
          case e: Exception => errors :+= s"p$i/${c.name}: ${e.toString.takeWhile(_ != '\n')}"
        } finally {
          trace.endJobs(spark)
          trace.close(span)
          release(spark)
          timings += Json.obj("name" -> c.name, "layer" -> c.layer,
            "wall_s" -> (span.end - span.start) / 1000.0, "construct_s" -> constructMs / 1000.0)
        }
      }
      trace.close(pass)
      val wallS = (pass.end - pass.start) / 1000.0
      if (!warmup) timedS += wallS
      val gcMs = Jvm.gcMs - gc0
      // untimed: results and oracle SQL for the DuckDB check, which
      // covers the timed passes only
      if (!warmup) trace.within(spark, "check", s"p$i", run) {
        val passOut = s"$out/p$i"
        for (r <- results) spark.createDataFrame(r.rows.toSeq.asJava, r.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$passOut/${r.name}")
        sys.props("graft.oracle.sfdir") = dir
        val oracles = results.map(_.name).distinct.flatMap { n =>
          Workloads.oracleFor(n, staticOracles).map(n -> _)
        }
        Json.writeStringMap(s"$passOut/oracle_sql.json", oracles.toMap)
      }
      release(spark)
      Dirs.delete(own)
      val heapMb = if (traced) Jvm.heapAfterGcMb else -1.0
      passes += Json.obj(
        "index" -> i, "warmup" -> warmup, "dir" -> dir, "wall_s" -> wallS,
        "gc_s" -> gcMs / 1000.0, "heap_after_gc_mb" -> heapMb,
        "codecache_mb" -> Jvm.codeCacheMb,
        "scratch_bytes" -> Dirs.treeBytes(new File(scratch)),
        "calls" -> timings.toSeq)
      i += 1
    }
    val probes = if (traced) Probes.all(spark, trace, run) else Seq.empty
    val threadsEnd = ManagementFactory.getThreadMXBean.getThreadCount
    trace.close(run)
    spark.sparkContext.stop() // drains the listener bus before the spans are written
    if (traced) trace.write(s"$out/spans.jsonl")
    Files.writeString(Paths.get(s"$out/result.json"), Json.obj(
      "workload" -> workload.name,
      "first_timed_pass_epoch_ms" -> timedStartMs,
      "passes" -> passes.toSeq,
      "zero_rows" -> zeroRows,
      "errors" -> errors,
      "threads_end" -> threadsEnd,
      "probes" -> probes.map { case (k, v) => Json.obj("name" -> k, "value" -> v) }
    ).render + "\n")
  }

  /** Build-time dump of every oracle, evaluated once: the full map is
    * expensive (it trains every data-dependent oracle's model), so passes
    * rebuild only [[Workloads.perPassOracles]]. */
  def dumpOracles(spark: SparkSession, dir: String, out: String): Unit = {
    sys.props("graft.oracle.sfdir") = dir
    val all = graft.SparkEntry.oracleSql
    val mismatched = Workloads.perPassOracles.collect {
      case (n, build) if !all.get(n).contains(build()) => n
    }
    require(mismatched.isEmpty,
      s"per-pass oracle SQL disagrees with SparkEntry.oracleSql: ${mismatched.mkString(",")}")
    Json.writeStringMap(s"$out/oracle_sql.json", all)
  }
}

object Json {
  /** An already-rendered JSON value. */
  final case class Raw(render: String)

  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case j: Raw => j.render
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
  }

  def writeStringMap(path: String, m: Map[String, String]): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), value(m))
  }

  /** Reads the flat {string: string} object [[writeStringMap]] writes. */
  def readStringMap(path: String): Map[String, String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8))
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }
}

/** JVM readings through MXBeans. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Old-generation usage right after explicit full collections: a plain
    * `Runtime` read mostly measures how much garbage awaits collection. */
  def heapAfterGcMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.NON_HEAP &&
      (p.getName.startsWith("CodeHeap") || p.getName == "Code Cache"))
    .map(_.getUsage.getUsed).sum / 1048576.0
}

/** File-tree helpers for the harness's own directories. */
object Dirs {
  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
}
