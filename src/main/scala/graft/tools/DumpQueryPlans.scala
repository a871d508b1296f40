package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import graft.{SparkEntry, Tables}

/** Writes one `<out>/<query>_<suffix>.txt` per named query containing
  * its `.explain("formatted")` output — the per-round optimization
  * evidence format (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Args: `-sf <dir>` (default /root/testdata/sf0.1), `-out <dir>`,
  * `-suffix <before|after>` (default after), and query names, in any
  * order ([[parseArgs]]). Session shape matches [[DumpPlans]]
  * (local[8], 8 shuffle partitions) so the two artifacts stay
  * comparable. */
object DumpQueryPlans {
  private val flags = Set("-sf", "-out", "-suffix")

  /** Left to right: a known flag consumes the argument after it as its
    * value (a later repeat wins); every other argument is a query name,
    * so a name equal to some flag's value is still kept. An unknown
    * `-flag` or a flag without a value is refused. Returns
    * (flag → value, query names in order). */
  private[graft] def parseArgs(args: Seq[String])
      : (Map[String, String], Seq[String]) = {
    @annotation.tailrec
    def go(rest: List[String], vals: Map[String, String],
           names: Vector[String]): (Map[String, String], Seq[String]) =
      rest match {
        case Nil => (vals, names)
        case f :: tail if f.startsWith("-") =>
          require(flags(f), s"unknown flag $f (known: ${flags.mkString(" ")})")
          require(tail.nonEmpty, s"flag $f needs a value")
          go(tail.tail, vals + (f -> tail.head), names)
        case name :: tail => go(tail, vals, names :+ name)
      }
    go(args.toList, Map.empty, Vector.empty)
  }

  def main(args: Array[String]): Unit = {
    val (vals, names) = parseArgs(args.toSeq)
    val sfDir = vals.getOrElse("-sf", "/root/testdata/sf0.1")
    val outDir = vals.getOrElse("-out", sys.props("user.dir") + "/plans/tmp")
    val suffix = vals.getOrElse("-suffix", "after")
    require(names.nonEmpty, "no query names given")

    val spark = Tables.configure(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      require(SparkEntry.queries.contains(name), s"unknown query $name")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      System.err.println(s"[plans] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
