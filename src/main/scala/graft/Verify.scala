package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Every cause in the chain as `class: message`, outermost first — an
    * `ExceptionInInitializerError` has a null message of its own. */
  private[graft] def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString(" <- caused by ")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional: run just these queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared configs via GraftSession (VERDICT r16 #3 / ADVICE r16 #3):
    // the oracle-checked configuration now runs the same sort-writer +
    // no-fork-FS environment the bench times, end to end. Verify keeps
    // the DEFAULT state-store provider deliberately — the oracle gate
    // covers that path while Bench covers RocksDB (parity pinned in
    // StreamingSpec).
    val spark = GraftSession.builder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable => // also LinkageErrors: report, go on
        System.err.println(s"[verify] $name failed: ${causes(e)}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
