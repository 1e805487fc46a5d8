package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `s` as a JSON string literal. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in an oracle's SQL would
    * otherwise make `tools/check.py`'s json.load of oracle_sql.json
    * fail, and no query could be checked. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional builder-side filter (args 3+): dump only the named queries
    // — the driver always passes exactly (sfDir, outDir) and gets them all
    val selected = SparkEntry.named(args.drop(2).toSeq)
    val spark = Bench.session("graft-verify")
    // oracle parity mode: exact rank-based percentiles (the default is
    // the approx_percentile sketch, which DuckDB cannot reproduce)
    spark.conf.set("spark.graft.exactPercentiles", "true")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
