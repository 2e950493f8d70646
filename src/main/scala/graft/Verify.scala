package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Optional third arg narrows the dump to queries whose name contains
  * any of the comma-separated substrings (dev loop; the driver passes
  * two args and gets the full catalog). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    def selected(name: String): Boolean = only.forall(_.exists(name.contains))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    // Data-dependent oracles (fitted-codebook ANN family) are
    // generated here — after the Spark dumps, against the same dir —
    // and merged in. A generation failure must not zero the round's
    // correctness for every OTHER query, so it degrades to the static
    // map with a loud stderr line (those queries then read as
    // no_oracle, never as wrong answers).
    val dynamic =
      if (!SparkEntry.dynamicOracleNames.exists(selected))
        Map.empty[String, String] // subset run excludes the fitted-ANN
      else
        try SparkEntry.dynamicOracleSql(spark, sfDir)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] dynamic oracle generation failed: $e")
          Map.empty[String, String]
        }
    val json = (SparkEntry.oracleSql ++ dynamic).filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
