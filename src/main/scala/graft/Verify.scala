package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (local iteration only — the driver passes 2):
    // comma-separated query-name prefixes to dump a subset.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = EngineConf.builder(EngineConf.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Sorted order (reproducible) with shared-cache groups released
    // once their last consumer has dumped ([[Cache.releaseAfter]],
    // the schedule Bench uses).
    // A thrown query must be VISIBLE in the artifacts: rounds 10/11
    // lost 59 queries to a data-format change and the only trace was
    // stderr — the driver's correctness JSON simply had fewer entries.
    // Collect name → first error line and dump _failed.json below so
    // breakage shows up as a file the driver (and a human) can read.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val first = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.toSeq.headOption.getOrElse(e.getClass.getName)
        failed += name -> first
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Cache.releaseAfter(spark, name)
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
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED — " +
        s"see $outDir/_failed.json")
    spark.stop()
  }
}
