package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing args: dump only these queries (dev iteration);
    // the driver always calls with exactly two args -> full dump
    val only: Option[Set[String]] = if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = Session.local(Session.cores)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += name -> String.valueOf(e.getMessage)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // A failed dump silently VANISHES from the driver's correctness
    // artifact, which then still reads "all pass". Make the loss impossible to miss with a
    // summary line the driver's log capture keeps. No extra files in
    // outDir: the driver treats its contents as query dumps.
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] *** ${failures.size}/${selected.size} QUERIES FAILED TO DUMP: " +
          failures.map(_._1).mkString(", ") + " ***"
      )
    } else {
      System.err.println(s"[verify] dumped ${selected.size}/${selected.size} queries")
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
