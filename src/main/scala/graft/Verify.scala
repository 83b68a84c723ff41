package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [only=a,b,c]  — the optional third arg
    // restricts the dump like SPARK_GRAFT_ONLY does, but reliably from
    // `sbt --client` (a thin-client `set envVars` does not reach the
    // forked runMain JVM; positional args always do)
    val (sfDir, outDir) = (args(0), args(1))
    val onlyArg = args.drop(2).find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet)
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      graft.ingest.Scratch.warehouse.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c (dev aid, same contract as Bench): restrict
    // the dump to the named queries while iterating on one entry.
    val only = onlyArg.orElse(sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet))
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
