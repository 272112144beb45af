package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run one declared query and dump it for the oracle compare. On
    * failure: remove any stale dump from a previous run (a reused outDir
    * would otherwise make the compare a false PASS on old output) and
    * leave an explicit `<name>._FAILED` marker — a throwing key must
    * show up as attempted-and-failed, never silently vanish from the
    * round's report (the q_events_churn lesson). Returns the error. */
  def runOne(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: Query.Q): Option[String] =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      val dir = new java.io.File(s"$outDir/$name")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete())
        dir.delete(): Unit
      }
      Files.writeString(Paths.get(s"$outDir/$name._FAILED"),
        s"${e.getClass.getName}: ${e.getMessage}\n")
      Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args = restrict to these keys (local iteration only;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val spark = Session.local("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      runOne(spark, sfDir, outDir, name, fn).foreach { err =>
        System.err.println(s"[verify] $name failed: $err")
        failures(name) = err
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
    // aggregate failure manifest: key -> exception, "{}" when all clean
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} key(s) FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
