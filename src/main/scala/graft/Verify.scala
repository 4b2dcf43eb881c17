package graft
import graft.core.Sessions
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c restricts to named queries (dev loops);
    // unset (the driver) = everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(name: String) = only.forall(_.contains(name))
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      // per-query cache lifecycle (VERDICT r2 cache hygiene): drop
      // cached intermediates so the 277-query session doesn't accumulate
      Sessions.reset(spark)
    }
    // end-of-run summary so a broken query can't hide mid-scroll
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
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
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
