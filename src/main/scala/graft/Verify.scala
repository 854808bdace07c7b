package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: exactly (sfDir, outDir). Optional third arg
    // `--only a,b,c` is builder-side iteration sugar: restricts both the
    // query runs and the oracle dump to the named defs.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.drop(2) match {
      case Array("--only", names) => Some(names.split(",").toSet)
      case _                      => None
    }
    def keep(name: String) = only.forall(_.contains(name))
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
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
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // ANN quality artifact (VERDICT r3 #2): measured recall/cost for the
    // approximate tier rides along with every full correctness dump — both
    // into outDir and to a repo-anchored copy (SPARK_GRAFT_RECALL_OUT) so
    // the per-round artifact regenerates even though the driver only
    // collects outDir parquet (VERDICT r5 #4: RECALL_r5 was never emitted
    // because the outDir copy is ephemeral).
    if (only.isEmpty)
      try {
        val json = Recall.toJson(Recall.measure(spark, sfDir)) + "\n"
        Files.writeString(Paths.get(s"$outDir/recall.json"), json)
        val anchored = sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT",
          "/root/repo/RECALL_last.json")
        Files.writeString(Paths.get(anchored), json)
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] recall report failed: ${e.getMessage}")
      }
    spark.stop()
  }
}
