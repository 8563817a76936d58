package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each registry query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name …]
  * With no names it dumps the full registry; names select a subset, and an
  * unknown name is refused before the session starts. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name …]")
    val Array(sfDir, outDir) = args.take(2)
    val selected = queries.Registry.resolve(args.drop(2).toSeq)
    val spark = core.Session.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { query =>
      val name = query.name
      try query.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release what the query cached (pipe_suffix_scrub's ladder levels,
      // CC checkpoints) so blocks don't accumulate across the registry
      core.Measure.releaseAll(spark)
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
