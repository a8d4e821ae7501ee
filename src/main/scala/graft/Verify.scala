package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names, for fast local
    // iteration on one entry (the driver always passes two args)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Tables.localSession(Tables.graftCpus)
    new java.io.File(outDir).mkdirs()
    // failed queries land in _errors.json (name -> message) so a crash
    // is a visible artifact, not a silently-missing scenario — round 7
    // shipped a "green" correctness file that had quietly lost 21
    // erroring scenarios. local_verify.py counts these as failures.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
      // dedup queries persist posting lists for their own plan reuse;
      // drop them so later queries don't run under cache pressure
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))
    // dir-dependent oracles (d9b's landed-centroid input) must resolve
    // for THIS run's data dir, not whichever dir the session saw last
    SparkEntry.oracleDirHint = Some(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.jsonString(k)}: ${Verify.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL or an error
    * message would otherwise make the driver's json.load fail and
    * silently zero the round's correctness. Shared with Bench. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
