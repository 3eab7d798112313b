package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [queryName ...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict the dump to the named queries
    val wanted = args.drop(2).toSet
    val spark = Session.build(Session.Role.Verify, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val outcomes = QueryRun.run(spark, QueryRun.select(wanted, sfDir))(
      act = (name, build) =>
        build().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"),
      failed = (name, e) => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
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
    // Durable run summary (file, not just stderr): which dumps succeeded.
    // A driver that only tails the log can read this instead.
    val summary = outcomes.map { case (n, ok) => s"${q(n)}: ${ok.isDefined}" }
      .mkString("{\"dumped\": {", ",", "}}")
    Files.writeString(Paths.get(s"$outDir/verify.json"), summary + "\n")
    spark.stop()
  }
}
