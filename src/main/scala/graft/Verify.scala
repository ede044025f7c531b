package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration (the driver always passes 2 args → full suite)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.core.GraftSession.fixtureSession(sfDir)
    new java.io.File(outDir).mkdirs()
    // Erroring queries must be LOUD: r5's driver compare silently omitted
    // queries with no dumped dir, so 119→83 green went unnoticed by the
    // local gate. Every failure lands in _errors.json (query → exception)
    // and flips the exit code, so `queries.keySet ⊄ dumped dirs` can never
    // pass silently again.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!selected(name)) ()
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
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
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
    // Deliberately exit 0 even with failures: the driver must still run the
    // DuckDB compare over the queries that DID dump. tools/check_oracle.py
    // reads _errors.json and fails the local gate loudly instead.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size}/${SparkEntry.queries.size} queries FAILED: ${errors.keys.mkString(", ")}")
  }
}
