package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = run only these queries (local iteration; driver passes 2)
    val only = args.drop(2).toSet
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Self-describing dump (ADVICE r8): a query that errors leaves no
    // result dir, so a record built from the dirs alone silently reads
    // as all-green. Collect every failure and dump errors.json alongside
    // the results so the gate can see the losses, not just the survivors.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        // stale-dir guard (ADVICE r9): overwrite only replaces the dir on
        // success, so a prior run's green result for a now-failing query
        // would survive and read as a pass. A failed query must leave NO
        // readable result dir.
        rmTree(new java.io.File(s"$outDir/$name"))
      } finally CacheScope.releaseAll() // operator-internal persists end with the query
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
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // rc stays 0 even with errors: the driver compares whatever dirs
    // exist; failing the JVM here could zero the surviving 140+ entries.
    // local_verify.py reads errors.json and fails the LOCAL gate instead.
    CacheScope.releaseSession() // cross-query caches (fixture bases) end with the run
    spark.stop()
  }
}
