package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional
  * third arg (comma-separated query names) restricts the dump — local
  * re-verification of a single fixed query without a full sweep.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    // Bench's session: the oracle grades the plan the bench times.
    val spark = Sessions.queryPack("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // A stale result dir from a prior run into the same outDir would
          // otherwise mask this failure: the declared-but-missing gate only
          // fires when the directory is absent, so check.py would validate
          // the previous run's parquet as a pass.
          val stale = new java.io.File(s"$outDir/$name")
          deleteRecursively(stale)
          if (stale.exists()) {
            // delete() returning false is silent — if the stale dir
            // survives (open handle, permissions), the masking scenario
            // above is back; a failed verify run must fail loudly, not
            // let check.py grade last run's parquet
            System.err.println(
              s"[verify] FATAL: could not remove stale $stale after failure")
            spark.stop()
            sys.exit(2)
          }
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
    // The FULL expected query list, independent of which dumps succeeded:
    // a query that throws on the Spark side produces no result directory,
    // and a gate that enumerates directories would silently drop it from
    // coverage (round 8: 9 broken queries read as a 72/72 pass). The
    // checker treats every name here with no result dir as a FAIL.
    // Deliberately UNFILTERED by `only`: a single-query re-verification
    // into an existing outDir must not shrink the declared list (check.py
    // applies its own --only/--skip after unioning declared ∪ dirs).
    val expected = SparkEntry.queries.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), expected)
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
