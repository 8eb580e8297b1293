package graft.tools

/** Dump `.explain("formatted")` for every declared query to a directory
  * (default plans/r14), one `<query>_<suffix>.txt` per query — the
  * judge-checkable plan evidence for the optimization rounds.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [q1,q2,...]
  * The session is Bench's ([[graft.Sessions.queryPack]]), so the dumped
  * initial plans match what the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r14"
    val suffix = if (args.length > 1) args(1) else "before"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.queryPack("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = graft.queries.QueryPack.all.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    qs.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] $name ok (${plan.length} chars)")
      } catch { case t: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${t.toString.take(200)}")
      }
    }
    spark.stop()
  }
}
