package graft.operators

import graft.SparkTest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins z-order's PAYOFF, not just its arithmetic (q106 pins the Morton
  * interleave bit-exactly): the same rows written z-ordered must be
  * readable with strictly fewer files — and strictly fewer materialized
  * rows at the executed parquet scan — than a single-column sort, for a
  * predicate on the SECOND dimension (the case a single-column sort
  * cannot prune at all). The sf10 numbers live in SCALING.md's
  * "Z-order pruning payoff, measured"; this spec gates the mechanism.
  */
class ZOrderPruneSpec extends AnyFunSuite with SparkTest {

  private val n = 100000
  private val nFiles = 16
  private val bits = 10

  // deterministic uniform 2-D grid: a ascends (the natural sort key),
  // b is a fixed multiplicative scramble — uniform in [0, 1000)
  private lazy val data: DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, (i / 100).toLong, (i.toLong * 48271L) % 1000L))
      .toDF("id", "a", "b")
  }

  private def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case ad: AdaptiveSparkPlanExec => findScans(ad.executedPlan)
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(qs.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(findScans)
  }

  /** (files overlapping the b-predicate by per-file min/max, rows the
    * executed scan materialized under the pushed predicate). */
  private def measure(path: String, bLo: Long, bHi: Long): (Long, Long) = {
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col("b")).as("b_min"), max(col("b")).as("b_max"))
      .collect()
    val overlap = stats.count(r => r.getLong(2) >= bLo && r.getLong(1) <= bHi).toLong
    val q = spark.read.parquet(path).filter(col("b").between(bLo, bHi))
      .agg(count(lit(1)))
    // collect() (NOT first(): head() builds a separate limited
    // QueryExecution whose metrics this handle would never see)
    q.collect()
    val scanRows = findScans(q.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
    (overlap, scanRows)
  }

  test("z-order reads strictly fewer files AND rows than a single-column sort on the second dimension") {
    val base = java.nio.file.Files.createTempDirectory("zorder-prune").toString
    data.repartition(nFiles).write.parquet(s"$base/unsorted")
    data.repartitionByRange(nFiles, col("a")).sortWithinPartitions(col("a"))
      .write.parquet(s"$base/sorted_a")
    Layout.repartitionByZOrder(data,
        Layout.zBucket(col("a"), 0L, 999L, bits),
        Layout.zBucket(col("b"), 0L, 999L, bits), nFiles, bits)
      .write.parquet(s"$base/zorder")
    // layouts hold identical rows
    val counts = Seq("unsorted", "sorted_a", "zorder")
      .map(l => spark.read.parquet(s"$base/$l").count())
    assert(counts.forall(_ == n))

    // b in [512, 543]: 3.2% of the domain, aligned inside one top-2-bit
    // quarter of b so the z-prefix can localize it
    val (bLo, bHi) = (512L, 543L)
    val (unsortedFiles, unsortedRows) = measure(s"$base/unsorted", bLo, bHi)
    val (sortedFiles, sortedRows) = measure(s"$base/sorted_a", bLo, bHi)
    val (zFiles, zRows) = measure(s"$base/zorder", bLo, bHi)
    info(s"files overlapping b-slice of $nFiles: unsorted=$unsortedFiles sorted_a=$sortedFiles zorder=$zFiles")
    info(s"scan rows materialized of $n: unsorted=$unsortedRows sorted_a=$sortedRows zorder=$zRows")

    // a-sorted files each span the whole b domain — no pruning there
    assert(sortedFiles == nFiles.toLong,
      "test premise broken: single-column sort should not localize b")
    // the claim under test, strict: fewer files a stats-pruner would
    // read, and fewer rows the real parquet reader DID materialize
    assert(zFiles < sortedFiles,
      s"z-order must prune files on the second dimension ($zFiles vs $sortedFiles)")
    assert(zFiles <= nFiles / 2,
      s"z-order pruned too little: $zFiles of $nFiles files for a 3.2% slice")
    assert(zRows < sortedRows,
      s"z-ordered scan materialized no fewer rows ($zRows vs $sortedRows)")
    assert(zRows <= sortedRows / 2,
      s"row-group pruning payoff too small: $zRows vs $sortedRows")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("statsPrunedParquet: identical results on every layout, real file skipping on z-order") {
    val base = java.nio.file.Files.createTempDirectory("stats-prune").toString
    data.repartition(nFiles).write.parquet(s"$base/unsorted")
    data.repartitionByRange(nFiles, col("a")).sortWithinPartitions(col("a"))
      .write.parquet(s"$base/sorted_a")
    Layout.repartitionByZOrder(data,
        Layout.zBucket(col("a"), 0L, 999L, bits),
        Layout.zBucket(col("b"), 0L, 999L, bits), nFiles, bits)
      .write.parquet(s"$base/zorder")
    val ranges = Seq(Layout.ColRange("b", 512, 543))

    def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("id")).collect().map(_.getLong(0)).toSet
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      findScans(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }

    val expected = idsOf(
      spark.read.parquet(s"$base/unsorted").filter(col("b").between(512, 543)))
    assert(expected.nonEmpty)
    // the contract: pruning NEVER changes results, on any layout
    Seq("unsorted", "sorted_a", "zorder").foreach { l =>
      val pruned = Layout.statsPrunedParquet(spark, s"$base/$l", ranges)
      assert(idsOf(pruned) == expected, s"pruned read diverged on $l")
    }
    // ... and on the z-ordered layout the EXECUTED scan opens strictly
    // fewer files — file skipping visible in the scan node's own metric
    val zFiles = scanFiles(
      Layout.statsPrunedParquet(spark, s"$base/zorder", ranges))
    val sortedFiles = scanFiles(
      Layout.statsPrunedParquet(spark, s"$base/sorted_a", ranges))
    info(s"executed-scan numFiles: zorder=$zFiles sorted_a=$sortedFiles of $nFiles")
    assert(sortedFiles == nFiles.toLong,
      "a-sorted layout cannot skip b-files — premise")
    assert(zFiles < sortedFiles && zFiles <= nFiles / 2,
      s"stats pruning must open fewer files on z-order ($zFiles vs $sortedFiles)")
    // out-of-domain range: zero files read, empty result, schema kept
    val none = Layout.statsPrunedParquet(spark, s"$base/zorder",
      Seq(Layout.ColRange("b", 5000, 6000)))
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "a", "b"))

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("statsPrunedParquet recurses into partitioned/nested layouts") {
    val base = java.nio.file.Files.createTempDirectory("stats-prune-part").toString
    // hive-partitioned: every data file lives in a p=*/ subdirectory —
    // a non-recursive listing would see zero files and silently return
    // an empty result
    data.withColumn("p", col("a") % 4)
      .write.partitionBy("p").parquet(s"$base/part")
    val ranges = Seq(Layout.ColRange("b", 512, 543))
    val expected = spark.read.parquet(s"$base/part")
      .filter(col("b").between(512, 543))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "premise: the slice holds rows")
    val pruned = Layout.statsPrunedParquet(spark, s"$base/part", ranges)
    assert(pruned.select(col("id")).collect().map(_.getLong(0)).toSet == expected,
      "pruned read must see files inside partition subdirectories")
    // partition column survives the kept-files read (basePath)
    assert(pruned.columns.contains("p"))
    // pruning on the partition column itself: footers lack it → keep
    // all files, rows still filtered correctly
    val onPart = Layout.statsPrunedParquet(spark, s"$base/part",
      Seq(Layout.ColRange("p", 1, 1)))
    assert(onPart.select(col("id")).collect().map(_.getLong(0)).toSet ==
      spark.read.parquet(s"$base/part").filter(col("p") === 1)
        .select(col("id")).collect().map(_.getLong(0)).toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("write-time stats table plans the identical file set to the footer pass") {
    val base = java.nio.file.Files.createTempDirectory("stats-table").toString
    val dir = s"$base/zorder"
    Layout.repartitionByZOrder(data,
        Layout.zBucket(col("a"), 0L, 999L, bits),
        Layout.zBucket(col("b"), 0L, 999L, bits), nFiles, bits)
      .write.parquet(dir)
    Layout.writeStatsTable(spark, dir, Seq("a", "b"))
    val ranges = Seq(Layout.ColRange("b", 512, 543))

    def executedFiles(df: DataFrame): Long = {
      df.collect()
      findScans(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    def idsOf(df: DataFrame): Set[Long] =
      df.select(col("id")).collect().map(_.getLong(0)).toSet

    val footer = Layout.statsPrunedParquet(spark, dir, ranges)
    val table = Layout.tableStatsPrunedParquet(spark, dir, ranges)
    val expected = idsOf(
      spark.read.parquet(dir).filter(col("b").between(512, 543)))
    assert(idsOf(table) == expected && idsOf(footer) == expected,
      "both planners must return the full-read result")
    val fFiles = executedFiles(
      Layout.statsPrunedParquet(spark, dir, ranges))
    val tFiles = executedFiles(
      Layout.tableStatsPrunedParquet(spark, dir, ranges))
    info(s"executed-scan numFiles: footer=$fFiles table=$tFiles of $nFiles")
    assert(tFiles == fFiles,
      s"table-planned scan must open the footer pass's file set ($tFiles vs $fFiles)")
    assert(tFiles <= nFiles / 2, "premise: the z-order layout prunes")

    // the stats sidecar is hidden metadata: a plain read of the data dir
    // must not pick it up
    assert(spark.read.parquet(dir).count() == n)

    // a file appended AFTER the stats write is kept unpruned (stale
    // table degrades to a larger scan, never to missing rows)
    import spark.implicits._
    Seq((1000000L, 1L, 520L)).toDF("id", "a", "b")
      .coalesce(1).write.mode("append").parquet(dir)
    val afterAppend = Layout.tableStatsPrunedParquet(spark, dir, ranges)
    assert(idsOf(afterAppend).contains(1000000L),
      "appended file unknown to the table must still be read")

    // a range on a column the table never captured prunes nothing
    val uncaptured = Layout.tableStatsPrunedParquet(spark, dir,
      Seq(Layout.ColRange("id", 0, 50)))
    assert(idsOf(uncaptured) == (0L to 50L).toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("zBucket is monotone and clamps to [0, 2^bits)") {
    import spark.implicits._
    val vals = Seq(-5L, 0L, 1L, 499L, 500L, 999L, 1200L).toDF("v")
      .select(Layout.zBucket(col("v"), 0L, 999L, bits).as("z"))
      .collect().map(_.getLong(0))
    assert(vals.zip(vals.tail).forall { case (x, y) => x <= y }, "monotone")
    assert(vals.forall(z => z >= 0 && z < (1L << bits)), "in range")
    assert(vals.head == 0L && vals.last == (1L << bits) - 1,
      "out-of-range values clamp to edge buckets")
  }
}
