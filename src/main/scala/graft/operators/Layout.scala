package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators for scan pruning at scale. Partition pruning
  * (EnvelopeStore) eliminates whole directories by partition column;
  * Z-ORDER clustering makes per-FILE min/max statistics selective on
  * MULTIPLE columns at once: interleaving the bits of two dimensions
  * makes z-adjacent rows adjacent in both, so a file holding a z-range
  * holds a tight rectangle in (a, b) — a predicate on EITHER column
  * prunes most files, where a single-column sort makes the second
  * column's min/max ranges span everything. The 100 TB lever: the same
  * parquet bytes, rewritten in z-order, turn full scans into few-file
  * reads for two-dimensional slices.
  */
object Layout {

  /** Morton (Z-order) key: interleaves the low `bits` bits of two
    * non-negative integer columns — bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Pure integer shifts and ors (codegen'd, no
    * HOF, no shuffle); values must already be bucketed into
    * [0, 2^bits) — compose with pmod/width_bucket upstream.
    */
  def zOrderKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(a.cast("long").bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(b.cast("long").bitwiseAND(lit(1L << i)), i + 1))
    }
  }

  /** Monotone bucketing of an integer-valued column into [0, 2^bits) —
    * the upstream companion [[zOrderKey]]'s contract asks for. MONOTONE
    * (equal-width, via width_bucket) is the requirement: a modular map
    * like pmod would scatter adjacent values across buckets and destroy
    * exactly the locality z-ordering exists to create. Values outside
    * [minV, maxV] clamp to the edge buckets.
    */
  def zBucket(c: Column, minV: Long, maxV: Long, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(maxV >= minV, s"need maxV >= minV, got [$minV, $maxV]")
    val n = 1L << bits
    greatest(lit(0L), least(lit(n - 1),
      width_bucket(c.cast("double"), lit(minV.toDouble),
        lit(maxV.toDouble + 1.0), lit(n)) - 1))
  }

  /** Rewrite a DataFrame into z-ordered layout: range-partition by the
    * z-key (so files cover contiguous z-ranges → tight min/max on both
    * dimensions) and sort within partitions. One exchange; follow with
    * `.write.parquet(...)` — the per-file stats then prune on either
    * dimension. */
  def repartitionByZOrder(df: DataFrame, a: Column, b: Column,
                          numPartitions: Int, bits: Int = 16): DataFrame = {
    val z = zOrderKey(a, b, bits)
    df.withColumn("_z", z)
      .repartitionByRange(numPartitions, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Inclusive numeric range predicate on one column — the unit of
    * [[statsPrunedParquet]]'s pruning (conjunctions of these are what
    * file-level min/max statistics can decide). */
  final case class ColRange(column: String, lo: Double, hi: Double) {
    require(lo <= hi, s"empty range [$lo, $hi] on $column")
  }

  /** Stats-pruned parquet read — the scan-planner half of the z-order
    * story, so "few-file reads" is something this engine DOES rather
    * than something a hypothetical Delta/Iceberg layer would do: read
    * each file's parquet FOOTER (driver-side metadata pass, no data
    * pages), keep only files where some row group's [min, max] on every
    * range column intersects its range, and hand Spark just those files
    * — the executed FileSourceScanExec then shows the pruned `numFiles`
    * for real. The row-level filter is still applied (file stats only
    * bound, never decide rows), so the result is ALWAYS identical to
    * `spark.read.parquet(dir).filter(...)` on any layout — pruning can
    * only change which files are opened (spec'd on all three
    * ZOrderPruneSpec layouts).
    *
    * Scale shape: the footer pass is O(#files) driver metadata I/O —
    * exactly the planning pass every lakehouse scan planner runs; at
    * 100 TB a deployment amortizes it into a stats table maintained at
    * write time (Delta's checkpoint / Iceberg's manifest), which this
    * function's per-file (min, max) tuples are the contents of.
    * Columns with missing/untyped stats keep the file (never prune on
    * unknowns); files whose schema lacks the column keep too.
    */
  def statsPrunedParquet(spark: SparkSession, dir: String,
                         ranges: Seq[ColRange]): DataFrame = {
    require(ranges.nonEmpty, "statsPrunedParquet needs at least one range")
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = listParquetFiles(fs, root)
    val cols = ranges.map(_.column)
    // keep a file iff SOME row group intersects EVERY range (unknown
    // bounds intersect by definition — never prune on missing stats)
    val kept = files.filter { p =>
      footerBlockStats(conf, p, cols)
        .groupBy(_.block).values.exists { blockStats =>
          val byCol = blockStats.map(s => s.column -> s).toMap
          ranges.forall { r =>
            byCol.get(r.column) match {
              case Some(BlockColStats(_, _, _, Some(mn), Some(mx))) =>
                mx >= r.lo && mn <= r.hi
              case _ => true
            }
          }
        }
    }
    val pred = ranges.map(r => col(r.column).between(r.lo, r.hi)).reduce(_ && _)
    if (kept.isEmpty)
      // preserve the schema; lit(false) folds to an empty LocalRelation
      spark.read.parquet(dir).filter(lit(false))
    else
      // basePath keeps directory-encoded partition columns alive when the
      // layout is hive-partitioned (a kept-files read would otherwise
      // drop them and break the "identical to a full read" guarantee)
      spark.read.option("basePath", dir)
        .parquet(kept.map(_.toString).toIndexedSeq: _*).filter(pred)
  }

  /** Sidecar stats-table directory under a data dir — `_`-prefixed so
    * Spark's file index (and [[listParquetFiles]]) treat it as hidden
    * metadata, exactly like `_SUCCESS`/`_metadata`. */
  val StatsDirName = "_graft_stats"

  /** Write-time stats table — the 100 TB form of [[statsPrunedParquet]]'s
    * planning pass: ONE footer pass when the data is written (amortized
    * into the write job, like Delta's checkpoint / Iceberg's manifest),
    * persisted as a tiny parquet table at `dir/_graft_stats` holding one
    * row per (file, row-group, column): exactly the (min, max) tuples the
    * per-query footer pass re-derives today. A row's null min/max means
    * "stats unusable — never prune" (missing/untyped/non-numeric, the
    * same keep rules the footer pass applies); every requested column
    * gets a row per row-group even when absent from the file's schema,
    * so the table's keep decision is total.
    *
    * Call after the parquet write (and again after appends — a file the
    * table doesn't know is kept unpruned by
    * [[tableStatsPrunedParquet]], so a stale table degrades to a larger
    * scan, never to wrong results).
    */
  def writeStatsTable(spark: SparkSession, dir: String,
                      columns: Seq[String]): Unit = {
    require(columns.nonEmpty, "writeStatsTable needs at least one column")
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val rows = listParquetFiles(fs, root).toSeq.flatMap { p =>
      footerBlockStats(conf, p, columns).map { s =>
        (s.file, s.block, s.column,
          s.min.map(Double.box).orNull, s.max.map(Double.box).orNull)
      }
    }
    import spark.implicits._
    rows.toDF("file", "block", "column", "min", "max")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$StatsDirName")
  }

  /** Stats-table-planned pruned read: [[statsPrunedParquet]]'s exact
    * keep decision (some row group intersects EVERY range; unknown stats
    * keep) planned from the [[writeStatsTable]] sidecar instead of a
    * per-query footer pass — the decision itself runs as a Spark
    * aggregate over the stats table (a manifest-scale query: at 10⁵
    * files × 32 row groups the table is a few million fixed-width rows),
    * and only kept file NAMES reach the driver. Files present on disk
    * but absent from the table (appended after the stats write) are
    * kept unpruned. Results are ALWAYS identical to
    * `spark.read.parquet(dir).filter(ranges)` — the row-level filter is
    * still applied; the table only changes which files are opened
    * (spec'd identical to the footer pass in ZOrderPruneSpec).
    */
  def tableStatsPrunedParquet(spark: SparkSession, dir: String,
                              ranges: Seq[ColRange]): DataFrame = {
    require(ranges.nonEmpty, "tableStatsPrunedParquet needs at least one range")
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val statsPath = new Path(s"$dir/$StatsDirName")
    require(fs.exists(statsPath),
      s"no stats table at $statsPath — run writeStatsTable after the write")
    val st = spark.read.parquet(statsPath.toString)
    // a (block, column) row VIOLATES a range iff its stats are usable
    // and provably disjoint; rows for columns no range touches never
    // violate, and a range on a column the table doesn't carry prunes
    // nothing (no row matches — unknown keeps, the footer-pass rule)
    val violates = ranges.map(r =>
      col("column") === lit(r.column) &&
        col("min").isNotNull && col("max").isNotNull &&
        !(col("max") >= lit(r.lo) && col("min") <= lit(r.hi)))
      .reduce(_ || _)
    // keep a file iff SOME row group has NO violating column
    val keptFromTable = st
      .groupBy(col("file"), col("block"))
      .agg(max(when(violates, 1).otherwise(0)).as("bad"))
      .groupBy(col("file"))
      .agg(min(col("bad")).as("best_block_bad"))
      .filter(col("best_block_bad") === 0)
      .select(col("file")).collect().map(_.getString(0)).toSet
    val knownFiles = st.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    val onDisk = listParquetFiles(fs, root).map(_.toString)
    val kept = onDisk.filter(f => keptFromTable(f) || !knownFiles(f))
    val pred = ranges.map(r => col(r.column).between(r.lo, r.hi)).reduce(_ && _)
    if (kept.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.option("basePath", dir)
      .parquet(kept.toIndexedSeq: _*).filter(pred)
  }

  /** One row of per-row-group column statistics, as both the footer
    * pass and the write-time stats table see it: None min/max = stats
    * unusable, never prune. */
  private final case class BlockColStats(file: String, block: Int,
                                         column: String,
                                         min: Option[Double],
                                         max: Option[Double])

  /** Footer (min, max) extraction for one parquet file — the shared
    * planning substrate of [[statsPrunedParquet]] (per-query pass) and
    * [[writeStatsTable]] (write-time pass): one row per (row-group,
    * requested column), None bounds when stats are missing, empty,
    * all-null, non-numeric, or the column is absent from the file.
    */
  private def footerBlockStats(conf: org.apache.hadoop.conf.Configuration,
                               file: org.apache.hadoop.fs.Path,
                               columns: Seq[String]): Seq[BlockColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    def statBounds(st: org.apache.parquet.column.statistics.Statistics[_])
        : Option[(Double, Double)] = st match {
      case s: org.apache.parquet.column.statistics.LongStatistics =>
        Some((s.getMin.toDouble, s.getMax.toDouble))
      case s: org.apache.parquet.column.statistics.IntStatistics =>
        Some((s.getMin.toDouble, s.getMax.toDouble))
      case s: org.apache.parquet.column.statistics.DoubleStatistics =>
        Some((s.getMin, s.getMax))
      case s: org.apache.parquet.column.statistics.FloatStatistics =>
        Some((s.getMin.toDouble, s.getMax.toDouble))
      case _ => None // binary/boolean/unknown: not a numeric range — keep
    }
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap {
        case (bg, bi) =>
          columns.map { c =>
            val bounds = bg.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .flatMap { cc =>
                val st: org.apache.parquet.column.statistics.Statistics[_] =
                  cc.getStatistics
                if (st == null || st.isEmpty || !st.hasNonNullValue) None
                else statBounds(st)
              }
            BlockColStats(file.toString, bi, c,
              bounds.map(_._1), bounds.map(_._2))
          }
      }
    } finally reader.close()
  }

  /** Recursive parquet listing under `root`, skipping hidden paths
    * (`_`/`.`-prefixed files AND directories) exactly as Spark's own
    * file index does — so a partitioned or nested layout prunes from the
    * same file set `spark.read.parquet(dir)` would scan, and sidecar
    * metadata (e.g. the [[writeStatsTable]] `_graft_stats` directory)
    * is never mistaken for data. */
  private[operators] def listParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
                                          root: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.Path] = {
    def hidden(name: String) =
      name.startsWith("_") || name.startsWith(".")
    val out = Array.newBuilder[org.apache.hadoop.fs.Path]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (!hidden(name)) {
          if (st.isDirectory) walk(st.getPath)
          else if (name.endsWith(".parquet")) out += st.getPath
        }
      }
    walk(root)
    out.result()
  }
}
