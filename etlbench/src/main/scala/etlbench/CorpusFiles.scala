package etlbench

import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** On-disk corpus cache: one directory per corpus layout, holding the
  * envelope files in trigger order and a completion marker.
  */
object CorpusFiles {
  private val envelopeSchema = StructType(Seq(StructField("value", BinaryType)))

  def files(dir: Path): Seq[Path] =
    Files.list(dir.resolve("input")).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)

  /** Writes the corpus unless a complete copy is cached. Returns whether it generated. */
  def ensure(spark: SparkSession, layout: Corpus.Layout, dir: Path): Boolean = {
    if (cached(dir)) return false
    delete(dir)
    val tmp = dir.resolve("tmp")
    val rows = spark.sparkContext.parallelize(0 until layout.files, layout.files).flatMap { f =>
      (f * layout.perFile until (f + 1) * layout.perFile).iterator
        .map(i => Row(Corpus.bytes(Corpus.spec(layout, i))))
    }
    Trace.span("sources.generate") {
      spark.createDataFrame(rows, envelopeSchema).write.parquet(tmp.toString)
    }
    val input = Files.createDirectories(dir.resolve("input"))
    // part-NNNNN carries the partition, i.e. the file index; modification
    // times fix the order in which the file source picks the files up
    val parts = Files.list(tmp).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    require(parts.size == layout.files, s"expected ${layout.files} corpus files, got ${parts.size}")
    val base = System.currentTimeMillis() - 3600 * 1000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val target = input.resolve(f"file-$i%04d.parquet")
      Files.move(p, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(base + i * 1000L))
    }
    delete(tmp)
    markDone(dir)
    true
  }

  private val KeepCorpora = 4

  /** Whether a complete copy is cached; marks it as just used. */
  def cached(dir: Path): Boolean = {
    val done = dir.resolve("_DONE")
    Files.exists(done) && { Files.setLastModifiedTime(done, FileTime.fromMillis(System.currentTimeMillis())); true }
  }

  /** Marks a corpus complete and evicts all but the most recently used few. */
  def markDone(dir: Path): Unit = {
    Files.createFile(dir.resolve("_DONE"))
    val all = Files.list(dir.getParent).iterator().asScala.toSeq
      .sortBy { d =>
        val done = d.resolve("_DONE")
        if (Files.exists(done)) -Files.getLastModifiedTime(done).toMillis else 0L
      }
    all.drop(KeepCorpora).foreach(delete)
  }

  /** Source floor: the same files read straight into the no-op sink. */
  def floor(envelopes: Double, df: => DataFrame): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Trace.span("sources.floor")(df.write.format("noop").mode("overwrite").save())
      envelopes / ((System.nanoTime() - t0) / 1e9)
    })

  def delete(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
