package graft.sources

import graft.{Sessions, SparkTest}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Options.{ChecksumOpt, CreateOpts, Rename}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet
import scala.jdk.CollectionConverters._

/** The fork-free `file:` classes against what `file:` resolves to
  * without them: Hive's `ProxyLocalFileSystem` for the FileSystem API
  * (service-loaded from hive-exec; a `LocalFileSystem` whose rename
  * never replaces a file) and Hadoop's `LocalFs` for FileContext. Each
  * side runs the same calls in its own temp directory, and the trees
  * must match in names, mode bits (sticky included) and bytes.
  */
class LocalFsSpec extends AnyFunSuite with SparkTest {

  private val root = URI.create("file:///")

  /** `file:` as resolved with no session confs. */
  private def hadoopDefault = new Configuration()

  /** `file:` as a session resolves it. */
  private def forkFree = {
    val conf = new Configuration()
    Sessions.LocalFsConfs.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    conf
  }

  /** Hadoop's own `LocalFileSystem`, with no Hive override. */
  private def stock = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    conf
  }

  private def fs(conf: Configuration) = FileSystem.newInstance(root, conf)
  private def fc(conf: Configuration) = FileContext.getFileContext(root, conf)
  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
  private def tempDir(name: String): JPath = Files.createTempDirectory(s"localfs-$name")

  /** Every entry under `dir`: relative name → (mode bits, bytes). */
  private def tree(dir: JPath): Map[String, (Int, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      val bits = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      dir.relativize(p).toString -> (bits -> (if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil))
    }.toMap

  private def write(out: java.io.OutputStream, text: String): Unit =
    try out.write(text.getBytes(UTF_8)) finally out.close()

  /** Create, create with a mode, setPermission, mkdirs and a sticky bit
    * through the FileSystem API; the tree it leaves.
    */
  private def fileSystemTree(conf: Configuration): Map[String, (Int, Seq[Byte])] = {
    val dir = tempDir("fs")
    val fs = this.fs(conf)
    def p(name: String) = new Path(dir.toUri.toString, name)
    write(fs.create(p("default.bin")), "default")
    write(fs.create(p("explicit.bin"), mode("777"), true, 4096, 1.toShort, 1L << 20, null), "explicit")
    write(fs.create(p("set.bin")), "set")
    fs.setPermission(p("set.bin"), mode("604"))
    assert(fs.mkdirs(p("d/e")))
    assert(fs.mkdirs(p("private"), mode("700")))
    assert(fs.mkdirs(p("sticky")))
    fs.setPermission(p("sticky"), mode("1777"))
    intercept[IOException](fs.setPermission(p("missing"), mode("644")))
    fs.close()
    tree(dir)
  }

  /** Spark's checkpoint write through FileContext: create a temp file
    * with checksums disabled, rename it over the final name (twice, so
    * the second replaces the first), then mkdir.
    */
  private def fileContextTree(conf: Configuration): Map[String, (Int, Seq[Byte])] = {
    val dir = tempDir("fc")
    val fc = this.fc(conf)
    def p(name: String) = new Path(dir.toUri.toString, name)
    for (version <- 1 to 2) {
      write(fc.create(p(".1.delta.tmp"), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        CreateOpts.checksumParam(ChecksumOpt.createDisabled())), s"version $version")
      fc.rename(p(".1.delta.tmp"), p("1.delta"), Rename.OVERWRITE)
    }
    fc.mkdir(p("offsets"), FsPermission.getDirDefault, true)
    tree(dir)
  }

  test("file: resolves to the fork-free classes only with the session confs") {
    assert(FileSystem.getFileSystemClass("file", hadoopDefault).getName ==
      "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")
    assert(fc(hadoopDefault).getDefaultFileSystem.getClass == classOf[LocalFs])
    assert(fs(forkFree).getClass == classOf[ForkFreeLocalFileSystem])
    assert(fc(forkFree).getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("FileSystem create, setPermission and mkdirs leave the same modes and bytes") {
    val expected = fileSystemTree(hadoopDefault)
    assert(expected("sticky")._1 == Integer.parseInt("1777", 8))
    assert(expected.contains(".explicit.bin.crc"), expected.keySet)
    assert(fileSystemTree(stock) == expected)
    assert(fileSystemTree(forkFree) == expected)
  }

  test("FileContext create and rename with OVERWRITE leave the same modes and bytes") {
    val expected = fileContextTree(hadoopDefault)
    assert(expected.contains("1.delta") && expected.contains(".1.delta.crc"), expected.keySet)
    assert(fileContextTree(forkFree) == expected)
  }

  test("a FileSystem rename never replaces a file, as with the Hive default") {
    def renameOntoFile(conf: Configuration): (Boolean, Map[String, (Int, Seq[Byte])]) = {
      val dir = tempDir("rename")
      val fs = this.fs(conf)
      def p(name: String) = new Path(dir.toUri.toString, name)
      write(fs.create(p("src")), "src")
      write(fs.create(p("dst")), "dst")
      val renamed = fs.rename(p("src"), p("dst"))
      val moved = fs.rename(p("src"), p("fresh"))
      fs.close()
      (renamed && moved, tree(dir))
    }
    val expected = renameOntoFile(hadoopDefault)
    assert(!expected._1)
    assert(renameOntoFile(forkFree) == expected)
  }

  test("getFileLinkStatus matches on files, missing paths and relative symlinks") {
    val dir = tempDir("links")
    Files.writeString(dir.resolve("target.txt"), "target")
    val link = Files.createSymbolicLink(dir.resolve("link"), Paths.get("target.txt"))
    val paths = Seq(
      new Path(dir.resolve("target.txt").toUri), // a regular file, as a file: URI
      new Path(link.toUri),                      // the link, as a file: URI
      new Path(link.toString))                   // the link, as a bare path
    def describe(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)
    val missing = new Path(dir.resolve("missing").toString)

    val (before, after) = (fs(hadoopDefault), fs(forkFree))
    for (p <- paths) assert(describe(after.getFileLinkStatus(p)) == describe(before.getFileLinkStatus(p)), p)
    // a bare path reaches the link itself; a URI is followed, on both
    assert(after.getFileLinkStatus(paths(2)).isSymlink && !after.getFileLinkStatus(paths(1)).isSymlink)
    intercept[FileNotFoundException](before.getFileLinkStatus(missing))
    intercept[FileNotFoundException](after.getFileLinkStatus(missing))

    val (fcBefore, fcAfter) = (fc(hadoopDefault), fc(forkFree))
    for (p <- paths)
      assert(describe(fcAfter.getFileLinkStatus(p)) == describe(fcBefore.getFileLinkStatus(p)), p)
    intercept[FileNotFoundException](fcBefore.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fcAfter.getFileLinkStatus(missing))
  }

  test("job and query-pack sessions resolve file: to the fork-free classes") {
    for (confs <- Seq(Sessions.jobConfs(rocksDbState = false), Sessions.queryPackConfs(Map.empty)))
      assert(Sessions.LocalFsConfs.forall(confs.contains), confs)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hadoopConf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(root, hadoopConf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
  }
}
