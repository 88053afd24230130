package graft

import graft.pipeline.EncodePipeline
import graft.sinks.{Export, ManifestSink}
import graft.sources.Tokens
import graft.util.LocalFs
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library's local file system: the same permission bits as Hadoop's
  * forked `chmod`, set in-process, and the sink and exports it writes keep
  * Hadoop's permissions and checksum files.
  */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Permission bits of a path, sticky bit included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & octal("7777")

  test("setPermission leaves the bits Hadoop's chmod leaves; a sticky bit takes Hadoop's path") {
    assume(java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix"))
    val conf = new Configuration()
    LocalFs.WriteOptions.foreach { case (k, v) => conf.set(k, v) }
    // the write options resolve `file:` to the library's class
    val ours = new Path("file:///").getFileSystem(conf)
    assert(ours.isInstanceOf[LocalFs], ours.getClass)
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(java.net.URI.create("file:///"), new Configuration())

    val root = Files.createTempDirectory("graft-localfs")
    def pair(name: String, dir: Boolean): (JPath, JPath) = {
      def make(p: JPath) = if (dir) Files.createDirectory(p) else Files.createFile(p)
      (make(root.resolve(s"ours-$name")), make(root.resolve(s"hadoop-$name")))
    }
    def set(fs: org.apache.hadoop.fs.FileSystem, p: JPath, m: String): Unit =
      fs.setPermission(new Path(p.toUri), new FsPermission(octal(m).toShort))

    for (m <- Seq("600", "640", "644", "700", "750", "755", "777"); dir <- Seq(false, true)) {
      val (a, b) = pair(s"$m-$dir", dir)
      set(ours, a, m)
      set(hadoop, b, m)
      assert(mode(b) == octal(m), s"reference $m dir=$dir")
      assert(mode(a) == mode(b), s"$m dir=$dir: ${mode(a).toOctalString}")
    }
    // nio cannot set a sticky bit: it is there only if Hadoop's path ran
    val (a, b) = pair("sticky", dir = true)
    set(ours, a, "1777")
    set(hadoop, b, "1777")
    assert(mode(a) == octal("1777") && mode(a) == mode(b), mode(a).toOctalString)
  }

  test("a fresh sink and the exports keep Hadoop's permissions and every checksum file") {
    assume(java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val umaskKey = FsPermission.UMASK_LABEL
    val prior = Option(hconf.get(umaskKey))
    // a umask other than the process's, so bits left as created would show
    hconf.set(umaskKey, "027")
    try {
      val umask = FsPermission.getUMask(hconf)
      val dirBits = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
      val fileBits = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
      def check(root: JPath): Unit = {
        val all = Files.walk(root).iterator.asScala.toList
        assert(all.exists(_.toString.endsWith(".crc")), root)
        all.foreach { p =>
          val want = if (Files.isDirectory(p)) dirBits else fileBits
          assert(mode(p) == want, s"$p: ${mode(p).toOctalString} != ${want.toOctalString}")
          val name = p.getFileName.toString
          if (Files.isRegularFile(p) && !name.startsWith(".") && !name.startsWith("_"))
            assert(Files.exists(p.resolveSibling(s".$name.crc")), s"$p has no .crc")
        }
      }

      val out = Files.createTempDirectory("graft-sink")
      val tokens = Tokens.synthetic(spark, 300)
      EncodePipeline.run(spark, tokens, EncodePipeline.Config(outDir = out.toString,
        targetBinTokens = 4096, saltBuckets = 4))
      check(out.resolve("data"))
      check(out.resolve("manifest"))

      val encoded = ManifestSink.readCommitted(spark, out.toString)
      for (format <- Export.Formats) {
        val dir = Files.createTempDirectory(s"graft-export-$format").resolve("out")
        Export.write(encoded, dir.toString, format)
        check(dir)
      }
    } finally prior match {
      case Some(v) => hconf.set(umaskKey, v)
      case None => hconf.unset(umaskKey)
    }
  }
}
