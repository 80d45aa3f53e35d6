package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.Incremental
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.hadoop.util.ReflectionUtils

/** The fork-free `file:` scheme (`graft.io.LocalFs`): it answers like
  * Hadoop's stock local filesystem, a streaming query over it spawns no
  * `chmod`/`readlink`/`ls`/`stat` process, and the test session (the
  * Bench builder's session) resolves both Hadoop entry points to it. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def raw[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }

  /** A fresh temp directory for `f`, removed afterwards (symlinks are
    * removed, never followed). */
  private def withTempDir(f: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_localfs_")
    try f(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("getFileLinkStatus and setPermission match the stock raw local " +
    "filesystem") {
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    withTempDir { dir =>
      val file = Files.write(dir.resolve("file"), "abc".getBytes)
      val sub = Files.createDirectory(dir.resolve("sub"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
        dir.resolve("gone"))
      val missing = dir.resolve("missing")
      // the qualified form is what Spark passes; the plain form is the one
      // whose `readlink` succeeds on the stock path
      def forms(p: JPath) = Seq(new Path(p.toUri), new Path(p.toString))
      def linkStatus(fs: RawLocalFileSystem, p: Path) =
        Try(fs.getFileLinkStatus(p)).map { s =>
          (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
            if (s.isSymlink) s.getSymlink else null, s.getModificationTime)
        }.toEither.left.map(e => (e.getClass, e.getMessage))
      for (p <- Seq(file, sub, link, dangling, missing); f <- forms(p))
        assert(linkStatus(nio, f) == linkStatus(stock, f), s"getFileLinkStatus($f)")
      assert(linkStatus(nio, new Path(link.toString)).exists(_._4),
        "a plain-path symlink keeps reporting as a symlink")

      for (octal <- Seq("644", "755", "700"); kind <- Seq("f", "d")) {
        def target(side: String) = {
          val p = dir.resolve(s"$kind$octal$side")
          if (kind == "f") Files.createFile(p) else Files.createDirectory(p)
        }
        val (a, b) = (target("stock"), target("nio"))
        stock.setPermission(new Path(a.toUri), perm(octal))
        nio.setPermission(new Path(b.toUri), perm(octal))
        assert(mode(b) == Integer.parseInt(octal, 8) && mode(b) == mode(a),
          s"$kind $octal: ${mode(a).toOctalString} vs ${mode(b).toOctalString}")
      }
      // FileSystem.create passes its umasked default as FsCreateModes,
      // whose toString is not a mode string; both sides set the masked bits
      val created = FsCreateModes.applyUMask(perm("666"), perm("022"))
      val (ca, cb) = (Files.createFile(dir.resolve("created-stock")),
        Files.createFile(dir.resolve("created-nio")))
      stock.setPermission(new Path(ca.toUri), created)
      nio.setPermission(new Path(cb.toUri), created)
      assert(mode(cb) == Integer.parseInt("644", 8) && mode(cb) == mode(ca),
        s"$created: ${mode(ca).toOctalString} vs ${mode(cb).toOctalString}")
      // java.nio cannot express the sticky bit: such a mode takes the
      // stock path, and lands exactly as it would there
      val sticky = Files.createDirectory(dir.resolve("sticky"))
      nio.setPermission(new Path(sticky.toUri), perm("1755"))
      assert(mode(sticky) == Integer.parseInt("1755", 8),
        mode(sticky).toOctalString)
    }
  }

  test("rename answers like the class the classpath registers for file:") {
    val conf = new Configuration()
    def fs(cls: Class[_ <: FileSystem]) = {
      val f = ReflectionUtils.newInstance(cls, conf)
      f.initialize(URI.create("file:///"), conf); f
    }
    val registered = fs(FileSystem.getFileSystemClass("file", conf))
    val nio = fs(classOf[NioLocalFileSystem])
    withTempDir { dir =>
      // (renamed?, what the destination holds) onto an existing file and
      // onto a free name
      def outcome(f: FileSystem, side: String) = Seq("taken", "free").map { d =>
        val src = Files.write(dir.resolve(s"$side-$d-src"), "src".getBytes)
        val dst = dir.resolve(s"$side-$d-dst")
        if (d == "taken") Files.write(dst, "dst".getBytes)
        (f.rename(new Path(src.toUri), new Path(dst.toUri)),
          new String(Files.readAllBytes(dst)))
      }
      assert(outcome(nio, "nio") == outcome(registered, "registered"),
        registered.getClass.getName)
    }
  }

  test("a streaming round-trip spawns no chmod/readlink/ls/stat process") {
    def ts(day: Int, hour: Int) =
      Timestamp.valueOf(f"2024-03-0$day $hour%02d:00:00")
    val log = Seq((1L, ts(1, 1), "click"), (2L, ts(1, 2), "view"),
      (3L, ts(2, 1), "click"), (4L, ts(3, 0), "view"))
      .toDF("event_id", "ts", "event_type")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val rows = try Incremental.streamWindowTopk(spark, log).collect()
      finally rec.stop()
    assert(rows.length == 3)
    val jfr = Files.createTempFile("graft_localfs_", ".jfr")
    try {
      rec.dump(jfr)
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command").trim.split("\\s+").head.split('/').last)
      val forks = commands.filter(Set("chmod", "readlink", "ls", "stat"))
      assert(forks.isEmpty, forks.groupBy(identity).view.mapValues(_.size).toMap)
    } finally { rec.close(); Files.deleteIfExists(jfr) }
  }

  test("the Bench builder and the test session resolve file: to the " +
    "fork-free classes") {
    // the test session is HarnessTuning's Bench session (SparkSpec)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = URI.create("file:///")
    assert(FileSystem.get(root, conf).getClass == classOf[NioLocalFileSystem])
    val fresh = FileSystem.newInstance(root, conf)
    try assert(fresh.getClass == classOf[NioLocalFileSystem])
    finally fresh.close()
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
  }
}
