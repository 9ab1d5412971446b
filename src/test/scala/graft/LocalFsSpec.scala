package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Streaming

/** Processes Hadoop starts while `body` runs, from a JFR recording of
  * `jdk.ProcessStart` with stack traces: one "command ← frame" line per
  * start with an `org.apache.hadoop.` frame. Spark's own forks (the
  * ArtifactManager's `rm -rf` cleaner) have none and are not counted. */
object HadoopForks {
  def during(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft_forks", ".jfr")
    // Shell's class init forks once per JVM to probe for setsid; pay it before recording
    org.apache.hadoop.util.Shell.WINDOWS: Unit
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq.flatMap { e =>
        val hadoop = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          .filter(_.startsWith("org.apache.hadoop."))
        // name the caller of Hadoop's Shell, not Shell itself
        hadoop.find(!_.startsWith("org.apache.hadoop.util.Shell")).orElse(hadoop.headOption)
          .map(f => s"${e.getString("command")} <- $f")
      }
    } finally { rec.close(); Files.deleteIfExists(out): Unit }
  }
}

/** `LocalFs`'s classes against stock Hadoop on twin scratch dirs: the
  * same mode bits, `.crc` sidecars and `FileStatus` fields, and no
  * process start on the engine's write paths. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val local = URI.create("file:///")
  private lazy val scratch = Files.createTempDirectory("graft_localfs")

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit }
    rm(scratch.toFile)
  }

  /** The session's Hadoop conf (its umask) with `file:` bound to stock
    * classes (`stock`) or to LocalFs's. */
  private def conf(stock: Boolean): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    if (stock) {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    }
    c
  }

  /** Runs `ops` once per side on its own fresh dir; returns both dirs. */
  private def twins(ops: (Boolean, Path) => Unit): (java.nio.file.Path, java.nio.file.Path) = {
    val root = Files.createTempDirectory(scratch, "t")
    val dirs = Seq(true, false).map { stock =>
      val d = root.resolve(if (stock) "stock" else "nio")
      Files.createDirectory(d)
      ops(stock, new Path(d.toUri))
      d
    }
    (dirs(0), dirs(1))
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Every entry under `d` (relative name → mode, file bytes): the
    * `.crc` sidecars included. */
  private def tree(d: java.nio.file.Path): Map[String, (Int, Seq[Byte])] = {
    val s = Files.walk(d)
    try s.iterator.asScala.filter(_ != d).map { p =>
      d.relativize(p).toString -> (mode(p),
        if (Files.isRegularFile(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) Files.readAllBytes(p).toSeq else Nil)
    }.toMap
    finally s.close()
  }

  /** A FileStatus's fields, its paths relative to `d` (times differ between twins). */
  private def fields(s: FileStatus, d: java.nio.file.Path) = {
    def rel(p: Path) = Option(p).map(_.toUri.getPath.stripPrefix(d.toUri.getPath.stripSuffix("/")))
    (rel(s.getPath), s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) rel(s.getSymlink) else None,
      s.getReplication, s.getBlockSize, s.getPermission.toString, s.getOwner, s.getGroup)
  }

  private def assertTwins(a: java.nio.file.Path, b: java.nio.file.Path): Unit = {
    val (ta, tb) = (tree(a), tree(b))
    assert(ta.nonEmpty && ta.keySet.exists(_.endsWith(".crc")), ta.keySet)
    assert(ta == tb)
  }

  private def bytes(n: Int) = Array.tabulate[Byte](n)(i => (i * 31).toByte)

  test("the session binds file: to LocalFs's classes for FileSystem and FileContext") {
    val fs = FileSystem.get(local, spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(local, spark.sessionState.newHadoopConf()).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    // the parity tests below really compare two implementations
    assert(FileSystem.newInstance(local, conf(stock = true)).getClass == classOf[LocalFileSystem])
  }

  test("mkdirs, create and setPermission leave the stock mode bits and .crc files") {
    val statuses = Seq.newBuilder[(Boolean, FileStatus, FileStatus)]
    val (a, b) = twins { (stock, d) =>
      val fs = FileSystem.newInstance(local, conf(stock))
      try {
        assert(fs.mkdirs(new Path(d, "x/y")))
        val out = fs.create(new Path(d, "x/y/data.bin"))
        out.write(bytes(3000)); out.close()
        Seq("p640" -> 0x1a0, "p700" -> 0x1c0).foreach { case (n, m) =>
          val f = new Path(d, s"x/$n")
          val o = fs.create(f); o.write(bytes(10)); o.close()
          fs.setPermission(f, new FsPermission(m.toShort))
        }
        fs.mkdirs(new Path(d, "sticky"))
        fs.setPermission(new Path(d, "sticky"), new FsPermission(0x3ff.toShort)) // 01777
        statuses += ((stock, fs.getFileStatus(new Path(d, "x/y/data.bin")), fs.getFileStatus(new Path(d, "sticky"))))
      } finally fs.close()
    }
    assertTwins(a, b)
    assert(mode(a.resolve("x/p640")) == 0x1a0 && mode(a.resolve("x/p700")) == 0x1c0)
    assert(mode(a.resolve("sticky")) == 0x3ff)
    val Seq(s, n) = statuses.result().sortBy(!_._1)
    assert(fields(s._2, a) == fields(n._2, b))
    assert(fields(s._3, a) == fields(n._3, b))
    assert(n._3.getPermission.getStickyBit)
  }

  test("FileContext create then rename(OVERWRITE) over an existing file matches stock LocalFs") {
    val statuses = Seq.newBuilder[(Boolean, FileStatus)]
    val (a, b) = twins { (stock, d) =>
      val fc = FileContext.getFileContext(local, conf(stock))
      def write(p: Path, n: Int): Unit = {
        val o = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        o.write(bytes(n)); o.close()
      }
      write(new Path(d, "state/1.delta"), 700)
      write(new Path(d, "state/.1.delta.tmp"), 1500)
      fc.rename(new Path(d, "state/.1.delta.tmp"), new Path(d, "state/1.delta"), Options.Rename.OVERWRITE)
      statuses += ((stock, fc.getFileStatus(new Path(d, "state/1.delta"))))
    }
    assertTwins(a, b)
    assert(Files.size(a.resolve("state/1.delta")) == 1500 && !Files.exists(a.resolve("state/.1.delta.tmp")))
    val Seq(s, n) = statuses.result().sortBy(!_._1)
    assert(fields(s._2, a) == fields(n._2, b))
  }

  test("getFileLinkStatus on a regular file and on a symlink matches stock") {
    val statuses = Seq.newBuilder[(Boolean, Seq[FileStatus])]
    val (a, b) = twins { (stock, d) =>
      val dir = Paths.get(d.toUri)
      Files.write(dir.resolve("f"), bytes(20))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("f"))
      val fs = FileSystem.newInstance(local, conf(stock))
      val fc = FileContext.getFileContext(local, conf(stock))
      try statuses += ((stock, Seq("f", "link").flatMap { n =>
        // qualified (`file:/…`) and bare paths: stock readlink sees links only in the bare form
        val q = new Path(d, n)
        val bare = new Path(q.toUri.getPath)
        Seq(fs.getFileLinkStatus(q), fs.getFileLinkStatus(bare), fc.getFileLinkStatus(q))
      }))
      finally fs.close()
    }
    val Seq(s, n) = statuses.result().sortBy(!_._1)
    assert(s._2.map(fields(_, a)) == n._2.map(fields(_, b)))
    assert(n._2.exists(_.isSymlink), "a symlink must read as one somewhere")
    assert(tree(a).keySet == tree(b).keySet)
  }

  test("a j2_window_rollup run starts no process from Hadoop") {
    val forks = HadoopForks.during(Streaming.queries("j2_window_rollup")(spark, TestSpark.sf).collect(): Unit)
    assert(forks.isEmpty, s"${forks.size} process starts:\n${forks.distinct.mkString("\n")}")
  }
}
