package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.SparkFunSuite
import graft.pipeline.{Ingestion, Pipeline}
import graft.pipeline.WeatherFixtures._

/** [[LocalLakeFileSystem]] leaves every file and directory with the mode the
  * stock `LocalFileSystem` gives it, without starting a `chmod` process,
  * and the sessions that write the lake resolve `file:` to it. */
class LocalLakeFileSystemSpec extends SparkFunSuite {

  /** Command lines of the operating-system processes the JVM starts while
    * `body` runs, from any thread, as Java Flight Recorder's
    * `jdk.ProcessStart` events record them. */
  private def processesOf(body: => Unit): Seq[String] = {
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      body
      recording.stop()
      val dump = Files.createTempFile("processes", ".jfr")
      try {
        recording.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
      } finally Files.delete(dump)
    } finally recording.close()
  }

  private def octal(s: String) = Integer.parseInt(s, 8)

  private def perm(s: String) = new FsPermission(octal(s).toShort)

  /** An uncached file system of class `impl` for `file:` paths. */
  private def fileSystem(impl: Class[_ <: FileSystem]): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl.getName)
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    assert(fs.getClass == impl)
    fs
  }

  /** `body` on a new [[LocalLakeFileSystem]] and a new stock `LocalFileSystem`. */
  private def withBoth(body: (FileSystem, FileSystem) => Unit): Unit = {
    val (lake, stock) = (fileSystem(classOf[LocalLakeFileSystem]), fileSystem(classOf[LocalFileSystem]))
    try body(lake, stock) finally { lake.close(); stock.close() }
  }

  private def mode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Every entry under `root`, checksum files included, by relative path:
    * its full mode and its POSIX permissions. */
  private def modes(root: String): Map[String, (Int, String)] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        (mode(p), PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.toMap
    finally walk.close()
  }

  /** The same files and directories, created through `fs` under `root`:
    * default modes under the default umask, explicit modes at creation and
    * explicit modes set afterwards, the sticky bit included. */
  private def build(fs: FileSystem, root: String): Unit = {
    val r = new Path(root)
    fs.create(new Path(r, "d/default.bin")).close()
    assert(fs.mkdirs(new Path(r, "d/default-dir")))
    for (m <- Seq("600", "700", "750", "777")) {
      fs.create(new Path(r, s"created/$m.bin"), perm(m), true, 4096, 1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(new Path(r, s"created/dir-$m"), perm(m)))
      fs.create(new Path(r, s"set/$m.bin")).close()
      fs.setPermission(new Path(r, s"set/$m.bin"), perm(m))
      assert(fs.mkdirs(new Path(r, s"set/dir-$m")))
      fs.setPermission(new Path(r, s"set/dir-$m"), perm(m))
    }
    assert(fs.mkdirs(new Path(r, "sticky")))
    fs.setPermission(new Path(r, "sticky"), perm("1777"))
  }

  test("the session resolves file: paths to LocalLakeFileSystem") {
    val dir = tmpDir("lakefs")
    assert(ParquetLake.fs(spark, dir).getClass == classOf[LocalLakeFileSystem])
    assert(new Path(dir).getFileSystem(spark.sessionState.newHadoopConf()).getClass ==
      classOf[LocalLakeFileSystem])
  }

  test("files and directories get the stock LocalFileSystem's modes, checksums included") {
    val base = tmpDir("lakefs")
    withBoth { (lake, stock) => build(lake, s"$base/lake"); build(stock, s"$base/stock") }
    val (ours, theirs) = (modes(s"$base/lake"), modes(s"$base/stock"))
    assert(ours.keySet.exists(_.endsWith(".crc")), ours.keySet)
    assert(ours == theirs)
    // the explicit modes took effect; the sticky bit went through the stock path
    assert(ours("set/600.bin")._1 == octal("600") && ours("set/dir-777")._1 == octal("777"))
    assert(ours("sticky")._1 == octal("1777"))
  }

  test("a set-group-ID parent keeps its bit on new directories, as with the stock file system") {
    val base = tmpDir("lakefs")
    val shared = Paths.get(base, "shared")
    Files.createDirectory(shared)
    Files.setAttribute(shared, "unix:mode", Integer.valueOf(octal("2775")))
    assume(mode(shared) == octal("2775"), "this user cannot set the set-group-ID bit here")
    withBoth { (lake, stock) =>
      for ((fs, name) <- Seq(lake -> "lake", stock -> "stock")) {
        assert(fs.mkdirs(new Path(shared.toString, s"$name/part=1")))
        fs.create(new Path(shared.toString, s"$name/part=1/f.bin")).close()
      }
    }
    val (ours, theirs) = (modes(shared.resolve("lake").toString), modes(shared.resolve("stock").toString))
    assert((ours("part=1")._1 & octal("2000")) != 0, ours)
    assert(ours == theirs)
  }

  test("a missing path still fails with an IOException") {
    val missing = new Path(tmpDir("lakefs"), "missing/f.bin")
    withBoth { (lake, stock) =>
      intercept[IOException](lake.setPermission(missing, perm("600")))
      intercept[IOException](stock.setPermission(missing, perm("600")))
    }
  }

  test("no chmod process is started but for the sticky bit; the stock file system starts one per entry") {
    def chmods(impl: Class[_ <: FileSystem]): Seq[String] = {
      val fs = fileSystem(impl)
      try processesOf(build(fs, tmpDir("lakefs"))).filter(_.startsWith("chmod "))
      finally fs.close()
    }
    val ours = chmods(classOf[LocalLakeFileSystem])
    assert(ours.map(_.split(' ')(1)) == Seq("1777"), ours.mkString("\n"))
    if (!NativeIO.isAvailable) assert(chmods(classOf[LocalFileSystem]).size > 20)
  }

  test("a daily pipeline cycle starts no chmod process") {
    val conf = Pipeline.Config(tmpDir("lakefs"), Ingestion.defaultCities.take(2), fullRefreshGold = false)
    val fetcher = new Ingestion.Fetcher {
      def fetch(city: Ingestion.City): String = apiJson(12.5)
    }
    val started = processesOf {
      for (d <- Seq("2026-02-13", "2026-02-14"))
        assert(Pipeline.run(spark, conf, fetcher, Date.valueOf(d)) == Pipeline.RunResult(2, 2))
    }
    assert(!started.exists(_.startsWith("chmod ")), started.mkString("\n"))
  }
}
