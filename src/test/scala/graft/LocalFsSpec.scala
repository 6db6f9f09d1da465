package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.StateLayout
import graft.sources.LocalFs

/** [[LocalFs]], the `file:` filesystem of every `Sessions.local`
  * session: state writes start no child process, and what they land
  * (modes and `.crc` sidecars) is what Hadoop's stock local filesystem
  * lands, which forks a `chmod` per file and directory created.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val FileRoot = URI.create("file:///")

  /** The session's `file:` filesystem: Hadoop caches one per JVM, so
    * this is the instance every write of the session uses. */
  private def sessionFs = FileSystem.get(FileRoot, spark.sessionState.newHadoopConf())

  /** An uncached instance of Hadoop's stock local filesystem. */
  private def stockFs: FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    FileSystem.newInstance(FileRoot, conf)
  }

  /** The commands of the child processes this JVM starts while `body`
    * runs, from an in-process flight recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutThreshold()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** One write through `fs` under `root`: nested directories, files
    * with the default and an explicit mode, a sticky directory, a mode
    * change, and a directory created inside a set-group-ID one. */
  private def write(fs: FileSystem, root: String): Unit = {
    val sg = Paths.get(root, "sg")
    Files.createDirectories(sg)
    Files.setAttribute(sg, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
    fs.mkdirs(new Path(root, "a/b/c"))
    val out = fs.create(new Path(root, "a/b/c/data.bin"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    fs.create(new Path(root, "a/f640"), octal("640"), true, 4096, 1.toShort,
      1L << 20, null).close()
    fs.mkdirs(new Path(root, "t"), octal("1777"))
    fs.setPermission(new Path(root, "a/b"), octal("750"))
    fs.mkdirs(new Path(root, "sg/x"))
    fs.setPermission(new Path(root, "sg"), octal("750"))
  }

  /** Every path under `root`, relative, with its permission, sticky and
    * set-id bits. */
  private def modes(root: String): Map[String, Int] = {
    val base = Paths.get(root)
    val paths = Files.walk(base)
    try paths.iterator.asScala.map(p => base.relativize(p).toString ->
      (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)).toMap
    finally paths.close()
  }

  test("the session's file: filesystem is LocalFs over its in-process raw layer") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
        spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(FileRoot, conf)
      assert(fs.isInstanceOf[LocalFs], s"file: resolves to ${fs.getClass}")
      assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem
        .isInstanceOf[LocalFs.Raw])
    }
  }

  test("rename refuses to replace an existing file") {
    val dir = TestSpark.tmpDir("localfs_rename")
    Files.writeString(Paths.get(dir, "a"), "a")
    Files.writeString(Paths.get(dir, "b"), "b")
    val fs = sessionFs
    assert(!fs.rename(new Path(dir, "a"), new Path(dir, "b")))
    assert(Files.readString(Paths.get(dir, "b")) === "b")
    assert(fs.rename(new Path(dir, "a"), new Path(dir, "c")))
    assert(Files.readString(Paths.get(dir, "c")) === "a")
  }

  test("state writes start no child process; the stock filesystem forks") {
    val dir = TestSpark.tmpDir("localfs_forks")
    val df = spark.range(0, 400, 1, 3)
      .select(xxhash64(col("id")).as("h"), (col("id") % 5).as("n_docs"))
    val starts = processStarts {
      StateLayout.writeBucketed(df, s"$dir/bucketed", "h")
      StateLayout.writeState(df, s"$dir/plain", numFiles = 2)
    }
    assert(starts.isEmpty, s"state writes started processes: $starts")
    assert(processStarts(write(sessionFs, s"$dir/session")).isEmpty)
    val stock = stockFs
    try assert(processStarts(write(stock, s"$dir/stock")).nonEmpty,
      "control: the stock local filesystem forks a chmod per create")
    finally stock.close()
  }

  test("writes land the stock filesystem's modes and .crc sidecars") {
    val dir = TestSpark.tmpDir("localfs_modes")
    write(sessionFs, s"$dir/session")
    val stock = stockFs
    try write(stock, s"$dir/stock") finally stock.close()
    val got = modes(s"$dir/session")
    assert(got === modes(s"$dir/stock"))
    assert(got.contains("a/b/c/.data.bin.crc") && got.contains("a/.f640.crc"))
    assert(got("sg/x") === Integer.parseInt("2755", 8),
      "chmod keeps a directory's set-group-ID bit")
    // A Spark write: every file has the mode a stock create gives, every
    // directory the mode a stock mkdirs gives, every data file its .crc.
    StateLayout.writeBucketed(spark.range(0, 300, 1, 3)
      .select(col("id").as("h")), s"$dir/bucketed", "h")
    val slice = Paths.get(s"$dir/bucketed")
    val written = Files.walk(slice)
    try written.iterator.asScala.filter(_ != slice).foreach { p =>
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      val name = p.getFileName.toString
      if (Files.isDirectory(p)) assert(mode === got("a/b/c"), p)
      else if (!name.startsWith("_graft")) {
        assert(mode === got("a/b/c/data.bin"), p)
        if (name.endsWith(".parquet"))
          assert(Files.exists(p.resolveSibling(s".$name.crc")), p)
      }
    } finally written.close()
  }
}
