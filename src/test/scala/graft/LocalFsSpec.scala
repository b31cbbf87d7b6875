package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Gvt

/** The local file system every session gets ([[GraftLocalFileSystem]],
  * [[GraftLocalFs]]): it sets permissions as Hadoop's stock one does,
  * every session resolves `file:` to it, and no write, GVT commit or
  * streaming checkpoint starts a process. */
class LocalFsSpec extends GraftSuite {

  private val local = new URI("file:///")

  private def perms(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission gives the stock file system's mode bits, 0000–0777, " +
      "on directories and files") {
    val conf = new Configuration()
    val graft = new GraftRawLocalFileSystem
    graft.initialize(local, conf)
    val stock = new RawLocalFileSystem
    stock.initialize(local, conf)
    val root = Paths.get(Staging.tempDir("localfs_modes"))
    for (isDir <- Seq(true, false)) {
      val (a, b) = (root.resolve(s"a$isDir"), root.resolve(s"b$isDir"))
      if (isDir) { Files.createDirectory(a); Files.createDirectory(b) }
      else { Files.createFile(a); Files.createFile(b) }
      for (mode <- 0 to 0x1ff) {
        val perm = new FsPermission(mode.toShort)
        graft.setPermission(new Path(a.toUri), perm)
        stock.setPermission(new Path(b.toUri), perm)
        assert(perms(a) == perms(b), f"mode $mode%04o, directory $isDir")
      }
      Seq(a, b).foreach(p => Files.setPosixFilePermissions(p,
        PosixFilePermissions.fromString("rwx------")))
    }
  }

  test("getFileLinkStatus equals the stock one on files, directories, " +
      "symbolic links and missing paths") {
    val conf = new Configuration()
    val graft = new GraftRawLocalFileSystem
    graft.initialize(local, conf)
    val stock = new RawLocalFileSystem
    stock.initialize(local, conf)
    val root = Paths.get(Staging.tempDir("localfs_links"))
    val file = Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    def seen(fs: FileSystem, p: Path) =
      try {
        val st = fs.getFileLinkStatus(p)
        Right((st.getPath, st.isDirectory, st.isSymlink, st.getLen,
          if (st.isSymlink) Some(st.getSymlink) else None))
      } catch { case e: java.io.FileNotFoundException => Left(e.getClass) }
    for (p <- Seq(file, dir, link, root.resolve("missing"));
         path <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(seen(graft, path) == seen(stock, path), path)
    assert(seen(graft, new Path(link.toString)).exists(_._3))
  }

  test("mkdirs and create give 0755 and 0644 under the default umask") {
    val fs = FileSystem.get(local, spark.sessionState.newHadoopConf())
    val root = Paths.get(Staging.tempDir("localfs_umask"))
    val dir = root.resolve("d/e")
    assert(fs.mkdirs(new Path(dir.toUri)))
    assert(perms(dir) == "rwxr-xr-x")
    assert(perms(dir.getParent) == "rwxr-xr-x")
    val file = dir.resolve("f")
    fs.create(new Path(file.toUri)).close()
    assert(perms(file) == "rw-r--r--")
    assert(perms(dir.resolve(".f.crc")) == "rw-r--r--")
  }

  test("a missing path fails setPermission as FileNotFoundException") {
    val fs = new GraftRawLocalFileSystem
    fs.initialize(local, new Configuration())
    val missing = Paths.get(Staging.tempDir("localfs_missing"), "gone")
    intercept[java.io.FileNotFoundException](
      fs.setPermission(new Path(missing.toUri), new FsPermission("644")))
  }

  test("the session resolves file: to graft's file systems") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(local, conf)
    assert(fs.getClass == classOf[GraftLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw.getClass ==
      classOf[GraftRawLocalFileSystem])
    assert(AbstractFileSystem.get(local, conf).getClass == classOf[GraftLocalFs])
  }

  /** The commands of the `jdk.ProcessStart` events the JVM records
    * while `body` runs. */
  private def processStarts(body: => Any): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body finally r.stop()
    val out = Files.createTempFile(Paths.get(Staging.tempDir("localfs_jfr")), "ps", ".jfr")
    try {
      r.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command") + " from " + Option(e.getStackTrace).toSeq
          .flatMap(_.getFrames.asScala.take(12))
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < "))
    } finally r.close()
  }

  private def slab(lo: Long, until: Long): DataFrame =
    spark.range(lo, until).toDF("k").withColumn("v", col("k") * 10)

  test("the recording sees a control process start") {
    assert(processStarts(new ProcessBuilder("true").start().waitFor()).size == 1)
  }

  test("GVT commits start no process") {
    // Spark's executor metrics read the page size once per JVM with
    // `getconf PAGESIZE`, within whichever call the first heartbeat
    // lands; take it before recording
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val dir = Staging.tempDir("localfs_gvt")
    Gvt.append(spark, dir, slab(0, 3000), Seq("k"))
    val calls = Seq[(String, () => Any)](
      "append" -> (() => Gvt.append(spark, dir, slab(3000, 6000), Seq("k"))),
      "merge" -> (() => Gvt.merge(spark, dir,
        slab(5500, 6500).withColumn("v", col("v") + 1), "k", Seq("k"))),
      "updateWhere" -> (() => Gvt.updateWhere(spark, dir,
        col("k").between(100, 900), Seq("v" -> (col("v") - 1)), Seq("k"))),
      "deleteWhereDV" -> (() => Gvt.deleteWhereDV(spark, dir, col("k").between(2000, 2099))),
      "compact" -> (() => Gvt.compact(spark, dir, Long.MaxValue, 1, Seq("k"))),
      "vacuum" -> (() => Gvt.vacuum(dir, Gvt.latestVersion(dir), graceMs = 0L)))
    for ((name, call) <- calls)
      assert(processStarts(call()).isEmpty, s"$name started a process")
    assert(Gvt.latestVersion(dir) == 5)
    assert(Gvt.read(spark, dir).count() == 6400)
  }

  test("a staged text write starts no process") {
    val out = Staging.tempDir("localfs_text")
    assert(processStarts(spark.range(100).select(col("id").cast("string"))
      .coalesce(1).write.mode("overwrite").text(out)).isEmpty)
    assert(spark.read.text(out).count() == 100)
  }

  test("a streaming micro-batch with a file checkpoint starts no process") {
    val in = Staging.tempDir("localfs_stream_in")
    slab(0, 100).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    val name = "localfs_stream"
    val ckpt = Staging.tempDir("localfs_stream_ckpt")
    assert(processStarts {
      spark.readStream.schema(schema).parquet(in)
        .groupBy((col("k") % 3).as("g")).agg(count(lit(1)).as("n"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(name).outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }.isEmpty)
    assert(spark.table(name).agg(sum("n")).head.getLong(0) == 100)
  }
}
