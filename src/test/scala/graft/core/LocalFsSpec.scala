package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `LocalFs`, the session's `file:` filesystem: the stock modes without
  * a forked `chmod`. */
class LocalFsSpec extends SparkSpec {

  private val fileUri = URI.create("file:///")

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  /** The processes the JVM starts while `body` runs, seen by a JFR
    * recording of `jdk.ProcessStart`. */
  private def processes(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("processes", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("the session's file: filesystem is a LocalFs, cached and uncached") {
    val conf = spark.sessionState.newHadoopConf()
    // the FileSystem cache is JVM-wide and keyed by scheme and user, not
    // by conf: the instance Spark's writers get is whichever was made
    // first, so check both that one and a fresh one from the session conf
    assert(FileSystem.get(fileUri, conf).isInstanceOf[LocalFs])
    assert(new Path(tmpDir("fs")).getFileSystem(conf).isInstanceOf[LocalFs])
    val fresh = FileSystem.newInstance(fileUri, conf)
    try assert(fresh.isInstanceOf[LocalFs]) finally fresh.close()
  }

  test("files come out 0644 and directories 0755, as the stock shell path makes them") {
    val conf = spark.sessionState.newHadoopConf()
    val stock = new LocalFileSystem()
    stock.initialize(fileUri, conf)
    val ours = FileSystem.get(fileUri, conf)
    def made(fs: FileSystem): Seq[String] = {
      val root = tmpDir("modes")
      val dir = new Path(root, "a/b")
      assert(fs.mkdirs(dir))
      fs.create(new Path(dir, "f")).close()
      Seq(s"$root/a", s"$root/a/b", s"$root/a/b/f", s"$root/a/b/.f.crc").map(mode)
    }
    try {
      val want = made(stock)
      assert(want == Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rw-r--r--"))
      assert(made(ours) == want)
    } finally stock.close()
  }

  test("a sticky-bit mode falls back to the stock implementation") {
    val fs = FileSystem.get(fileUri, spark.sessionState.newHadoopConf())
    val dir = new Path(tmpDir("sticky"), "d")
    assert(fs.mkdirs(dir))
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
    val bits = Files.getAttribute(Paths.get(dir.toString), "unix:mode").asInstanceOf[Int] & 0xfff
    assert(bits == Integer.parseInt("1777", 8), f"mode $bits%o")
  }

  test("an append and an upsert start no process") {
    assert(processes(new ProcessBuilder("true").start().waitFor()).size == 1,
      "the recording sees a started process")
    val catalog = new Catalog(tmpDir("procs"))
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    def batch(rows: (Long, String)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, s) => Row(i, s) }: _*), schema)
    val flat = new TableHandle(spark, catalog, "flat")
    val bucketed = new TableHandle(spark, catalog, "bucketed")
      .init(uniqueOn = Seq("id"), hashBuckets = Some(4))
    // the first writes create the tables; the measured ones are a
    // driver-side append and a Spark-job upsert into existing versions
    flat.append(batch(1L -> "a")); flat.flush()
    bucketed.upsert(batch(1L -> "a", 2L -> "b")); bucketed.flush()
    // Spark's executor-metrics probe forks `getconf PAGESIZE` once per
    // JVM, when its singleton is first loaded (it reads the running
    // SparkEnv): load it before recording
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val started = processes {
      flat.append(batch(2L -> "b")); flat.flush()
      bucketed.upsert(batch(2L -> "B", 3L -> "c")); bucketed.flush()
    }
    assert(started.isEmpty, started.mkString("; "))
    assert(flat.recordCount == 2 && bucketed.recordCount == 3)
  }
}
