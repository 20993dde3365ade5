package graft.core

import graft.SparkSpec
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

class CatalogSpec extends SparkSpec {

  private val idSchema = StructType.fromDDL("id BIGINT")

  test("version lifecycle: create, activate, swap, reset retains data") {
    val cat = new Catalog(tmpDir("cat"))
    assert(cat.meta("t").isEmpty)
    val v1 = cat.newVersion("t")
    assert(v1 == "v00000001")
    cat.setActive("t", v1, 10L, idSchema)
    assert(cat.activePath("t").get.endsWith("t/v00000001"))
    assert(cat.recordCount("t") == 10L)
    assert(cat.meta("t").get.versions.head.schemaDdl.contains("id BIGINT"))

    val v2 = cat.newVersion("t")
    cat.setActive("t", v2, 20L, idSchema)
    assert(cat.activePath("t").get.endsWith(v2))
    // old version still listed (retained until GC)
    assert(cat.meta("t").get.versions.map(_.id) == List(v1, v2))

    cat.reset("t")
    assert(cat.activePath("t").isEmpty)
    assert(cat.meta("t").get.versions.size == 2)
  }

  test("metadata survives reopen (atomic file persistence)") {
    val root = tmpDir("cat")
    val cat = new Catalog(root)
    val v = cat.newVersion("t")
    cat.setActive("t", v, 5L, idSchema)
    cat.update("t")(_.copy(uniqueOn = List("id")))
    val cat2 = new Catalog(root)
    val m = cat2.meta("t").get
    assert(m.activeVersion.contains(v) && m.uniqueOn == List("id"))
    assert(cat2.listTables() == Seq("t"))
  }

  test("vacuum deletes only non-active versions") {
    val cat = new Catalog(tmpDir("cat"))
    val v1 = cat.newVersion("t"); cat.setActive("t", v1, 1L, idSchema)
    val v2 = cat.newVersion("t"); cat.setActive("t", v2, 1L, idSchema)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(cat.versionPath("t", v1)))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(cat.versionPath("t", v2)))
    val dead = cat.vacuum("t")
    assert(dead == Seq(v1))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(cat.versionPath("t", v1))))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(cat.versionPath("t", v2))))
  }

  test("concurrent batch sequences are unique across threads (per-table lock)") {
    val cat = new Catalog(tmpDir("cat-conc"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val seqs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val futs = (1 to 8).map(_ => pool.submit(new Runnable {
      def run(): Unit = (1 to 50).foreach(_ => seqs.add(cat.nextBatchSeq("t")))
    }))
    futs.foreach(_.get())
    pool.shutdown()
    assert(seqs.size == 400) // read-modify-write never lost an update
  }

  test("a version written before schemas were recorded still reads (inferred)") {
    import spark.implicits._
    val root = tmpDir("cat-old")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$root/t/v00000001")
    // meta.json as written before VersionMeta carried a schema
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "t", "meta.json"),
      """{"name":"t","activeVersion":"v00000001",""" +
        """"versions":[{"id":"v00000001","recordCount":2,"createdAtMs":0}],""" +
        """"uniqueOn":["id"],"orderings":{},"schemaHints":{},"partitionBy":[],"nextSeq":2}""")
    val cat = new Catalog(root)
    assert(cat.meta("t").get.versions.head.schemaDdl.isEmpty)
    val h = new TableHandle(spark, cat, "t")
    assert(h.read.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(h.read.count() == 2)
    // the next committed version records its schema
    h.upsert(Seq((3L, "c")).toDF("id", "s")); h.flush()
    assert(h.meta.versions.last.schemaDdl.contains("id BIGINT,s STRING"))
    assert(h.read.count() == 3 && h.recordCount == 3)
  }

  test("a scan is read on the driver only within the size rule's files, bytes and rows") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    def local(h: TableHandle) = Catalog.local(h.read).isDefined
    def bytes(h: TableHandle) = {
      val p = java.nio.file.Paths.get(h.catalog.activePath("t").get)
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(java.nio.file.Files.size(_)).sum
    }
    // one driver-written file per append
    val files = new TableHandle(spark, new Catalog(tmpDir("cat")), "t")
    (1 to Catalog.LocalFiles).foreach { i => files.append(Seq(i.toLong).toDF("id")); files.flush() }
    assert(local(files))
    files.append(Seq(0L).toDF("id")); files.flush()
    assert(!local(files) && files.read.count() == Catalog.LocalFiles + 1)
    // one file written by one task
    def oneFile(rows: Long, v: Column) = {
      val h = new TableHandle(spark, new Catalog(tmpDir("cat")), "t")
      h.append(spark.range(0, rows, 1, 1).select(col("id"), v.as("v"))); h.flush()
      h
    }
    assert(local(oneFile(Catalog.LocalRows, lit("x"))))
    val rows = oneFile(Catalog.LocalRows + 1, lit("x"))
    assert(bytes(rows) < Catalog.LocalBytes && !local(rows))
    // few rows of 4 KiB of hex each: the bytes bound
    val wide = oneFile(1200, expr("concat_ws('', transform(sequence(1, 64), " +
      "i -> sha2(concat(cast(id AS STRING), '-', cast(i AS STRING)), 256)))"))
    assert(bytes(wide) > Catalog.LocalBytes && !local(wide) && wide.read.count() == 1200)
  }
}
