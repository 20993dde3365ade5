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

  test("vacuum waits for a writer holding the write lock: the version it fills survives") {
    import spark.implicits._
    val cat = new Catalog(tmpDir("cat-vac"))
    val h = new TableHandle(spark, cat, "t")
    h.append(Seq(1L).toDF("id")); h.flush()
    val replaced = h.meta.activeVersion.get
    val allocated = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    var v = ""
    val writer = new Thread(() => cat.withWriteLock("t") {
      v = cat.newVersion("t")
      Seq(1L, 2L).toDF("id").write.parquet(cat.versionPath("t", v))
      allocated.countDown()
      release.await()
      cat.setActive("t", v, 2L, idSchema)
    })
    writer.start()
    allocated.await()
    val vacuumed = java.util.concurrent.CompletableFuture.supplyAsync(() => cat.vacuum("t"))
    Thread.sleep(300)
    assert(!vacuumed.isDone, "vacuum ran while a writer held the lock")
    release.countDown()
    writer.join()
    // the writer's version is active, so only the one it replaced is dead
    assert(vacuumed.get() == Seq(replaced) && h.meta.activeVersion.contains(v))
    assert(h.read.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
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
    // meta.json as written before VersionMeta carried a schema, and as
    // written when tables could declare a clusterBy
    for (extra <- Seq("", """"clusterBy":["id"],""")) {
      val root = tmpDir("cat-old")
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$root/t/v00000001")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "t", "meta.json"),
        """{"name":"t","activeVersion":"v00000001",""" +
          """"versions":[{"id":"v00000001","recordCount":2,"createdAtMs":0}],""" +
          """"uniqueOn":["id"],"orderings":{},"schemaHints":{},"partitionBy":[],""" +
          extra + """"nextSeq":2}""")
      val cat = new Catalog(root)
      assert(cat.meta("t").get.versions.head.schemaDdl.isEmpty)
      val h = new TableHandle(spark, cat, "t")
      assert(h.read.schema.fieldNames.toSeq == Seq("id", "s"))
      assert(h.read.count() == 2)
      // the next committed version records its schema
      h.upsert(Seq((3L, "c")).toDF("id", "s")); h.flush()
      assert(h.meta.versions.last.schemaDdl.contains("id BIGINT,s STRING"))
      assert(h.read.count() == 3 && h.recordCount == 3, extra)
    }
  }

  test("a version partitioned on another column reads on both paths and refuses every write") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    // typed partition values and a NULL one, as an engine that had
    // init(partitionBy = ...) wrote them; ASCII values, since a JVM whose
    // file-name encoding is not UTF-8 cannot name a directory after é
    val cases = Seq(
      "STRING" -> Seq("a", "01", null),
      "BIGINT" -> Seq(1L, -20L, null),
      "TIMESTAMP" -> Seq(java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"), null),
      "DATE" -> Seq(java.sql.Date.valueOf("2024-03-01"), java.sql.Date.valueOf("1970-01-01"), null),
      "BOOLEAN" -> Seq(true, false, null),
      "DECIMAL(12,3)" ->
        Seq(new java.math.BigDecimal("123.456"), new java.math.BigDecimal("-0.001"), null))
    for ((t, values) <- cases) {
      val schema = StructType.fromDDL(s"id BIGINT, s STRING, p $t")
      val rows = values.zipWithIndex.flatMap { case (v, i) =>
        Seq(Row(i * 2L, s"x$i", v), Row(i * 2L + 1, null, v)) }
      val h = {
        val root = tmpDir("cat-part")
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
          .write.partitionBy("p").parquet(s"$root/t/v00000001")
        val ddl = StructType(schema.filterNot(_.name == "p") ++ schema.filter(_.name == "p")).toDDL
        java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "t", "meta.json"),
          """{"name":"t","activeVersion":"v00000001",""" +
            s""""versions":[{"id":"v00000001","recordCount":${rows.size},"createdAtMs":0,""" +
            s""""schemaDdl":"$ddl"}],"uniqueOn":["id"],"orderings":{},"schemaHints":{},""" +
            """"partitionBy":["p"],"clusterBy":["s"],"nextSeq":2}""")
        new TableHandle(spark, new Catalog(root), "t")
      }
      val ((read, _), jobs) = graft.Parity.same(spark) {
        (graft.Parity.twice((graft.Parity.rows(h.read),
          graft.Parity.rows(h.read.filter(col("id") > 2).select("p", "id")))), h.schema.toDDL)
      }
      assert(jobs == 0 && read._1._2.size == rows.size, t)
      val before = h.meta
      val batch = spark.createDataFrame(java.util.Arrays.asList(rows.take(1): _*), schema)
      for (write <- Seq[() => Unit](() => h.append(batch), () => h.upsert(batch),
          () => h.truncate(), () => h.compact())) {
        val e = intercept[UnsupportedOperationException](write())
        assert(e.getMessage.contains("partitioned on p"), e.getMessage)
      }
      // init cannot switch the layout to buckets under the old version
      h.init(hashBuckets = Some(4))
      intercept[UnsupportedOperationException](h.append(batch))
      assert(h.meta.copy(hashBuckets = None) == before && graft.Parity.rows(h.read) == read._1)
    }
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

  // ---- the driver read cache (Catalog.readLocal) ----------------------

  /** `body`'s value and the data files the driver path decoded in it. */
  private def decodes[T](body: => T): (T, Long) = {
    val before = Catalog.decodedFiles.get
    val out = body
    (out, Catalog.decodedFiles.get - before)
  }

  private def rows(h: TableHandle) = graft.Parity.rows(h.read)

  test("a second scan of a version decodes no file") {
    import spark.implicits._
    val h = new TableHandle(spark, new Catalog(tmpDir("cache")), "t")
    (1 to 3).foreach { i => h.append(Seq(i.toLong).toDF("id")); h.flush() }
    val (first, n1) = decodes(rows(h))
    assert(n1 == 3 && first._2 == Seq("[1]", "[2]", "[3]"))
    val (second, n2) = decodes(rows(h))
    assert(n2 == 0 && second == first)
    assert(decodes(graft.Parity.rows(h.readVersion(h.meta.activeVersion.get)))._2 == 0)
  }

  test("after a 1-row upsert into a 16-bucket table the next read decodes only the rewritten file") {
    import spark.implicits._
    val h = new TableHandle(spark, new Catalog(tmpDir("cache")), "t")
      .init(uniqueOn = Seq("k"), hashBuckets = Some(16))
    h.append((1L to 256L).map(k => (k, s"v$k")).toDF("k", "v")); h.flush()
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(h.catalog.activePath("t").get))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(files == 16, "one file per bucket")
    assert(decodes(h.read.collect())._2 == 16)
    // the merge reads the touched bucket's file from the cache
    assert(decodes { h.upsert(Seq((5L, "new")).toDF("k", "v")); h.flush() }._2 == 0)
    val (after, n) = decodes(h.read.collect())
    assert(n == 1, "the 15 hard-linked files are read from the cache")
    assert(after.length == 256 && after.filter(_.getLong(0) == 5L).map(_.getString(1)).toSeq == Seq("new"))
  }

  test("truncate, compact, a widening append and vacuum then rewrites never serve stale rows") {
    import spark.implicits._
    val h = new TableHandle(spark, new Catalog(tmpDir("cache")), "t")
    // every read on the driver path, after a read that filled the cache,
    // equals the Spark scan of the same version
    def check(want: Seq[String]): Unit = {
      val got = rows(h)
      assert(got == graft.Parity.sparkPath(rows(h)))
      assert(got._2 == want)
    }
    h.append(Seq(1L, 2L).toDF("id")); h.flush()
    check(Seq("[1]", "[2]"))
    h.truncate()
    check(Nil)
    h.append(Seq(3L).toDF("id")); h.flush()
    h.append(Seq(4L).toDF("id")); h.flush()
    check(Seq("[3]", "[4]"))
    assert(h.compact().isDefined)
    check(Seq("[3]", "[4]"))
    h.append(Seq((5L, "x")).toDF("id", "extra")); h.flush() // widens: a new version
    check(Seq("[3,null]", "[4,null]", "[5,x]"))
    h.catalog.vacuum("t")
    (6L to 8L).foreach { i =>
      h.replace(Seq((i, s"r$i")).toDF("id", "extra"))
      check(Seq(s"[$i,r$i]"))
      h.catalog.vacuum("t")
    }
  }

  test("a changed session SQL setting makes the next scan decode again") {
    import spark.implicits._
    val h = new TableHandle(spark, new Catalog(tmpDir("cache")), "t")
    (1 to 2).foreach { i => h.append(Seq(i.toLong).toDF("id")); h.flush() }
    val (want, _) = decodes(rows(h))
    assert(decodes(rows(h))._2 == 0)
    val key = "spark.sql.parquet.enableVectorizedReader"
    val set = spark.conf.getOption(key)
    spark.conf.set(key, !spark.conf.get(key).toBoolean)
    try {
      val (got, n) = decodes(rows(h))
      assert(n == 2 && got == want)
      assert(decodes(rows(h))._2 == 0)
    } finally set.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val (got, n) = decodes(rows(h))
    assert(n == 2 && got == want)
  }

  test("scans that together decode past the cache's bound leave it within the bound") {
    import org.apache.spark.sql.functions._
    // 2,000 rows of 4 KiB each: about 8 MiB decoded from a few KiB on disk
    def table(n: Long) = {
      val h = new TableHandle(spark, new Catalog(tmpDir("cache")), "t")
      h.append(spark.range(0, n, 1, 1).select(col("id"), expr("repeat('x', 4096)").as("v")))
      h.flush()
      h
    }
    def count(h: TableHandle) = Catalog.local(h.read).get.data.size
    val tables = (1 to 6).map(_ => table(2000))
    tables.foreach(h => assert(decodes(count(h)) == ((2000, 1L))))
    assert(Catalog.cachedBytes <= Catalog.CacheBytes)
    // the most recently read is kept, the least recently read was evicted
    assert(decodes(count(tables.last))._2 == 0)
    assert(decodes(count(tables.head))._2 == 1)
    // a file that decodes to more than the bound is never kept
    val big = table(Catalog.LocalRows)
    assert(decodes(count(big))._2 == 1 && decodes(count(big))._2 == 1)
    assert(Catalog.cachedBytes <= Catalog.CacheBytes)
  }
}
