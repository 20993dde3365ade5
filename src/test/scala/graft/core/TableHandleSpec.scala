package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TableHandleSpec extends SparkSpec {

  private def handle(root: String, name: String = "t"): TableHandle =
    new TableHandle(spark, new Catalog(root), name)

  test("append is buffered until flush; first write creates a version") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(!h.exists) // buffered, nothing written yet (node.py:305-307)
    h.flush()
    assert(h.exists && h.recordCount == 2)
    h.append(Seq((3L, "c")).toDF("id", "s"))
    h.flush()
    assert(h.read.count() == 3 && h.recordCount == 3)
  }

  test("appendRecords infers schema and widens across records") {
    val h = handle(tmpDir("tbl"))
    h.appendRecords(Seq(
      Map("id" -> 1, "v" -> 10L, "s" -> "x"),
      Map("id" -> 2, "v" -> 2.5, "note" -> "later-column")))
    h.flush()
    val df = h.read
    assert(df.schema("v").dataType.typeName == "double") // long widened
    assert(df.columns.toSet == Set("id", "v", "s", "note"))
    assert(df.where(col("note").isNull).count() == 1)
    // a field null in every record keeps its recorded type
    h.appendRecords(Seq(Map("id" -> 3, "v" -> null)))
    h.flush()
    assert(h.read.schema("v").dataType.typeName == "double")
    assert(h.read.where(col("v").isNull).count() == 1)
  }

  test("upsert: insert-or-update on unique_on, last wins, idempotent") {
    import spark.implicits._
    val h = handle(tmpDir("tbl")).init(uniqueOn = Seq("id"))
    h.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "s", "v"))
    h.flush()
    h.upsert(Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("id", "s", "v"))
    h.flush()
    val m = h.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(m.toSeq == Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
    // idempotent: same upsert again changes nothing
    h.upsert(Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("id", "s", "v"))
    h.flush()
    assert(h.read.count() == 3)
    // within-batch duplicate keys: exactly one row survives
    h.upsert(Seq((4L, "x", 1.0), (4L, "y", 2.0)).toDF("id", "s", "v"))
    h.flush()
    assert(h.read.where(col("id") === 4).count() == 1)
  }

  test("replace creates a new version; old one retained until vacuum") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append(Seq(1L, 2L, 3L).toDF("id")); h.flush()
    val v1 = h.meta.activeVersion.get
    h.replace(Seq(9L).toDF("id"))
    assert(h.read.count() == 1)
    assert(h.meta.activeVersion.get != v1)
    assert(h.meta.versions.exists(_.id == v1)) // retained
  }

  test("truncate keeps version and schema, deletes rows") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    for (buckets <- Seq(None, Some(4))) {
      val h = handle(tmpDir("tbl")).init(uniqueOn = Seq("id"), hashBuckets = buckets)
      h.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s")); h.flush()
      val v = h.meta.activeVersion.get
      val (_, jobs) = graft.JobCounter.jobs(spark)(h.truncate())
      assert(jobs == 0, s"buckets = $buckets")
      assert(h.meta.activeVersion.contains(v) && h.recordCount == 0)
      assert(h.read.count() == 0)
      assert(h.read.columns.toSeq == Seq("id", "s") ++ buckets.map(_ => TableHandle.BucketCol))
      // a bucketed version keeps its _gr_bucket=N/ layout: no data file at the root
      val root = java.nio.file.Paths.get(h.catalog.versionPath("t", v))
      val atRoot = java.nio.file.Files.list(root).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(atRoot == (if (buckets.isEmpty) 1 else 0), s"buckets = $buckets")
      h.append(Seq((3L, "c")).toDF("id", "s")); h.flush()
      h.upsert(Seq((3L, "C"), (4L, "d")).toDF("id", "s")); h.flush()
      assert(h.read.select("id", "s").as[(Long, String)].collect().sorted.toSeq ==
        Seq((3L, "C"), (4L, "d")), s"buckets = $buckets")
      assert(h.recordCount == 2)
    }
  }

  test("reset: pointer swap, then read uses declared schema") {
    import spark.implicits._
    val h = handle(tmpDir("tbl")).init(schema = Seq("id" -> "Integer", "s" -> "Text"))
    h.append(Seq((1L, "a")).toDF("id", "s")); h.flush()
    h.reset()
    assert(h.read.count() == 0)
    assert(h.read.schema.fieldNames.toSeq == Seq("id", "s"))
  }

  test("schema hints cast inferred types (node.py:283)") {
    val h = handle(tmpDir("tbl")).init(schemaHints = Map("v" -> "Float"))
    h.appendRecords(Seq(Map("id" -> 1L, "v" -> 5L)))
    h.flush()
    assert(h.read.schema("v").dataType.typeName == "double")
  }

  test("auto-fields: add_created and strictly-monotonic base32 id") {
    import spark.implicits._
    val h = handle(tmpDir("tbl")).init(
      addCreated = Some("created_at"), addMonotonicId = Some("mid"))
    h.append(Seq("a", "b", "c").toDF("s")); h.flush()
    h.append(Seq("d").toDF("s")); h.flush()
    // third in-place append: each batch must consume a FRESH sequence —
    // reusing meta.nextSeq minted colliding ids (row numbers restart per
    // batch), which only a 3rd append exposed
    h.append(Seq("e").toDF("s")); h.flush()
    val rows = h.read.orderBy("mid").collect()
    assert(rows.length == 5)
    val mids = rows.map(_.getAs[String]("mid"))
    assert(mids.sorted.sameElements(mids))
    assert(mids.distinct.length == 5)
    // later batches sort strictly after earlier ones
    val batch2 = h.read.where(col("s") === "d").select("mid").head().getString(0)
    val batch3 = h.read.where(col("s") === "e").select("mid").head().getString(0)
    val batch1Max = mids.filter(m => m != batch2 && m != batch3).max
    assert(batch2 > batch1Max && batch3 > batch2)
    assert(rows.forall(_.getAs[java.sql.Timestamp]("created_at") != null))
  }

  test("executeSql: CTAS replaces, INSERT appends, DELETE filters") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")); h.flush()
    h.executeSql("insert into {{ t }} select 4 as id, cast(40.0 as double) as v")
    assert(h.read.count() == 4)
    h.executeSql("delete from {{ t }} where v >= 30.0")
    assert(h.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    h.executeSql("create table {{ t }} as select id * 100 as id from {{ t }}")
    assert(h.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(100L, 200L))
  }

  test("executeSql DELETE keeps rows whose predicate is NULL, after pending writes") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append(Seq((1L, Option(1L)), (2L, Option(10L)), (3L, Option.empty[Long])).toDF("id", "v"))
    h.flush()
    // still buffered when the DELETE runs: flushed first, then deleted
    h.append(Seq((4L, Option(20L))).toDF("id", "v"))
    h.executeSql("delete from {{ t }} where v > 5")
    h.flush()
    assert(h.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 3L))
    assert(h.recordCount == 2)
  }

  test("executeSql: INSERT ... VALUES fails with a clear unsupported error") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append(Seq((1L, 10.0)).toDF("id", "v")); h.flush()
    val e = intercept[IllegalArgumentException] {
      h.executeSql("insert into {{ t }} values (5, 50.0)")
    }
    assert(e.getMessage.contains("only supports INSERT INTO ... SELECT"))
    assert(e.getMessage.contains("use append()"))
    assert(h.read.count() == 1) // nothing was written
  }

  test("readSql substitutes the table reference") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append(Seq(1L, 2L, 3L).toDF("id")); h.flush()
    val n = h.readSql("select count(*) as n from {{ t }}").head().getLong(0)
    assert(n == 3L)
  }

  test("hash-bucketed upsert rewrites only touched partitions (hardlinks the rest)") {
    import spark.implicits._
    val root = tmpDir("tbl")
    val h = handle(root).init(uniqueOn = Seq("id"), hashBuckets = Some(8))
    h.append((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "s")); h.flush()
    val v1 = h.meta.activeVersion.get
    assert(h.read.columns.contains(TableHandle.BucketCol))
    val bucketsV1 = h.read.select(TableHandle.BucketCol).distinct().count()
    assert(bucketsV1 == 8)

    // upsert exactly one key → exactly one bucket rewritten
    h.upsert(Seq((500L, "UPDATED")).toDF("id", "s")); h.flush()
    val v2 = h.meta.activeVersion.get
    assert(v2 != v1)
    val out = h.read
    assert(out.count() == 1000)
    assert(out.where($"id" === 500L).select("s").head().getString(0) == "UPDATED")
    // untouched buckets are hardlinked: same inode as v1 files
    val v1Dir = java.nio.file.Paths.get(new Catalog(root).versionPath("t", v1))
    val v2Dir = java.nio.file.Paths.get(new Catalog(root).versionPath("t", v2))
    def inodes(d: java.nio.file.Path) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(d).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => (d.relativize(p).getName(0).toString,
          java.nio.file.Files.getAttribute(p, "unix:ino")))
        .toList
    }
    val shared = inodes(v2Dir).toSet intersect inodes(v1Dir).toSet
    assert(shared.size >= 6, s"expected most buckets hardlinked, shared=$shared")

    // a Spark scan filtered on the bucket prunes partitions
    // (PartitionFilters); a table this small is read on the driver
    val plan = graft.Parity.sparkPath(h.read.where(col(TableHandle.BucketCol) === 3)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("PartitionFilters") && plan.contains("_gr_bucket"))
  }

  test("append with a changed schema widens into a fresh version") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append(Seq((1L, 10)).toDF("id", "v")); h.flush()      // v int
    val v1 = h.meta.activeVersion.get
    h.append(Seq((2L, 2.5, "x")).toDF("id", "v", "extra")); h.flush() // v double + new col
    assert(h.meta.activeVersion.get != v1) // widen-rewrite → new version
    val df = h.read
    assert(df.schema("v").dataType.typeName == "double")
    assert(df.count() == 2)
    assert(df.where(col("extra").isNull).count() == 1)
  }

  test("second append of an array column keeps the array type (parquet nullability round-trip)") {
    import spark.implicits._
    // parquet reads arrays back with containsNull=true while a fresh
    // frame declares containsNull=false — the schema compare must not
    // see that as a change (it used to widen array<bigint> to STRING,
    // destroying every near-dup index on its second extension)
    val h = handle(tmpDir("tbl"))
    val mk = (id: Long) => Seq((id, Seq(id, id + 1))).toDF("id", "sig")
    h.append(mk(1L)); h.flush()
    val v1 = h.meta.activeVersion.get
    h.append(mk(2L)); h.flush()
    assert(h.meta.activeVersion.get == v1, "no widen-rewrite for a nullability-only delta")
    val df = h.read
    assert(df.schema("sig").dataType.typeName == "array")
    assert(df.count() == 2)
    assert(df.where(col("id") === 2L).select(element_at(col("sig"), 2))
      .head().getLong(0) == 3L)
  }

  test("array columns widen element-wise, not to string") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append(Seq((1L, Seq(1, 2))).toDF("id", "a")); h.flush()         // array<int>
    h.append(Seq((2L, Seq(5L, 6L))).toDF("id", "a")); h.flush()       // array<bigint>
    val t = h.read.schema("a").dataType
    assert(t.simpleString == "array<bigint>", t.simpleString)
    assert(h.read.count() == 2)
  }

  test("chunked record reads (chunksize semantics)") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append((1L to 10L).toDF("id")); h.flush()
    val chunks = h.readChunks(3).toList
    assert(chunks.map(_.size) == List(3, 3, 3, 1))
    assert(chunks.flatten.map(_("id").asInstanceOf[Long]).sorted == (1L to 10L).toList)
  }

  test("upsert into an empty bucket of a 16-bucket table commits and counts") {
    import spark.implicits._
    val h = handle(tmpDir("emptybucket")).init(uniqueOn = Seq("id"), hashBuckets = Some(16))
    h.append(Seq((1L, "a")).toDF("id", "s")); h.flush()
    val v1 = h.meta.activeVersion.get
    val bucket = (1L to 50L).toDF("id")
      .select(col("id"), pmod(xxhash64(col("id")), lit(16)).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k = (2L to 50L).find(bucket(_) != bucket(1L)).get
    // the touched bucket holds no rows yet: the merge reads nothing
    h.upsert(Seq((k, "b")).toDF("id", "s")); h.flush()
    assert(h.read.select("id", "s").collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", k -> "b"))
    assert(h.recordCount == h.read.count())
    // every allocated version was activated: the create, then the upsert
    val m = h.meta
    assert(m.versions.map(_.id) == List(v1, m.activeVersion.get) && m.activeVersion.get != v1)
  }

  test("init(schemaRef = name) resolves a registered CommonModel schema") {
    CommonModel.registerSchema("doc_meta",
      Seq("doc_id" -> "Integer", "title" -> "Text", "score" -> "Float"))
    val h = handle(tmpDir("named")).init(schemaRef = Some("doc_meta"))
    val df = h.read // no active version → declared schema drives the frame
    assert(df.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq(("doc_id", "long"), ("title", "string"), ("score", "double")))
    // unknown name falls through to DDL parsing, bad DDL fails loudly
    intercept[Exception] {
      handle(tmpDir("named2")).init(schemaRef = Some("no_such_schema")).read
    }
  }

  test("upsert on a composite unique_on key") {
    import spark.implicits._
    val h = handle(tmpDir("composite")).init(uniqueOn = Seq("org", "id"))
    h.append(Seq(("a", 1L, "x"), ("a", 2L, "y"), ("b", 1L, "z"))
      .toDF("org", "id", "s"))
    h.flush()
    // same id under a different org is an INSERT, same (org, id) updates
    h.upsert(Seq(("b", 2L, "new"), ("a", 1L, "X2")).toDF("org", "id", "s"))
    h.flush()
    val rows = h.read.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(rows == Map(("a", 1L) -> "X2", ("a", 2L) -> "y",
      ("b", 1L) -> "z", ("b", 2L) -> "new"))
  }

  private def parquetFiles(h: TableHandle): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(h.catalog.activePath(h.name).get)
    java.nio.file.Files.walk(p).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
  }

  test("compact bin-packs small append files into a new version, no signal") {
    import spark.implicits._
    var signals = List.empty[String]
    val root = tmpDir("compact")
    val h = new TableHandle(spark, new Catalog(root), "t",
      onSignal = (_, kind) => signals ::= kind)
    (0 until 6).foreach { i =>
      h.append(Seq((i.toLong, s"v$i")).toDF("id", "s")); h.flush()
    }
    val before = h.read.orderBy("id").collect().map(_.toString).toSeq
    assert(parquetFiles(h).size >= 6)
    val v0 = h.meta.activeVersion.get
    signals = Nil
    val v = h.compact()
    assert(v.isDefined && h.meta.activeVersion.get != v0)
    assert(parquetFiles(h).size == 1)
    assert(h.read.orderBy("id").collect().map(_.toString).toSeq == before)
    assert(h.recordCount == 6)
    // physical-only operation: downstream must not re-trigger
    assert(signals.isEmpty)
  }

  test("compact on a partitioned table leaves one file per partition dir") {
    import spark.implicits._
    val h = handle(tmpDir("compactp")).init(uniqueOn = Seq("id"), hashBuckets = Some(3))
    (0 until 4).foreach { i =>
      h.append((0 until 10).map(j => (i * 10L + j, s"x$i$j")).toDF("id", "s"))
      h.flush()
    }
    assert(parquetFiles(h).size == 12, "one file per bucket per append")
    h.compact()
    val byDir = parquetFiles(h).groupBy(_.getParent.getFileName.toString)
    assert(byDir.keySet == (0 until 3).map(b => s"${TableHandle.BucketCol}=$b").toSet)
    assert(byDir.values.forall(_.size == 1))
    assert(h.read.count() == 40 && h.recordCount == 40)
  }

  test("read-only mode rejects writes") {
    import spark.implicits._
    val root = tmpDir("tbl")
    val h = handle(root)
    h.append(Seq(1L).toDF("id")); h.flush()
    val r = new TableHandle(spark, new Catalog(root), "t", "r")
    intercept[IllegalArgumentException](r.append(Seq(2L).toDF("id")))
  }

  test("vacuum after a hardlinked upsert chain: active intact, non-shared space reclaimed") {
    import spark.implicits._
    // The bucket-pruned upsert HARDLINKS untouched partition files from
    // the previous version into the new one, so after a chain of
    // upserts the active version's files are link-shared with many dead
    // versions. The vacuum contract (Catalog.vacuum scaladoc): deleting
    // every dead version must leave the active version byte-identical
    // readable (inodes survive while the active name links them) AND
    // reclaim all non-shared space.
    val root = tmpDir("vac")
    val cat = new Catalog(root)
    val h = new TableHandle(spark, cat, "t")
      .init(uniqueOn = Seq("id"), hashBuckets = Some(8))
    h.append((0L until 400L).map(i => (i, s"v$i")).toDF("id", "s")); h.flush()
    // 20 single-key upserts: each rewrites ~1 bucket, hardlinks the rest
    (1 to 20).foreach { k =>
      h.upsert(Seq((k.toLong * 17 % 400, s"u$k")).toDF("id", "s")); h.flush()
    }
    val expected = h.read.orderBy("id").collect().map(_.toSeq).toSeq
    val m = h.meta
    val active = m.activeVersion.get
    assert(m.versions.size == 21, s"expected 21 versions, got ${m.versions.size}")
    def parquetFiles(dir: java.nio.file.Path): Set[String] = {
      import scala.jdk.CollectionConverters._
      if (!java.nio.file.Files.exists(dir)) Set.empty
      else java.nio.file.Files.walk(dir).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
    }
    val tableDir = java.nio.file.Paths.get(cat.versionPath("t", active)).getParent
    val activeDir = java.nio.file.Paths.get(cat.versionPath("t", active))
    val filesBefore = parquetFiles(tableDir)
    val activeFiles = parquetFiles(activeDir)
    // the chain actually shares files: dead versions hold MORE parquet
    // names than the active one alone
    assert(filesBefore.size > activeFiles.size)
    val dead = cat.vacuum("t")
    assert(dead.size == 20, s"expected 20 dead versions, got ${dead.size}")
    // all non-shared space reclaimed: only the active version's files remain
    assert(parquetFiles(tableDir) == activeFiles)
    // active version still byte-identical readable through the catalog
    assert(h.meta.activeVersion.contains(active))
    assert(h.read.orderBy("id").collect().map(_.toSeq).toSeq == expected)
    assert(h.recordCount == 400)
  }

  test("time travel: a replaced-away version stays readable until vacuum") {
    import spark.implicits._
    val h = handle(tmpDir("tt"))
    h.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")); h.flush()
    val v1 = h.versions.last._1
    h.replace(Seq((9L, "z")).toDF("k", "v")); h.flush()
    assert(h.read.count() == 1)                      // active = replacement
    assert(h.readVersion(v1).count() == 2)           // history intact
    assert(h.versions.map(_._1).contains(v1))
    val e = intercept[IllegalArgumentException](h.readVersion("v99999999"))
    assert(e.getMessage.contains("no retained version"))
  }

  test("interleaved upserts from two handles lose no rows (write-lock contract)") {
    import spark.implicits._
    // VERDICT r13 item 6: two writers race read-merge-commit cycles on
    // the SAME bucketed table. Without Catalog.withWriteLock both read
    // the same base version and the later commit silently DROPS the
    // earlier one's keys — this spec interleaves 8 flush rounds per
    // writer and asserts the union survived, with last-wins per key
    // where a single writer owns the key.
    val root = tmpDir("race")
    val cat = new Catalog(root)
    val a = new TableHandle(spark, cat, "t").init(
      uniqueOn = Seq("k"), hashBuckets = Some(4))
    val b = new TableHandle(spark, cat, "t")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(h: TableHandle, tag: String, keys: Range): Thread = {
      val t = new Thread(() => try {
        for (round <- 1 to 8) {
          h.upsert(keys.map(k => (k.toLong, s"$tag$round")).toDF("k", "v"),
            orderBy = Seq(lit(round)))
          h.flush()
        }
      } catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    // disjoint halves + a contested middle: lost updates would drop
    // whole key ranges, not just mis-order the middle
    val ta = writer(a, "a", 0 until 100)
    val tb = writer(b, "b", 50 until 150)
    ta.join(); tb.join()
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    val rows = a.read.select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 150, s"lost update: ${150 - rows.size} keys missing")
    // single-owner keys end at their owner's LAST round
    (0 until 50).foreach(k => assert(rows(k.toLong) == "a8", s"k=$k ${rows(k.toLong)}"))
    (100 until 150).foreach(k => assert(rows(k.toLong) == "b8", s"k=$k ${rows(k.toLong)}"))
    // contested keys hold SOME complete round-8 write (serialized
    // cycles; which writer committed last is scheduling-dependent)
    (50 until 100).foreach(k =>
      assert(rows(k.toLong) == "a8" || rows(k.toLong) == "b8",
        s"contested k=$k ended at ${rows(k.toLong)}"))
  }

  test("crash mid-write: partial version never referenced; vacuum reclaims it") {
    import spark.implicits._
    // VERDICT r13 item 6: a writer that dies AFTER allocating a version
    // and writing part-files but BEFORE the setActive commit must leave
    // the table serving the old version byte-identically, and vacuum
    // must reclaim the orphan directory.
    val root = tmpDir("crash")
    val cat = new Catalog(root)
    val h = handle(root)
    h.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")); h.flush()
    val activeBefore = h.meta.activeVersion.get
    // simulate the crash window: version allocated, data partially
    // written, no setActive (the commit is the ONLY step that changes
    // what readers see)
    val orphan = cat.newVersion("t")
    Seq((99L, "GHOST")).toDF("k", "v")
      .write.parquet(cat.versionPath("t", orphan))
    // readers: untouched — the pointer still names the old version
    assert(h.meta.activeVersion.contains(activeBefore))
    assert(h.read.orderBy("k").collect().map(_.getString(1)).toSeq ==
      Seq("a", "b"))
    // the orphan is visible in the version list (auditable), inactive
    assert(h.versions.map(_._1).contains(orphan))
    // vacuum reclaims exactly the orphan; active stays readable
    val dead = cat.vacuum("t")
    assert(dead == Seq(orphan))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cat.versionPath("t", orphan))))
    assert(h.read.count() == 2)
  }

  test("upsert of a batch with in-batch duplicate keys equals the model over 16 buckets") {
    import spark.implicits._
    def model(rows: Seq[(Long, String, Long, String)]): Map[Long, (String, String)] =
      rows.groupBy(_._1).map { case (k, rs) => k -> { val w = rs.maxBy(_._3); (w._2, w._4) } }
    def got(h: TableHandle): Map[Long, (String, String)] = {
      val rs = h.read.select("k", "p", "v").collect()
      assert(rs.map(_.getLong(0)).distinct.length == rs.length, "each key once")
      rs.map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    }
    val seed = (1L to 20L).map(k => (k, s"p${k % 3}", 0L, s"v$k"))
    // key 3 and key 25 twice, their duplicates differing in p and v
    val batch = Seq((3L, "p0", 1L, "old3"), (3L, "p9", 2L, "new3"), (25L, "p1", 5L, "new25"),
      (25L, "p2", 1L, "old25"), (7L, "p1", 9L, "new7"))
    for (local <- Seq(true, false)) {
      val h = handle(tmpDir("tbl")).init(uniqueOn = Seq("k"), hashBuckets = Some(16))
      h.upsert(seed.toDF("k", "p", "ts", "v")); h.flush()
      val df = batch.toDF("k", "p", "ts", "v")
      h.upsert(if (local) df else df.repartition(2), orderBy = Seq($"ts")); h.flush()
      val want = model(seed) ++ model(batch)
      assert(got(h) == want, s"local batch = $local")
      assert(h.recordCount == want.size)
    }
  }

  // ---- driver-side writes of local batches ------------------------------

  private val allTypes = org.apache.spark.sql.types.StructType.fromDDL(
    "l BIGINT, d DOUBLE, s STRING, b BOOLEAN, n STRING, ts TIMESTAMP, dt DATE, " +
      "dec DECIMAL(12,3), arr ARRAY<BIGINT>")

  private val typedRows: Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    Seq(
      Row(1L, 2.5, "a \"quoted\" é\nline", true, null,
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"), java.sql.Date.valueOf("2024-03-01"),
        new java.math.BigDecimal("123.456"), Seq(1L, 2L)),
      Row(-2L, -1e-7, "", false, "set", null, java.sql.Date.valueOf("1970-01-01"),
        new java.math.BigDecimal("-0.001"), Seq.empty[Long]),
      Row(null, null, null, null, null, null, null, null, null))
  }

  /** A frame whose optimized plan is a local relation, and a frame of
    * the same rows that only a Spark job can produce. */
  private def localAndSpread(rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) = {
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(rows.asJava, schema)
    assert(local.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    (local, spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
  }

  private def readBack(h: TableHandle): Seq[String] =
    h.read.collect().map(_.toString).toSeq.sorted

  /** The Spark key-value footer entries and the parquet schema of every
    * data file of the active version. */
  private def footers(h: TableHandle): Set[(Map[String, String], String)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(h).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try {
        val m = r.getFooter.getFileMetaData
        (m.getKeyValueMetaData.asScala.toMap.filter(_._1.startsWith("org.apache.spark")),
          m.getSchema.toString)
      } finally r.close()
    }.toSet
  }

  /** Every file under the table's directory, relative to it. */
  private def tableFiles(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(r).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(r.relativize(_).toString).toSeq
  }

  test("a local batch appends without a Spark job, as a Spark-written one reads and records") {
    val (local, spread) = localAndSpread(typedRows, allTypes)
    val a = handle(tmpDir("local"))
    val b = handle(tmpDir("spread"))
    // the first append creates the version, the second lands in place
    val (_, jobs) = graft.JobCounter.jobs(spark) {
      a.append(local); a.flush(); a.append(local); a.flush()
    }
    assert(jobs == 0)
    b.append(spread); b.flush(); b.append(spread); b.flush()
    assert(readBack(a) == readBack(b))
    assert(readBack(a).size == 6 && a.recordCount == 6 && b.recordCount == 6)
    assert(a.meta.versions.map(_.schemaDdl) == b.meta.versions.map(_.schemaDdl))
    assert(a.schema.toDDL == b.schema.toDDL)
    assert(parquetFiles(a).size == 2, "one file per local append")
    val (fa, fb) = (footers(a), footers(b))
    assert(fa.size == 1 && fa == fb, s"$fa\n$fb")
    assert(fa.head._1.keySet.contains("org.apache.spark.sql.parquet.row.metadata"))
  }

  test("a 0-row local batch creates and appends like a Spark-written one, leaving no temp file") {
    import scala.jdk.CollectionConverters._
    val empty = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      allTypes)
    val emptySpread = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], allTypes)
    val (rootA, rootB) = (tmpDir("local"), tmpDir("spread"))
    val (a, b) = (handle(rootA), handle(rootB))
    val (_, jobs) = graft.JobCounter.jobs(spark) {
      a.append(empty); a.flush()
      a.append(spark.createDataFrame(typedRows.asJava, allTypes)); a.flush()
      a.append(empty); a.flush()
    }
    assert(jobs == 0)
    b.append(emptySpread); b.flush()
    b.append(spark.createDataFrame(spark.sparkContext.parallelize(typedRows, 2), allTypes)); b.flush()
    b.append(emptySpread); b.flush()
    assert(readBack(a) == readBack(b) && a.recordCount == 3 && b.recordCount == 3)
    assert(a.meta.versions.map(_.schemaDdl) == b.meta.versions.map(_.schemaDdl))
    assert(footers(a) == footers(b))
    // data files, their checksums and meta.json only: no in-progress
    // file, no committer directory
    val files = tableFiles(rootA)
    assert(files.nonEmpty && files.forall(f =>
      f == "t/meta.json" || f.matches("""t/v\d+/\.?part-00000-[0-9a-f-]+-c000\.snappy\.parquet(\.crc)?""")),
      files.mkString(", "))
  }

  test("upsert, compact and vacuum over driver-written versions keep the model") {
    import org.apache.spark.sql.Row
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, s STRING")
    def batch(rows: (Long, String)*) = localAndSpread(rows.map { case (i, v) => Row(i, v) }, schema)._1
    val root = tmpDir("local")
    val h = handle(root).init(uniqueOn = Seq("id"))
    (0L until 4L).foreach { i => h.append(batch(i -> s"v$i")); h.flush() }
    assert(parquetFiles(h).size == 4)
    // the upsert's merge reads the driver-written files; its write is a job
    h.upsert(batch(1L -> "u1", 9L -> "v9")); h.flush()
    val model = Seq(0L -> "v0", 1L -> "u1", 2L -> "v2", 3L -> "v3", 9L -> "v9")
    def rows = h.read.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._1)
    assert(rows == model && h.recordCount == 5)
    h.append(batch(10L -> "v10")); h.flush()
    assert(h.compact().isDefined)
    assert(parquetFiles(h).size == 1)
    val want = model :+ (10L -> "v10")
    assert(rows == want && h.recordCount == 6)
    val dead = h.catalog.vacuum("t")
    assert(dead.size == 2)
    assert(rows == want)
    assert(tableFiles(root).forall(f => !f.contains("inprogress") && !f.contains("_temporary")))
  }

  test("a local batch honours spark.sql.files.maxRecordsPerFile") {
    import org.apache.spark.sql.Row
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    val (local, spread) = localAndSpread((1L to 5L).map(Row(_)), schema)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try {
      val a = handle(tmpDir("local"))
      val (_, jobs) = graft.JobCounter.jobs(spark) { a.append(local); a.flush() }
      assert(jobs == 0)
      assert(parquetFiles(a).map(_.getFileName.toString.split("-c").last).sorted ==
        Seq("000.snappy.parquet", "001.snappy.parquet", "002.snappy.parquet"))
      val b = handle(tmpDir("spread"))
      b.append(spread); b.flush()
      assert(readBack(a) == readBack(b) && a.recordCount == 5)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("a local batch is refused as a Spark write refuses it: duplicate and unsupported columns") {
    import org.apache.spark.sql.Row
    def refused(schema: org.apache.spark.sql.types.StructType, row: Row): Seq[String] = {
      val (local, spread) = localAndSpread(Seq(row), schema)
      Seq(local, spread).map { df =>
        val h = handle(tmpDir("bad"))
        h.append(df)
        val e = intercept[org.apache.spark.sql.AnalysisException](h.flush())
        assert(!h.exists)
        e.getCondition
      }
    }
    val dup = refused(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, ID BIGINT"), Row(1L, 2L))
    assert(dup == Seq("COLUMN_ALREADY_EXISTS", "COLUMN_ALREADY_EXISTS"))
    val interval = refused(
      org.apache.spark.sql.types.StructType.fromDDL("i INTERVAL"),
      Row(new org.apache.spark.unsafe.types.CalendarInterval(0, 1, 0)))
    assert(interval.size == 2)
  }

  // ---- reads and merges on the driver (Catalog.scan's size rule) -------

  private def localRows(rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) = localAndSpread(rows, schema)._1

  /** The parity case's rows, plus keys 3 to 6. */
  private val seedRows: Seq[org.apache.spark.sql.Row] = typedRows ++ (3L to 6L).map { i =>
    org.apache.spark.sql.Row(i, i * 0.5, s"s$i", i % 2 == 0, null,
      java.sql.Timestamp.valueOf(s"2024-03-0$i 00:00:0$i"), java.sql.Date.valueOf(s"2024-0$i-01"),
      new java.math.BigDecimal(s"$i.5"), Seq(i))
  }

  /** An update with NULLs (key 1 keeps its other values), a NULL key, a
    * key with every other value changed (3), key 5 twice (its greater
    * `d` first, so `orderBy d` and last-row pick different rows) and a
    * new key. */
  private val batchRows: Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    val ts = java.sql.Timestamp.valueOf("2025-01-01 01:02:03.456")
    Seq(
      Row(1L, null, "upd1", null, "n1", null, null, null, null),
      Row(null, 9.0, "nullkey", true, null, ts, null, null, Seq(9L)),
      Row(3L, 3.5, "moved", false, null, ts, java.sql.Date.valueOf("2025-01-01"),
        new java.math.BigDecimal("0.001"), Seq.empty[Long]),
      Row(5L, 2.0, "dupA", true, "a", null, null, null, null),
      Row(5L, 1.0, "dupB", false, "b", null, null, null, null),
      Row(7L, 7.0, "new7", true, null, ts, java.sql.Date.valueOf("2025-01-07"),
        new java.math.BigDecimal("7.000"), Seq(7L)))
  }

  private val layouts: Seq[(String, TableHandle => TableHandle)] = Seq(
    "unpartitioned" -> (_.init(uniqueOn = Seq("l"))),
    "4 hash buckets" -> (_.init(uniqueOn = Seq("l"), hashBuckets = Some(4))))

  test("a small table reads on the driver as the Spark scan reads it, every type and layout") {
    for ((layout, init) <- layouts) {
      // the jobs of the reads, on the driver path first
      val jobs = scala.collection.mutable.ArrayBuffer.empty[Long]
      graft.Parity.same(spark) {
        val h = init(handle(tmpDir("parity")))
        h.append(localRows(seedRows, allTypes)); h.flush()
        h.append(localRows(typedRows.take(1), allTypes)); h.flush()
        val (got, n) = graft.JobCounter.jobs(spark)(graft.Parity.twice((graft.Parity.rows(h.read),
          graft.Parity.rows(h.read.filter(col("l") > 2).select("s", "ts", "l")),
          h.readRecords().map(_.toString).toSeq.sorted)))
        jobs += n
        got
      }
      assert(jobs.head == 0, layout)
    }
  }

  test("a local batch merges on the driver as the Spark merge does, every type and layout") {
    for ((layout, init) <- layouts; orderBy <- Seq(Nil, Seq(col("d")))) {
      val jobs = scala.collection.mutable.ArrayBuffer.empty[Long]
      graft.Parity.same(spark) {
        val h = init(handle(tmpDir("parity")))
        h.append(localRows(seedRows, allTypes)); h.flush()
        val (got, n) = graft.JobCounter.jobs(spark) {
          h.upsert(localRows(batchRows, allTypes), orderBy); h.flush()
          graft.Parity.twice(graft.Parity.rows(h.read))
        }
        jobs += n
        assert(h.recordCount == got._2.size, layout)
        (got, h.recordCount, h.schema.toDDL)
      }
      assert(jobs.head == 0, s"$layout, orderBy = $orderBy")
    }
  }

  test("driver and Spark merges agree on NULL, -0.0 and NaN keys, deduped with and without orderBy") {
    import org.apache.spark.sql.Row
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k DOUBLE, v STRING, p STRING")
    val seed = Seq(Row(0.0, "zero", "a"), Row(Double.NaN, "nan", "b"), Row(1.5, "x", null),
      Row(null, "nullkey", "a"))
    // -0.0 and 0.0 are one key, in the batch and against the table
    val batch = Seq(Row(-0.0, "negzero", "c"), Row(Double.NaN, "nan2", "b"),
      Row(null, "nullkey2", "a"), Row(0.0, "a-zero", null), Row(2.5, "new", "c"))
    val dlayouts: Seq[(String, TableHandle => TableHandle)] = Seq(
      "unpartitioned" -> (_.init(uniqueOn = Seq("k"))),
      "4 hash buckets" -> (_.init(uniqueOn = Seq("k"), hashBuckets = Some(4))))
    for ((layout, init) <- dlayouts; orderBy <- Seq(Nil, Seq(col("v")))) {
      val ((rows, _), jobs) = graft.Parity.same(spark) {
        val h = init(handle(tmpDir("keys")))
        h.append(localRows(seed, schema)); h.flush()
        h.upsert(localRows(batch, schema), orderBy); h.flush()
        (graft.Parity.twice(graft.Parity.rows(h.read.select("k", "v", "p"))), h.recordCount)
      }
      assert(jobs == 0, s"$layout, orderBy = $orderBy")
      if (layout == "unpartitioned")
        assert(rows._2 == Seq(
          "[1.5,x,null]", "[2.5,new,c]", "[NaN,nan2,b]",
          if (orderBy.isEmpty) "[0.0,a-zero,a]" else "[0.0,negzero,c]",
          "[null,nullkey,a]", "[null,nullkey2,a]").sorted, s"orderBy = $orderBy")
    }
  }

  test("readRecords and readChunks drain a small table with no job") {
    import spark.implicits._
    val h = handle(tmpDir("tbl"))
    h.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "s")); h.flush()
    val ((records, chunks), jobs) = graft.JobCounter.jobs(spark)(
      (h.readRecords().toList, h.readChunks(4).map(_.size).toList))
    assert(jobs == 0)
    assert(records.map(_("id").asInstanceOf[Long]).sorted == (1L to 10L).toList)
    assert(chunks == List(4, 4, 2))
  }
}
