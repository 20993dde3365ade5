package graft.functions

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

/** Property suites for the round-9 codegen kernels, each checked
  * against the formulation it replaced (or a direct invariant) on
  * randomized inputs the fixtures don't exercise — unicode, empty
  * tokens, adversarial whitespace.
  */
object KernelProperties extends Properties("graft.functions.kernels") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(10)

  private lazy val spark = graft.SparkSpec.session
  import spark.implicits._

  // text over a small alphabet with stopwords, unicode, and varied
  // whitespace separators (space, tab, newline)
  private val wordGen: Gen[String] = Gen.oneOf(
    "the", "a", "of", "and", "to", "in", "is", "it",
    "cat", "dog", "x", "καί", "的", "", "the")
  private val sepGen: Gen[String] = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
  private val textGen: Gen[String] = for {
    words <- Gen.listOfN(12, wordGen)
    seps <- Gen.listOfN(12, sepGen)
    lead <- Gen.oneOf("", " ", "\t")
  } yield lead + words.zip(seps).map { case (w, s) => w + s }.mkString

  // arbitrary strings heavy in quotes/backslashes and control
  // characters — what the CLI's JSON files must escape
  private val nastyGen: Gen[String] =
    Gen.listOfN(16, Gen.oneOf("\"", "\\", "\\\"", "\\\\", "a", "b ",
      "{", "}", ":", ",", "καί", "", "\n", "\r", "\t", "\u0001", "\u001f"))
      .map(_.mkString)

  property("Cli JSON: a secret description round-trips through the secret file and list --json") = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    forAll(nastyGen) { s =>
      val home = java.nio.file.Files.createTempDirectory("graft-cli-home")
      val prev = sys.props.get("graft.home")
      sys.props("graft.home") = home.toString
      try {
        graft.cli.Cli.run(Array("create", "secret", "--description", s, "S", "v"))
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
          graft.cli.Cli.run(Array("list", "secrets", "--json"))
        }
        // one record per line: no raw control character, no unescaped quote
        val lines = out.toString("UTF-8").linesIterator.toList
        lines.size == 1 && mapper.readTree(lines.head).get("description").asText() == s
      } finally prev match {
        case Some(v) => sys.props("graft.home") = v
        case None => sys.props.remove("graft.home")
      }
    }
  }

  property("stopword kernel == the HOF formulation it replaced (both semantics)") =
    forAll(Gen.listOfN(5, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
      val list = graft.llm.TextAnalysis.stopwords("en")
      val rows = df.select(col("id"),
          StopwordCount.occurrences(col("t"), list).as("k_occ"),
          StopwordCount.distinctHits(col("t"), list).as("k_dis"),
          size(filter(split(trim(col("t")), "\\s+"), w =>
            array_contains(array(list.map(lit): _*), w))).as("h_occ"),
          size(array_intersect(array_distinct(split(trim(col("t")), "\\s+")),
            array(list.map(lit): _*))).as("h_dis"))
        .collect()
      rows.forall(r => r.getInt(1) == r.getInt(3) && r.getInt(2) == r.getInt(4))
    }

  private val byteTextGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 600)
    cs <- Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', 'é', '的')))
  } yield cs.mkString

  property("CDC chunks tile the byte range exactly for arbitrary text") =
    forAll(Gen.listOfN(4, byteTextGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
      val rows = df.select(col("id"), col("t"),
          CdcChunks.chunks(col("t"), 8, 64, 4).as("ch"))
        .collect()
      rows.forall { r =>
        val nBytes = r.getString(1).getBytes("UTF-8").length
        val ch = r.getSeq[org.apache.spark.sql.Row](2)
          .map(c => (c.getInt(0), c.getInt(1)))
        var pos = 0
        val tiled = ch.forall { case (off, len) =>
          val ok = off == pos && len > 0 && len <= 64; pos += len; ok
        }
        tiled && pos == nBytes
      }
    }

  // random word-level edits for the winnowing guarantee
  private val editTextGen: Gen[(String, String)] = for {
    n <- Gen.chooseNum(12, 30)
    words = (1 to n).map(i => s"u${i}q${i * 3 % 7}")
    cut <- Gen.chooseNum(0, 5)
  } yield (words.mkString(" "),
    // edit: drop `cut` words from the FRONT — the tail run stays shared
    words.drop(cut).mkString(" "))

  property("winnowing: a shared tail of >= w+k-1 words always yields a common fingerprint") =
    forAll(editTextGen) { case (a, b) =>
      val df = Seq((1L, a), (2L, b)).toDF("id", "t")
      val fps = df.select(col("id"),
          Winnow.fingerprints(TextShingles.grams(col("t"), 3), 4).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      // b is a suffix of a with >= 7 shared words -> guaranteed overlap
      fps(1L).intersect(fps(2L)).nonEmpty
    }

  // --- vector-kernel NULL semantics across representation boundaries ---
  //
  // The codegen'd null scan word-reads UnsafeArrayData's null bitmap
  // directly (VectorKernels.anyNullFn), so sizes MUST cross the 64-bit
  // word boundary (63/64/65/128/130) and nulls must land on first/last/
  // middle positions. The same expression is also pushed through a
  // parquet round-trip so the vectorized-scan ColumnarArray fallback
  // path is exercised, not just the post-LocalTableScan unsafe path.
  private val optVecGen: Gen[Seq[Option[Float]]] = for {
    n <- Gen.oneOf(0, 1, 7, 63, 64, 65, 128, 130)
    vs <- Gen.listOfN(n, Gen.chooseNum(-5f, 5f))
    nullAt <- Gen.oneOf[Seq[Int]](
      Seq(Seq.empty[Int], Seq.empty[Int]) ++
        (if (n > 0) Seq(Seq(0), Seq(n - 1), Seq(n / 2), Seq(0, n - 1)) else Nil))
  } yield vs.zipWithIndex.map { case (v, i) =>
    if (nullAt.contains(i)) None else Some(v)
  }

  private def refDot(a: Seq[Option[Float]], b: Seq[Option[Float]]): Option[Double] =
    if (a.length != b.length || a.exists(_.isEmpty) || b.exists(_.isEmpty)) None
    else Some(a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
      acc + x.get.toDouble * y.get.toDouble })

  private def refSqDist(a: Seq[Option[Float]], b: Seq[Option[Float]]): Option[Double] =
    if (a.length != b.length || a.exists(_.isEmpty) || b.exists(_.isEmpty)) None
    else Some(a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
      val d = x.get.toDouble - y.get.toDouble; acc + d * d })

  private def checkKernels(rows: Array[org.apache.spark.sql.Row],
      data: Seq[(Long, Seq[Option[Float]], Seq[Option[Float]])]): Boolean =
    rows.sortBy(_.getLong(0)).zip(data.sortBy(_._1)).forall { case (r, (_, a, b)) =>
      val gotDot = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val gotSq = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      gotDot == refDot(a, b) && gotSq == refSqDist(a, b)
    }

  property("vector kernels propagate NULL exactly (unsafe rows, word boundaries)") =
    forAll(Gen.listOfN(6, Gen.zip(optVecGen, optVecGen))) { pairs =>
      val data = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      val df = data.toDF("id", "a", "b")
      val rows = df.select(col("id"),
          FloatDot.dot(col("a"), col("b")).as("dot"),
          FloatSqDist.sqDist(col("a"), col("b")).as("sq"))
        .collect()
      checkKernels(rows, data)
    }

  property("vector kernels propagate NULL exactly (parquet scan / columnar path)") =
    forAll(Gen.listOfN(4, Gen.zip(optVecGen, optVecGen))) { pairs =>
      val data = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      val path = java.nio.file.Files.createTempDirectory("graft_kern_").toString
      try {
        data.toDF("id", "a", "b").write.mode("overwrite").parquet(path)
        val rows = spark.read.parquet(path).select(col("id"),
            FloatDot.dot(col("a"), col("b")).as("dot"),
            FloatSqDist.sqDist(col("a"), col("b")).as("sq"))
          .collect()
        checkKernels(rows, data)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      }
    }

  // Reference is a Scala IEEE fold with the kernel's exact op order —
  // NOT the Column-level dot/(norm*norm) composition, whose division
  // can never express a zero-norm vector: under Spark 4's default ANSI
  // mode it THROWS DIVIDE_BY_ZERO, and with ANSI off Spark's Divide
  // returns NULL on a zero divisor. The fused kernel deliberately uses
  // IEEE double division (NaN/Inf, like the DuckDB list-fold oracle) —
  // a per-row crash class removed (vecAudit counts n_zero_norm for
  // exactly this hazard). On nonzero-norm null-free inputs the three
  // accumulators and final expression are the composition's, so values
  // are bit-identical there by construction; this property pins the
  // full semantics including zero-norm, ragged, and null cases.
  private def refCosine(a: Seq[Option[Float]], b: Seq[Option[Float]]): Option[Double] =
    if (a.length != b.length || a.exists(_.isEmpty) || b.exists(_.isEmpty)) None
    else {
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      a.zip(b).foreach { case (x, y) =>
        val xd = x.get.toDouble; val yd = y.get.toDouble
        ab += xd * yd; aa += xd * xd; bb += yd * yd
      }
      Some(ab / (math.sqrt(aa) * math.sqrt(bb)))
    }

  // int8 posting codes (the IVF scan path): float query side × tinyint
  // code side, same null/word-boundary coverage as the float pairs —
  // the byte getter must produce the exact doubles the old
  // cast("array<double>") produced.
  private val optByteVecGen: Gen[Seq[Option[Byte]]] = for {
    n <- Gen.oneOf(0, 1, 7, 63, 64, 65, 128)
    vs <- Gen.listOfN(n, Gen.chooseNum(-127, 127).map(_.toByte))
    nullAt <- Gen.oneOf[Seq[Int]](
      Seq(Seq.empty[Int], Seq.empty[Int]) ++
        (if (n > 0) Seq(Seq(0), Seq(n - 1), Seq(n / 2)) else Nil))
  } yield vs.zipWithIndex.map { case (v, i) =>
    if (nullAt.contains(i)) None else Some(v)
  }

  property("mixed float x tinyint kernels match the IEEE reference (IVF int8 scan path)") =
    forAll(Gen.listOfN(6, Gen.zip(optVecGen, optByteVecGen))) { pairs =>
      // align lengths half the time so non-null results actually occur
      val data = pairs.zipWithIndex.map { case ((a, b), i) =>
        val bAligned = if (i % 2 == 0 && a.length != b.length)
          Seq.tabulate(a.length)(j => b.lift(j).flatten.map(identity)) else b
        (i.toLong, a, bAligned)
      }
      val df = data.toDF("id", "a", "b")
      val rows = df.select(col("id"),
          FloatDot.dot(col("a"), col("b")).as("dot"),
          FloatCosine.cosine(col("a"), col("b")).as("cos"))
        .collect()
      def refB(a: Seq[Option[Float]], b: Seq[Option[Byte]]): (Option[Double], Option[Double]) =
        if (a.length != b.length || a.exists(_.isEmpty) || b.exists(_.isEmpty)) (None, None)
        else {
          var ab = 0.0; var aa = 0.0; var bb = 0.0
          a.zip(b).foreach { case (x, y) =>
            val xd = x.get.toDouble; val yd = y.get.toDouble
            ab += xd * yd; aa += xd * xd; bb += yd * yd
          }
          (Some(ab), Some(ab / (math.sqrt(aa) * math.sqrt(bb))))
        }
      rows.sortBy(_.getLong(0)).zip(data.sortBy(_._1)).forall { case (r, (_, a, b)) =>
        val (eDot, eCos) = refB(a, b)
        val gDot = if (r.isNullAt(1)) None else Some(r.getDouble(1))
        val gCos = if (r.isNullAt(2)) None else Some(r.getDouble(2))
        def same(g: Option[Double], e: Option[Double]) = (g, e) match {
          case (None, None) => true
          case (Some(x), Some(y)) =>
            java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
          case _ => false
        }
        same(gDot, eDot) && same(gCos, eCos)
      }
    }

  property("fused cosine kernel is bit-identical to the IEEE dot/norm reference") =
    forAll(Gen.listOfN(6, Gen.zip(optVecGen, optVecGen))) { pairs =>
      val data = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      val df = data.toDF("id", "a", "b")
      val rows = df.select(col("id"),
          FloatCosine.cosine(col("a"), col("b")).as("fused"))
        .collect()
      rows.sortBy(_.getLong(0)).zip(data.sortBy(_._1)).forall { case (r, (_, a, b)) =>
        val got = if (r.isNullAt(1)) None else Some(r.getDouble(1))
        (got, refCosine(a, b)) match {
          case (None, None) => true
          case (Some(g), Some(e)) =>
            java.lang.Double.doubleToLongBits(g) ==
              java.lang.Double.doubleToLongBits(e)
          case _ => false
        }
      }
    }

  property("shard assignment equals the naive prefix sum for random weights") =
    forAll(Gen.listOfN(40, Gen.chooseNum(0, 50))) { weights =>
      val df = weights.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "w")
      val got = graft.llm.Corpus.assignShards(df, "id", col("w"), 64L,
          orderBuckets = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val naive = weights.zipWithIndex
        .map { case (w, i) =>
          (i.toLong, w.toLong, math.floorMod(i.toLong * 2654435761L, 1048576L))
        }
        .sortBy(t => (t._3, t._1))
      var pre = 0L
      val expect = naive.map { case (id, w, _) =>
        val s = pre / 64L; pre += w; id -> s
      }.toMap
      got == expect
    }
}
