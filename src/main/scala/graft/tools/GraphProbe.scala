package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.Measure.{median, num, timed}
import graft.graph.{CodeNode, GraphManifest, GraphRunner, NodeContext, Packaging}
import graft.llm.Corpus

/** Graph-layer end-to-end scale probe (SCALING.md evidence for §2.4):
  * every prior SCALING row times a single operator plan; this one
  * drives the l125 curation chain THROUGH the whole orchestration
  * stack — component zip packaging, `uses:` registry resolution,
  * graph compile/validation, topo-wave scheduling across two nodes,
  * versioned catalog commits, update signals — against the same
  * corpus, and compares it with the bare fused plans writing plain
  * parquet.
  *
  * The claim under test: orchestration overhead is a CONSTANT atop the
  * fused-plan time (validation + zip resolve + wave scheduling +
  * version pointer swaps are O(graph), not O(data)), so
  * `graph_s − fused_s` should stay flat while the corpus grows 100×.
  *
  * Usage: runMain graft.tools.GraphProbe [corpusDir] [runs]
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val a = new ProbeArgs(args, "GraphProbe", "corpusDir", "runs")
    val corpusDir = a(0, "/root/testdata/sf0.1")
    val runs = a.count(1, 3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docsRows = graft.Fixtures.table(spark, corpusDir, "documents").count()

    val dirs = new TempDirs

    def corpusAndBench(dir: String) = {
      val docs = graft.Fixtures.table(spark, dir, "documents")
        .select("doc_id", "text")
      (docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }

    // the two stages the component runs, shared verbatim by the fused
    // baseline so both paths execute identical Spark work
    def curate(dir: String) = {
      val (corpus, bench) = corpusAndBench(dir)
      Corpus.curationPipeline(corpus, bench, "doc_id", "text")
    }
    def summarize(dispo: org.apache.spark.sql.DataFrame) =
      dispo.groupBy("disposition").agg(count(lit(1)).as("n_docs"))

    val codeNodes: Map[String, CodeNode] = Map(
      "curate.scala" -> new CodeNode {
        def run(ctx: NodeContext): Unit = {
          val out = ctx.table("out")
          out.replace(curate(ctx.parameter[String]("dir")))
          out.flush()
        }
      },
      "summary.scala" -> new CodeNode {
        def run(ctx: NodeContext): Unit = {
          val out = ctx.table("out")
          out.replace(summarize(ctx.table("dispo").read))
          out.flush()
        }
      })

    /** Author the component, zip it into a registry, return a resolver. */
    def packagedResolver(): String => Option[GraphManifest] = {
      val comp = dirs.fresh("graphprobe-comp")
      Files.writeString(Paths.get(comp, "graph.yml"),
        s"""title: curation chain
           |functions:
           |  - node_file: curate.scala
           |    id: curate001
           |    outputs: {out: dispositions}
           |    parameters: {dir: $corpusDir}
           |  - node_file: summary.scala
           |    id: summry001
           |    inputs: {dispo: dispositions}
           |    outputs: {out: dispo_counts}
           |stores:
           |  - table: dispositions
           |""".stripMargin)
      val registry = dirs.fresh("graphprobe-reg")
      Files.createDirectories(Paths.get(registry, "acme", "curation"))
      Packaging.packageGraphTo(comp, s"$registry/acme/curation/v1.zip")
      Packaging.componentResolverFromZips(registry)
    }

    // ---- fused baseline: identical plans, plain parquet sinks --------
    val fusedS = median((1 to runs).map { _ =>
      val out = dirs.fresh("graphprobe-fused")
      timed {
        val dispo = curate(corpusDir)
        dispo.write.mode("overwrite").parquet(s"$out/dispositions.parquet")
        summarize(spark.read.parquet(s"$out/dispositions.parquet"))
          .write.mode("overwrite").parquet(s"$out/dispo_counts.parquet")
      }
    })

    // ---- full graph path: package + resolve + compile + run ----------
    var rowsOut = 0L
    val graphS = median((1 to runs).map { _ =>
      val host = dirs.fresh("graphprobe-host")
      Files.writeString(Paths.get(host, "graph.yml"),
        """functions:
          |  - uses: acme/curation@v1
          |    id: chain0001
          |stores:
          |  - table: dispositions
          |  - table: dispo_counts
          |""".stripMargin)
      val wh = dirs.fresh("graphprobe-wh")
      timed {
        val resolver = packagedResolver()
        val runner = new GraphRunner(spark, GraphManifest.load(host), wh,
          codeNodes = codeNodes, componentResolver = resolver)
        val errs = runner.validate()
        require(errs.isEmpty, s"graph validation: ${errs.mkString("; ")}")
        runner.run()
        rowsOut = runner.tableHandle("dispositions").read.count()
      }
    })

    try {
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
      println(s"""{"probe":"graph_e2e","corpus":"$corpusDir","docs_rows":$docsRows,"dispo_rows":$rowsOut,"runs":$runs,"fused_s":${num(fusedS)},"graph_s":${num(graphS)},"overhead_s":${num(graphS - fusedS)}}""")
      System.out.flush()
    } finally dirs.deleteAll()
  }
}
