package graft.tools

import java.util.concurrent.{Executors, TimeUnit}

/** Concurrent-execution probe: N threads race registry queries through
  * ONE SparkSession — the multi-tenant / notebook-server shape (Spark
  * sessions are explicitly thread-safe; the engine's own driver-side
  * state must be too). Races this hunts: the sharedFrame /
  * mediaPayloads / fixture memoization (ConcurrentHashMap
  * computeIfAbsent building Spark plans), GraftExtensions.register's
  * check-then-register, Fixtures.registerAll's idempotence latch, and
  * any hidden mutable state in operator builders.
  *
  * Every query must return the same row count it returns single-
  * threaded, across every round. Heavy engine-demo entries (own
  * temp warehouses) are excluded — TableHandle/StreamCursor
  * concurrency has its own property specs.
  *
  * Run: sbt "runMain graft.tools.ConcurrencyProbe [threads] [rounds]"
  */
object ConcurrencyProbe {
  def main(args: Array[String]): Unit = {
    val a = new ProbeArgs(args, "ConcurrencyProbe", "threads", "rounds")
    val nThreads = a.count(0, 8)
    val rounds = a.count(1, 3)
    val spark = graft.Sessions.local("16").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    val excluded = Set("s05_upsert", "t01_stream_seek", "g01_graph_slice",
      "l49_bpe_train", "l108_unigram_train", "l109_unigram_encode")
    val specs = graft.SparkEntry.registry.filterNot(q => excluded(q.name))

    // single-threaded baseline counts
    val baseline = specs.map(q => q.name -> q.run(spark, sf).count()).toMap
    println(s"[conc] baseline: ${baseline.size} queries")

    val pool = Executors.newFixedThreadPool(nThreads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    (1 to rounds).foreach { r =>
      val dt = graft.Measure.timed {
        val tasks = scala.util.Random.shuffle(specs).map { q =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try {
                val n = q.run(spark, sf).count()
                if (n != baseline(q.name))
                  failures.add(s"${q.name}: got $n rows, single-threaded ${baseline(q.name)}")
              } catch { case e: Throwable =>
                failures.add(s"${q.name}: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").take(120)}")
              }
          })
        }
        tasks.foreach(_.get())
      }
      println(f"[conc] round $r: ${specs.size} queries x $nThreads threads, $dt%.1f s, failures so far: ${failures.size()}")
    }
    pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
    failures.forEach(f => println(s"  FAIL $f"))
    spark.stop()
    if (!failures.isEmpty) sys.exit(1)
  }
}
