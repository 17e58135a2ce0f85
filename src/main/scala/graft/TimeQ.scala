package graft

/** Dev tool: time individual queries (steady-state, N reps) so a
  * perf change can be measured in isolation instead of re-running the
  * whole bench, on Bench's session settings and warmup input.
  * Usage: runMain graft.TimeQ q_pagerank [q_x ...] */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.local()
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_pricing_summary")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, Bench.WarmupDir).count() // plan/codegen warmup
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-28s min=${times.min}%6.3f  med=${times.sorted.apply(reps / 2)}%6.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
