package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Workload `query_suite`: a fixed, named subset of SparkEntry.queries on
  * seeded synthetic tables, each query warmed before the timed window.
  * The subset samples the slowest rows of graft.Bench (BENCH_r14.json)
  * and its driver-collect fusion targets, and takes all the
  * queries over the reference's own surface (Avro, routing, DLQ, retry).
  * Job-floor, shuffle and driver-collect changes show here; the stream
  * layers barely appear. The warm-up run of each query writes its result
  * and the run writes oracle_sql.json beside them, as graft.Verify does;
  * run.py checks them with tools/check_oracle.py after the JVM exits. */
object QuerySuite {
  /** Two of the fifteen slowest bench rows: grouped quantiles and
    * prefix-filtered similarity. The iterative kernels (graph
    * components, dedup clustering, shortest paths) cost 1-2 s each even
    * on small tables and run a data-dependent number of jobs, which a
    * run's time budget and the run-to-run spread cannot carry. */
  val SlowRows = Seq("q_weighted_median", "q_jaccard_prefix")
  /** Four of the queries whose driver-side collects are fusion targets
    * (0.7-1.1 s and 3-10 jobs each on the sf0.1 bench). */
  val CollectFusionTargets = Seq("q_borda", "q_set_cover", "q_lof", "q_qcd")
  val ReferenceSurface = Seq("q_avro_roundtrip", "q_route", "q_dlq_enrich", "q_retry_ledger",
    "q_avro_confluent")
  val Names: Seq[String] = SlowRows ++ CollectFusionTargets ++ ReferenceSurface

  /** Table scale: lineitem = 6M x ScaleFactor rows. The tables are
    * generated because a run reads nothing outside its checkout. At
    * sf 0.01-0.02 a pass costs 5-6 s on local[4] and the passes a run can
    * afford left a run-to-run spread near 20%; at this scale the queries
    * run mostly at their job and driver floor, which this workload is
    * for. */
  val ScaleFactor = 0.002
  /** Untimed runs of each query's timed action before the passes: the
    * driver-side code (planning, codegen, collects) dominates at this
    * scale, and its JIT is still settling after one run. */
  val WarmCounts = 2
  /** --seconds / PassSecs passes (at least four) are timed, a count fixed
    * by the run length alone; a pass takes 3-4 s on local[4]. */
  val PassSecs = 2.0

  def run(spark: SparkSession, spec: RunSpec, tracer: Tracer, sl: SparkLayer, r: Result): Unit = {
    val sf = if (spec.tiny) 0.0005 else ScaleFactor
    val reps = if (spec.tiny) 2 else 3
    var sizes = Map.empty[String, Long]
    val setup = (0 until reps).map { k =>
      Clock.timed { sizes = Tables.write(spark, spec.seed, sf, spec.dir(s"tables-$k")) }._2
    }
    r.e2e("setup_s") = Metric(Stats.median(setup), "s", reps, "median of table generation")
    (0 until reps - 1).foreach(k => r.discard(spec.dir(s"tables-$k")))
    r.phase("setup")
    val dir = spec.dir(s"tables-${reps - 1}")
    r.inputs ++= Seq("scale_factor" -> sf, "queries" -> Names.size) ++
      sizes.toSeq.sortBy(_._1).map { case (t, n) => s"rows.$t" -> n }

    val fns = Names.flatMap { n =>
      val fn = SparkEntry.queries.get(n)
      if (fn.isEmpty) r.fail(s"$n is not in SparkEntry.queries")
      fn.map(n -> _)
    }
    def scrub(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // warm-up, outside the timed window: each query writes its result for
    // the oracle check, as graft.Verify writes them, then runs the timed
    // action (as graft.Bench warms), so the timed passes reuse its
    // generated code
    val out = spec.dir("results")
    val broken = scala.collection.mutable.Set.empty[String]
    fns.foreach { case (n, fn) =>
      try {
        fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        (1 to WarmCounts).foreach { _ => scrub(); fn(spark, dir).count() }
      } catch { case e: Exception => broken += n; r.fail(s"$n failed in warm-up: $e") }
      scrub()
    }
    System.gc()
    r.phase("warm-up")

    val passes = math.max(4, math.round(spec.seconds / PassSecs).toInt)
    val samples = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val passSecs = (1 to passes).map { _ =>
      val t = fns.filterNot(x => broken(x._1)).map { case (n, fn) =>
        val (ok, t) = Clock.timed(try { fn(spark, dir).count(); true } catch {
          case e: Exception => r.fail(s"$n failed: $e"); false
        })
        if (ok) samples += n -> t
        scrub()
        t
      }.sum
      System.gc()
      t
    }
    r.attempted = passes.toLong * fns.size
    val times = samples.map(_._2).toSeq
    val perQuery = samples.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).min }
    val (tailPct, tailVal) = Stats.tail(times)
    val pass = Metric(Stats.median(passSecs), "s", passes, s"one pass over ${fns.size} queries, median")
    r.e2e("suite_s") = Metric(perQuery.values.sum, "s", passes,
      s"sum over ${perQuery.size} queries of each one's minimum over $passes passes")
    r.e2e("pass_s_p50") = pass
    r.e2e("query_s_p50") = Metric(Stats.median(times), "s", times.size, "query time, median")
    r.e2e("query_s_tail") = Metric(tailVal, "s", times.size,
      s"query time, ${Stats.tailLabel(tailPct)}")
    // throughput rests on each query's best time over the passes, which
    // a busy host disturbs least; the step is one query run
    r.headline ++= Seq(
      "work_per_s" -> Metric(perQuery.size / perQuery.values.sum, "1/s", perQuery.size,
        "queries / suite_s"),
      "step_s_p50" -> r.e2e("query_s_p50"))
    r.note("pass times: " + passSecs.map(t => f"$t%.3f").mkString(" ") + " s")
    perQuery.toSeq.sortBy(-_._2).foreach { case (n, s) => r.note(f"$n%-22s $s%.3f s") }
    r.phase("timed passes")

    Disk.write(s"$out/oracle_sql.json",
      Json(fns.map(_._1).filterNot(broken).map(n => n -> SparkEntry.oracleSql(n)).toMap))
    r.oracle = Some(Map("tables" -> dir, "results" -> out))

    if (spec.trace) traced(spark, tracer, sl, r, dir, fns.filterNot(x => broken(x._1)), pass.value)
  }

  /** One more pass with construct / plan / execute timed apart. */
  private def traced(spark: SparkSession, tracer: Tracer, sl: SparkLayer, r: Result,
      dir: String, fns: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      plainPass: Double): Unit = {
    var construct, plan, exec = 0.0
    sl.reset(); sl.armed = true
    tracer.span("suite.pass") { pass =>
      fns.foreach { case (n, fn) =>
        tracer.span("query", pass, attrs = Map("query" -> n)) { q =>
          val (df, tc) = Clock.timed(tracer.span("query.construct", q) { id =>
            tracer.inJobGroup(spark.sparkContext, id)(fn(spark, dir))
          })
          val agg = df.groupBy().count()
          val (_, tp) = Clock.timed(tracer.span("query.plan", q)(_ => agg.queryExecution.executedPlan))
          val (_, te) = Clock.timed(tracer.span("query.exec", q) { id =>
            tracer.inJobGroup(spark.sparkContext, id)(agg.collect())
          })
          construct += tc; plan += tp; exec += te
        }
        spark.catalog.clearCache()
      }
    }
    sl.armed = false
    val total = construct + plan + exec
    r.layers ++= sl.metrics ++ Map(
      "queries.construct_s" -> Metric(construct, "s", fns.size, "sum over the subset"),
      "queries.plan_s" -> Metric(plan, "s", fns.size, "sum over the subset"),
      "queries.exec_s" -> Metric(exec, "s", fns.size, "sum over the subset"),
      "queries.jobs_per_query" -> Metric(sl.jobs.get.toDouble / math.max(1, fns.size), "count", fns.size),
      "trace.overhead_frac" -> Metric(total / plainPass - 1.0, "ratio", 1,
        "traced pass / untraced median pass - 1"))
  }
}
