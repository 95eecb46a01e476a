package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame

/** The closed-loop batch workloads: one client runs every query of the
  * workload in a seeded order, each starting after the previous one
  * completed, for a fixed number of passes.
  *
  * Set-up: page-cache the inputs, then one untimed pass that writes
  * each query's result for run.py to check against its DuckDB
  * reference, and one untimed pass like the timed ones (together the
  * JIT warm-up). Timed passes: each query from its `SparkEntry.queries`
  * call to complete evaluation of every column into the `noop` sink,
  * behind an untimed System.gc() per pass and an untimed clearCache()
  * after every query. */
object Batch {

  final case class Workload(sf: String, queries: Seq[String], nominalPassS: Double)

  val workloads: Map[String, Workload] = Map(
    "curation" -> Workload("sf0.01", Seq("graph_lpa", "dedup_minhash"), 1.9))

  /** Timed passes for a run of `seconds`: fixed by the arguments alone. */
  def passes(w: Workload, seconds: Int): Int = math.max(2, math.round(seconds / w.nominalPassS).toInt)

  private def evalAll(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final case class Sample(query: String, pass: Int, s: Double)

  def run(run: Run): Unit = {
    val args = run.args
    val w = workloads(args.workload)
    val dir = s"${args.data}/${w.sf}"
    run.detail("sf") = w.sf
    val rnd = new scala.util.Random(args.seed)
    val spark = run.spark

    // set-up: page cache, then the verify pass
    val tw = System.nanoTime()
    val pageBytes = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).map(f => java.nio.file.Files.readAllBytes(f.toPath).length.toLong).sum
    for (q <- rnd.shuffle(w.queries)) {
      run.verify += q
      run.guarded(s"verify:$q") {
        run.phase("verify")
        graft.SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(run.out(s"verify/$q"))
      }
      spark.sharedState.cacheManager.clearCache()
    }
    // a second, untimed pass into the timed passes' own sink: the JIT
    // is still warming after the verify pass
    onePass(run, w, dir, rnd, 0, None)
    val warmupS = Stats.secondsSince(tw)
    run.setupDone()
    run.detail("page_cache_bytes") = pageBytes
    run.detail("session_start_s") = run.sessionStartS
    run.detail("warmup_s") = warmupS

    // untraced: n timed passes. Traced: the same n passes, traced in an
    // ABBA order (untraced, traced, traced, untraced, ...) so that the
    // JIT's warm-up trend cancels out of the tracing overhead.
    val n = passes(w, args.seconds)
    val trace = if (args.trace) Some(new Trace(spark)) else None
    val all = (1 to n).map { p =>
      val traced = trace.filter(_ => p % 4 == 2 || p % 4 == 3)
      traced.foreach(_.install())
      try onePass(run, w, dir, rnd, p, traced) finally traced.foreach(_.uninstall())
    }
    val (tracedPasses, plain) = all.partition(_.traced)
    val samples = plain.flatMap(_.samples)
    val perQuery = medians(samples)
    val wall = perQuery.values.sum
    val lat = samples.map(_.s)
    val p50 = Stats.median(lat)
    val tail = Stats.quantile(lat, Stats.TailQ)
    run.detail("passes") = all.map(_.summary)
    run.detail("samples") = samples.map(s => Map("query" -> s.query, "pass" -> s.pass, "s" -> s.s))
    run.detail("query_median_s") = perQuery
    run.detail("pass_median_s") = Stats.median(plain.flatMap(_.complete))
    run.named ++= Seq("setup_s" -> run.setup, "wall_s" -> wall,
      "query_p50_s" -> p50, "query_tail_s" -> tail, "query_tail_n" -> lat.size)

    trace match {
      case None =>
        run.metrics ++= Seq("setup_s" -> run.setup, "wall_s" -> wall,
          "latency_p50_s" -> p50, "latency_tail_s" -> tail)
      case Some(tr) =>
        val tracedWall = medians(tracedPasses.flatMap(_.samples)).values.sum
        val kernels = if (args.workload == "curation") Kernels.run(run, s"${args.data}/sf0.1") else Map.empty[String, Double]
        Layers.batch(run, tr, tr.spans, tracedPasses.size, run.sessionStartS, warmupS, kernels)
        run.metrics("trace.overhead") = tracedWall / wall - 1.0
        Layers.writeTrace(run, tr, Map("untraced_wall_s" -> wall, "traced_wall_s" -> tracedWall,
          "tracing_overhead" -> (tracedWall / wall - 1.0)))
    }
  }

  /** Per query, the median of its samples. */
  private def medians(samples: Seq[Sample]): Map[String, Double] =
    samples.groupBy(_.query).map { case (q, ss) => q -> Stats.median(ss.map(_.s)) }

  final case class Pass(traced: Boolean, complete: Option[Double], samples: Seq[Sample], summary: Map[String, Any])

  /** One pass: every query once in a seeded order. `complete` is the
    * pass time (sum of query times) when every query succeeded. */
  private def onePass(run: Run, w: Workload, dir: String, rnd: scala.util.Random, p: Int,
                      trace: Option[Trace]): Pass = {
    val spark = run.spark
    System.gc()
    spark.sharedState.cacheManager.clearCache()
    val ticks0 = Stats.cpuTicks()
    val samples = mutable.ArrayBuffer[Sample]()
    var ok = true
    for (q <- rnd.shuffle(w.queries)) {
      run.attempted += 1
      val id = s"pass$p:$q"
      val span = trace.map(_.open(id))
      val t = run.guarded(id) {
        val fn = graft.SparkEntry.queries(q)
        run.phase("call")
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        if (trace.nonEmpty) { run.phase("plan"); df.queryExecution.executedPlan }
        val t2 = System.nanoTime()
        run.phase("exec")
        evalAll(df)
        val t3 = System.nanoTime()
        (t1 - t0, t2 - t1, t3 - t2)
      }
      for (tr <- trace; s <- span) {
        s.cacheEntriesLeft = org.apache.spark.sql.PerfbenchBridge.cachedEntries(spark)
        t.foreach { case (c, pl, e) => s.phaseS ++= Seq("call" -> c / 1e9, "plan" -> pl / 1e9, "exec" -> e / 1e9) }
        tr.close(s)
      }
      t match {
        case Some((c, pl, e)) => samples += Sample(q, p, (c + pl + e) / 1e9)
        case None => run.failed += 1; ok = false
      }
      spark.sharedState.cacheManager.clearCache()
    }
    val passS = samples.map(_.s).sum
    val steal = Stats.stealPct(ticks0, Stats.cpuTicks())
    System.err.println(f"[perfbench] pass $p%d ${if (trace.nonEmpty) "traced" else "untraced"} $passS%.3f s steal $steal%.1f%%")
    Pass(trace.nonEmpty, if (ok) Some(passS) else None, samples.toSeq,
      Map("pass" -> p, "traced" -> trace.nonEmpty, "s" -> passS, "steal_pct" -> steal, "complete" -> ok))
  }
}
