package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process (see perfbench/run.py, which
  * builds the classpath, launches this JVM and checks its outputs). */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, out: String, launchNs: Long, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("data"), m("out"), m.get("launch-ns").map(_.toLong).getOrElse(System.currentTimeMillis() * 1000000L),
      m.getOrElse("cores", "4").toInt)
  }
}

/** State of one benchmark run: the session, the op counters, the
  * metrics and the detail that go to `result.json`. */
final class Run(val args: Args, val spark: SparkSession, val sessionStartS: Double) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  /** Contract metrics: end-to-end (untraced) or per-layer (traced). */
  val metrics = mutable.LinkedHashMap[String, Double]()
  /** Per-workload metrics printed, with units, on the summary line. */
  val named = mutable.LinkedHashMap[String, Any]()
  val detail = mutable.LinkedHashMap[String, Any]()
  /** Batch queries whose verify-pass output run.py must hash. */
  val verify = mutable.ArrayBuffer[String]()
  private var setupS = Double.NaN

  def out(rel: String): String = s"${args.out}/$rel"

  /** Marks the end of set-up: the next operation is the first timed one. */
  def setupDone(): Unit =
    if (setupS.isNaN) setupS = (nowEpochNs() - args.launchNs) / 1e9

  def setup: Double = setupS

  def error(msg: String): Unit = {
    System.err.println(s"[perfbench] FAILURE $msg")
    if (errors.size < 50) errors += msg
  }

  /** Runs `body` on a worker thread under job group `group`, cancelling
    * the group after `timeoutS`. A throw or a timeout is logged and
    * returns None; the caller counts it as a failed operation. A worker
    * that outlives the cancel is abandoned: it can no longer report. */
  def guarded[T](group: String, timeoutS: Int = Run.TimeoutS)(body: => T): Option[T] = {
    val lock = new Object
    var abandoned = false
    var result: Option[Either[Throwable, T]] = None
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      val r = try Right(body) catch { case e: Throwable => Left(e) }
      spark.sparkContext.clearJobGroup()
      lock.synchronized { if (!abandoned) result = Some(r) }
    })
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutS * 1000L)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      worker.join(10000L)
      lock.synchronized { abandoned = true }
      spark.sharedState.cacheManager.clearCache()
      error(s"$group: timeout after ${timeoutS}s")
      None
    } else lock.synchronized(result) match {
      case Some(Right(v)) => Some(v)
      case Some(Left(e)) => error(s"$group: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      case None => error(s"$group: no result"); None
    }
  }

  def phase(p: String): Unit = spark.sparkContext.setLocalProperty(Trace.PhaseKey, p)

  def nowEpochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def result: Map[String, Any] = Map(
    "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
    "metrics" -> metrics.toMap, "named" -> named.toMap, "verify" -> verify.toSeq,
    "detail" -> detail.toMap)
}

object Run {
  /** Per-operation watchdog. */
  val TimeoutS = 60
}

object Main {
  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("oracle-sql")) { dumpOracleSql(argv(1)); return }
    val args = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(args.cores)
      .config("spark.local.dir", s"${args.out}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(args, spark, Stats.secondsSince(t0))
    try {
      args.workload match {
        case "curation" => Batch.run(run)
        case "cdc_ingest" => CdcIngest.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (!args.trace) run.metrics("peak_rss_mb") = Stats.peakRssMb()
      Json.write(run.out("result.json"), run.result)
    } finally spark.stop()
  }

  /** Writes the DuckDB oracle SQL of every batch workload query, keyed
    * by scale factor (input of perfbench/make_refs.py). */
  private def dumpOracleSql(path: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Json.write(path, Batch.workloads.values.groupBy(_.sf).map { case (sf, ws) =>
      sf -> ws.flatMap(_.queries).map(q => q -> sql(q)).toMap
    })
  }
}
