package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.cdc.Cdc
import graft.streaming.{CdcStream, FileBus}

/** The paper's pipeline on the write path: a seeded generator writes
  * Debezium envelopes into a `FileBus`, `CdcStream.ingestTopics` routes
  * them into per-table changelogs, and `Cdc.materialize` derives each
  * table's current state.
  *
  *  - catch-up: drain the staged backlog (replay from earliest) with a
  *    fresh checkpoint, then materialize every table; closed loop,
  *    repeated `Cycles` times after one untimed warm-up cycle.
  *  - live: the last cycle's stream keeps running while a generator
  *    thread writes at one fixed rate, open loop, stamping each file
  *    at its scheduled creation time.
  *  - snapshot: materialize every table over the whole changelog and
  *    check it against the generator's own expected-state model.
  */
object CdcIngest {
  final case class Table(name: String, keys: Seq[String], schema: StructType, keySpace: Int)

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Three tables with different schemas; order_lines has a composite key. */
  val tables: IndexedSeq[Table] = IndexedSeq(
    Table("customers", Seq("customer_id"), schema("customer_id" -> LongType, "name" -> StringType,
      "tier" -> StringType, "balance" -> DoubleType, "lsn" -> LongType), 1000),
    Table("orders", Seq("order_id"), schema("order_id" -> LongType, "customer_id" -> LongType,
      "status" -> StringType, "amount" -> DoubleType, "lsn" -> LongType), 2000),
    Table("order_lines", Seq("order_id", "line_no"), schema("order_id" -> LongType,
      "line_no" -> IntegerType, "sku" -> StringType, "qty" -> IntegerType, "price" -> DoubleType,
      "lsn" -> LongType), 4000))

  /** A topic whose envelopes name a table with no registered schema. */
  val Unregistered = "audit"
  val TopicGlob = "shop.*"
  def topic(table: String): String = s"shop.$table"

  val schemas: Map[String, StructType] = tables.map(t => t.name -> t.schema).toMap

  /** Envelopes per second in the live phase, frozen well below the
    * catch-up throughput of the seed code so the backlog stays flat. */
  val LiveRate = 500
  val TickMs = 200
  val BacklogChanges = 7000
  val BacklogFileLines = 1000
  val Cycles = 4
  val BadShare = 0.004
  val AuditShare = 0.01

  // ---------------------------------------------------------------- generator

  /** Seeded envelope generator plus the expected-state model, kept in
    * plain collections: per table, key -> (row values, last op, number
    * of changes). Every line it emits is accounted for: valid envelopes
    * by their `lsn` (the log sequence field that orders changes), the
    * rest as the exact raw lines the dead-letter output must hold. */
  final class Generator(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val perm = tables.map(t => shuffled(t.keySpace))
    private val cdf = tables.map(t => zipfCdf(t.keySpace, 1.1))
    val state: IndexedSeq[mutable.HashMap[Int, (Seq[Any], String)]] = tables.map(_ => mutable.HashMap[Int, (Seq[Any], String)]())
    val changes: IndexedSeq[mutable.HashMap[Int, Int]] = tables.map(_ => mutable.HashMap[Int, Int]())
    /** lsn - 1 -> (table index, key index) */
    val lsnTable = mutable.ArrayBuffer[Byte]()
    val lsnKey = mutable.ArrayBuffer[Int]()
    val bad = mutable.ArrayBuffer[String]()
    var audits = 0L
    private var lsn = 0L

    private def shuffled(n: Int): Array[Int] = {
      val a = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }
      a
    }

    private def zipfCdf(n: Int, s: Double): Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }

    private def zipfKey(t: Int): Int = {
      val i = java.util.Arrays.binarySearch(cdf(t), rnd.nextDouble())
      perm(t)(math.min(if (i >= 0) i else -i - 1, cdf(t).length - 1))
    }

    private def cents(max: Int): Double = rnd.nextInt(max) / 100.0

    private def row(t: Int, k: Int, l: Long): Seq[Any] = t match {
      case 0 => Seq(k.toLong, s"c$k-${rnd.nextInt(1000)}", Seq("gold", "silver", "basic")(rnd.nextInt(3)), cents(10000000), l)
      case 1 => Seq(k.toLong, rnd.nextInt(1000).toLong, Seq("new", "paid", "shipped", "closed")(rnd.nextInt(4)), cents(5000000), l)
      case _ => Seq((k / 4).toLong, k % 4 + 1, s"sku-${rnd.nextInt(500)}", 1 + rnd.nextInt(9), cents(100000), l)
    }

    private def json(t: Int, values: Seq[Any]): String =
      tables(t).schema.fields.zip(values).map { case (f, v) =>
        Json.str(f.name) + ":" + (v match { case s: String => Json.str(s); case x => x.toString })
      }.mkString("{", ",", "}")

    private def envelope(table: String, op: String, before: String, after: String, stampMs: Long): String =
      s"""{"payload":{"before":$before,"after":$after,"op":"$op","ts_ms":$stampMs,""" +
        s""""source":{"db":"shop","schema":"public","table":"$table"}}}"""

    private def emit(t: Int, k: Int, op: String, stampMs: Long): (String, String) = {
      lsn += 1
      lsnTable += t.toByte
      lsnKey += k
      changes(t)(k) = changes(t).getOrElse(k, 0) + 1
      val line = if (op == "d") {
        val before = state(t)(k)._1.updated(tables(t).schema.size - 1, lsn)
        state(t).remove(k)
        envelope(tables(t).name, op, json(t, before), "null", stampMs)
      } else {
        val r = row(t, k, lsn)
        state(t)(k) = (r, op)
        envelope(tables(t).name, op, "null", json(t, r), stampMs)
      }
      topic(tables(t).name) -> line
    }

    /** Initial-snapshot `r` rows: half of every table's key space. */
    def snapshotRows(stampMs: Long): Seq[(String, String)] =
      tables.indices.flatMap(t => perm(t).take(tables(t).keySpace / 2).toSeq.map(k => emit(t, k, "r", stampMs)))

    /** One line: mostly a c/u/d change on a Zipf-skewed key; a small
      * share of malformed lines and of envelopes for the unregistered
      * table. */
    def next(stampMs: Long): (String, String) = {
      val u = rnd.nextDouble()
      if (u < BadShare) {
        val n = bad.size
        val line = if (n % 2 == 0) s"""{"payload":{"op":"u","after":{"customer_id":$n,"name":"""
                   else s"""{"heartbeat":$n}"""
        bad += line
        topic(tables(n % tables.size).name) -> line
      } else if (u < BadShare + AuditShare) {
        audits += 1
        val line = envelope(Unregistered, "c", "null", s"""{"event_id":$audits,"actor":"u${rnd.nextInt(50)}"}""", stampMs)
        bad += line
        topic(Unregistered) -> line
      } else {
        val t = { val x = rnd.nextDouble(); if (x < 0.3) 0 else if (x < 0.6) 1 else 2 }
        val k = zipfKey(t)
        val op = if (!state(t).contains(k)) "c" else if (rnd.nextDouble() < 0.2) "d" else "u"
        emit(t, k, op, stampMs)
      }
    }

    def validLines: Long = lsn
    def validPerTable: IndexedSeq[Long] = tables.indices.map(t => lsnTable.count(_ == t).toLong)
  }

  // ---------------------------------------------------------------- bus

  /** Writes whole files into topic directories: each file is written
    * under a hidden staging name and renamed, so the stream never lists
    * a partial file. */
  final class Bus(val dir: String) {
    private var seq = 0
    var bytes = 0L
    /** relative path -> (lines, scheduled stamp in epoch ns) */
    val files = mutable.LinkedHashMap[String, (Int, Long)]()
    Files.createDirectories(Paths.get(dir, ".staging"))

    def write(lines: Seq[(String, String)], stampNs: Long): Unit =
      lines.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (tp, ls) =>
        seq += 1
        val name = f"$seq%06d.json"
        val tmp = Paths.get(dir, ".staging", name)
        val body = ls.map(_._2).mkString("", "\n", "\n").getBytes("UTF-8")
        Files.write(tmp, body)
        Files.createDirectories(Paths.get(dir, tp))
        Files.move(tmp, Paths.get(dir, tp, name), StandardCopyOption.ATOMIC_MOVE)
        bytes += body.length
        files(s"$tp/$name") = (ls.size, stampNs)
      }
  }

  // ---------------------------------------------------------------- phases

  final case class Cycle(traced: Boolean, catchupS: Double, snapshotS: Double)

  private def routes: Map[String, Cdc.TableRoute] =
    tables.map(t => t.name -> Cdc.TableRoute(t.keys, "lsn")).toMap

  private def materializeAll(run: Run, sink: String): Map[String, DataFrame] =
    tables.map(t => t.name -> Cdc.materialize(run.spark.read.parquet(s"$sink/${t.name}"), routes(t.name))).toMap

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(run: Run): Unit = {
    val args = run.args
    val spark = run.spark

    // set-up: stage the backlog, then warm the ingest and snapshot paths
    // with one untimed catch-up cycle over it into a throwaway sink
    val tw = System.nanoTime()
    val gen = new Generator(args.seed)
    val bus = new Bus(run.out("cdc/bus"))
    val stamp0 = run.nowEpochNs()
    val backlog = gen.snapshotRows(stamp0 / 1000000L) ++ Seq.fill(BacklogChanges)(gen.next(stamp0 / 1000000L))
    backlog.grouped(BacklogFileLines).foreach(b => bus.write(b, stamp0))
    val backlogLines = backlog.size
    val backlogValid = gen.validPerTable
    val backlogBad = gen.bad.size
    run.guarded("warmup") {
      val q = CdcStream.ingestTopics(spark, FileBus(bus.dir, TopicGlob), schemas,
        run.out("cdc/warm/sink"), run.out("cdc/warm/ckpt"))
      try q.processAllAvailable() finally q.stop()
      materializeAll(run, run.out("cdc/warm/sink")).values.foreach(noop)
    }.getOrElse(run.failed += 1)
    val warmupS = Stats.secondsSince(tw)
    run.detail("backlog_lines") = backlogLines
    run.detail("session_start_s") = run.sessionStartS
    run.detail("warmup_s") = warmupS
    run.setupDone()

    val liveS = math.max(2.0, args.seconds * 0.8)
    val cycles = mutable.ArrayBuffer[Cycle]()

    /** One catch-up-and-snapshot cycle on a fresh checkpoint; with
      * `withLive` the stream then stays up for the live phase, and the
      * cycle returns its sink, checkpoint and live-phase record. */
    def cycle(k: Int, withLive: Boolean, trace: Option[Trace]): Option[(String, String, Map[String, Any])] = {
      val sink = run.out(s"cdc/c$k/sink")
      val ckpt = run.out(s"cdc/c$k/ckpt")
      run.attempted += backlogLines
      val sCatch = trace.map(_.open(s"cycle$k:catchup"))
      val t0 = System.nanoTime()
      val q = CdcStream.ingestTopics(spark, FileBus(bus.dir, TopicGlob), schemas, sink, ckpt)
      try {
        q.processAllAvailable()
        val catchS = Stats.secondsSince(t0)
        for (tr <- trace; s <- sCatch) { s.phaseS("stream") = catchS; tr.close(s) }
        val sSnap = trace.map(_.open(s"cycle$k:snapshot"))
        val t1 = System.nanoTime()
        run.phase("exec")
        materializeAll(run, sink).values.foreach(noop)
        val snapS = Stats.secondsSince(t1)
        for (tr <- trace; s <- sSnap) { s.phaseS("exec") = snapS; tr.close(s) }
        cycles += Cycle(trace.nonEmpty, catchS, snapS)
        System.err.println(f"[perfbench] cycle $k catch-up $catchS%.3f s snapshot $snapS%.3f s")
        if (withLive) Some((sink, ckpt, runLive(run, gen, bus, q, liveS, trace)))
        else {
          // a count check per cycle: every backlog line once, in a table or the dead letter
          val counts = tables.map(t => spark.read.parquet(s"$sink/${t.name}").count())
          val dead = spark.read.parquet(s"$sink/_dead_letter").count()
          val diff = counts.zip(backlogValid).map { case (a, b) => math.abs(a - b) }.sum + math.abs(dead - backlogBad)
          if (diff != 0) { run.failed += diff; run.error(s"cycle $k: $diff lines missing or duplicated") }
          None
        }
      } finally q.stop()
    }

    // untraced: `Cycles` cycles. Traced: the same cycles, traced in an
    // ABBA order (traced, untraced, untraced, traced) so the warm-up
    // trend cancels out of the tracing overhead. The last cycle carries
    // the live phase; in a traced run it is traced.
    val trace = if (args.trace) Some(new Trace(spark)) else None
    val (finalSink, liveCkpt, liveRun) = (1 to Cycles).flatMap { k =>
      val last = k == Cycles
      val tr = trace.filter(_ => k == 1 || last)
      tr.foreach(_.install())
      try cycle(k, withLive = last, tr) finally if (!last) tr.foreach(_.uninstall())
    }.head

    // live freshness: scheduled stamp -> commit of the micro-batch that carried it
    val fileBatch = batchOfFiles(liveCkpt)
    val commits = commitTimes(liveCkpt)
    val liveFiles = liveRun("files").asInstanceOf[Seq[String]]
    val freshness = liveFiles.flatMap { f =>
      val (lines, stamp) = bus.files(f)
      fileBatch.get(f).flatMap(commits.get) match {
        case Some(c) => Seq.fill(lines)((c - stamp) / 1e9)
        case None => run.error(s"live file $f was never committed"); Seq.empty
      }
    }

    // final snapshot over the whole changelog, then the exactness checks
    val sFinal = trace.map(_.open("final:snapshot"))
    val tf = System.nanoTime()
    val snaps = materializeAll(run, finalSink)
    snaps.values.foreach(noop)
    val finalSnapS = Stats.secondsSince(tf)
    for (tr <- trace; s <- sFinal) { s.phaseS("exec") = finalSnapS; tr.close(s) }
    run.attempted += gen.validLines + gen.bad.size - backlogLines
    val failedLines = check(run, gen, finalSink, snaps)
    run.failed += failedLines

    val plain = cycles.filterNot(_.traced).toSeq
    val wall = Stats.median(plain.map(c => c.catchupS + c.snapshotS))
    val catchupRate = backlogLines / Stats.median(plain.map(_.catchupS))
    val snapshotS = Stats.median(plain.map(_.snapshotS))
    run.detail("cycles") = cycles.map(c => Map("traced" -> c.traced, "catchup_s" -> c.catchupS, "snapshot_s" -> c.snapshotS))
    run.detail("live") = liveRun - "files"
    run.detail("final_snapshot_s") = finalSnapS
    run.detail("freshness_n") = freshness.size
    run.named ++= Seq("setup_s" -> run.setup, "wall_s" -> wall, "catchup_rows_per_s" -> catchupRate,
      "freshness_p50_s" -> (if (freshness.isEmpty) Double.NaN else Stats.median(freshness)),
      "freshness_tail_s" -> (if (freshness.isEmpty) Double.NaN else Stats.quantile(freshness, Stats.TailQ)),
      "freshness_tail_n" -> freshness.size, "snapshot_s" -> snapshotS)

    trace match {
      case None =>
        run.metrics ++= Seq("setup_s" -> run.setup, "wall_s" -> wall,
          "latency_p50_s" -> run.named("freshness_p50_s").asInstanceOf[Double],
          "latency_tail_s" -> run.named("freshness_tail_s").asInstanceOf[Double])
      case Some(tr) =>
        val parseRate = parsePass(run, bus)
        tr.uninstall()
        val traced = cycles.filter(_.traced).toSeq
        val tracedWall = Stats.median(traced.map(c => c.catchupS + c.snapshotS))
        val m = run.metrics
        m("session.start_s") = run.sessionStartS
        m("session.warmup_s") = warmupS
        Layers.execution(run, tr, tr.spans.filter(_.id.startsWith("cycle")), traced.size)
        m("cdc.parse_rows_per_s") = parseRate
        m("cdc.materialize_s") = Stats.median(traced.map(_.snapshotS))
        m("cdc.routed_rows") = tables.map(t => spark.read.parquet(s"$finalSink/${t.name}").count()).sum.toDouble
        m("cdc.dead_letter_rows") = spark.read.parquet(s"$finalSink/_dead_letter").count().toDouble
        streamingLayer(run, tr, bus, finalSink, liveCkpt, liveRun)
        m("trace.overhead") = tracedWall / wall - 1.0
        Layers.fill(run)
        Layers.writeTrace(run, tr, Map("untraced_wall_s" -> wall, "traced_wall_s" -> tracedWall,
          "tracing_overhead" -> (tracedWall / wall - 1.0)))
    }
  }

  /** Open-loop live phase: one generator thread writes a file per topic
    * every tick at `LiveRate` envelopes per second, stamped with the
    * tick's scheduled time; lateness is how far behind schedule a
    * tick's files landed. Returns once every live file is committed. */
  private def runLive(run: Run, gen: Generator, bus: Bus, q: org.apache.spark.sql.streaming.StreamingQuery,
                      seconds: Double, trace: Option[Trace]): Map[String, Any] = {
    val span = trace.map(_.open("live"))
    val ticks = math.round(seconds * 1000 / TickMs).toInt
    val perTick = LiveRate * TickMs / 1000
    val files = mutable.ArrayBuffer[String]()
    var lateMaxNs = 0L
    val start = run.nowEpochNs() + 200L * 1000000L
    val writer = new Thread(() => {
      for (i <- 0 until ticks) {
        val due = start + i.toLong * TickMs * 1000000L
        val wait = (due - run.nowEpochNs()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        val before = bus.files.size
        bus.write(Seq.fill(perTick)(gen.next(due / 1000000L)), due)
        files ++= bus.files.keys.drop(before)
        lateMaxNs = math.max(lateMaxNs, run.nowEpochNs() - due)
      }
    })
    writer.start()
    writer.join()
    q.processAllAvailable()
    for (tr <- trace; s <- span) { s.phaseS("stream") = seconds; tr.close(s) }
    Map("files" -> files.toSeq, "ticks" -> ticks, "rate_per_s" -> LiveRate,
      "lines" -> ticks * perTick, "generator_late_s" -> lateMaxNs / 1e9)
  }

  /** File (relative to the bus) -> micro-batch id, from the file
    * source's metadata log in the checkpoint (compacted files too). */
  private def batchOfFiles(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(ckpt, "sources", "0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Files.list(dir).toArray.map(_.asInstanceOf[Path]).toSeq
      .filterNot(_.getFileName.toString.startsWith(".")).flatMap { p =>
      Files.readAllLines(p).toArray.map(_.toString).toSeq.flatMap(l => entry.findFirstMatchIn(l).map { m =>
        val parts = new java.net.URI(m.group(1)).getPath.split('/')
        parts.takeRight(2).mkString("/") -> m.group(2).toLong
      })
    }.toMap
  }

  /** Micro-batch id -> commit time (epoch ns of its commit-log entry). */
  private def commitTimes(ckpt: String): Map[Long, Long] =
    Files.list(Paths.get(ckpt, "commits")).toArray.map(_.asInstanceOf[Path]).toSeq
      .filter(_.getFileName.toString.forall(_.isDigit)).map { p =>
        val t = Files.getLastModifiedTime(p).toInstant
        p.getFileName.toString.toLong -> (t.getEpochSecond * 1000000000L + t.getNano)
      }.toMap

  /** Exactly-once and state checks over the final sink. Returns the
    * number of lines that failed: a valid envelope not present exactly
    * once in its changelog, a bad line not present exactly once in the
    * dead letter, or an envelope whose key's snapshot row differs from
    * the model. */
  private def check(run: Run, gen: Generator, sink: String, snaps: Map[String, DataFrame]): Long = {
    val spark = run.spark
    import spark.implicits._
    val n = gen.lsnTable.size
    val seen = new Array[Int](n)
    val badKeys = tables.map(_ => mutable.HashSet[Int]())
    var failed = 0L
    tables.zipWithIndex.foreach { case (t, ti) =>
      spark.read.parquet(s"$sink/${t.name}").select("lsn").as[Long].collect().foreach { l =>
        if (l >= 1 && l <= n && gen.lsnTable(l.toInt - 1) == ti) seen(l.toInt - 1) += 1
        else failed += 1
      }
      val keyIdx: Row => Int =
        if (t.keys.size == 1) r => r.getLong(0).toInt
        else r => (r.getLong(0) * 4 + r.getInt(1) - 1).toInt
      val width = t.schema.size
      val got = snaps(t.name).collect().map { r =>
        keyIdx(r) -> (r.toSeq.take(width), r.getAs[String]("op"), r.getAs[Long]("n_changes").toInt)
      }.toMap
      val want = gen.state(ti).map { case (k, (values, op)) => k -> (values, op, gen.changes(ti)(k)) }
      (got.keySet ++ want.keySet).foreach { k =>
        if (got.get(k) != want.get(k)) badKeys(ti) += k
      }
    }
    val wrongLsn = (0 until n).count(i => seen(i) != 1 || badKeys(gen.lsnTable(i))(gen.lsnKey(i)))
    val dead = spark.read.parquet(s"$sink/_dead_letter").select("raw").as[String].collect()
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val expectedBad = gen.bad.groupBy(identity).map { case (k, v) => k -> v.size }
    val wrongBad = expectedBad.map { case (line, c) => if (dead.getOrElse(line, 0) == c) 0 else c }.sum +
      dead.keySet.diff(expectedBad.keySet).toSeq.map(dead).sum
    failed += wrongLsn + wrongBad
    if (failed > 0) run.error(s"cdc check: $wrongLsn envelopes and $wrongBad bad lines off, " +
      s"${badKeys.map(_.size).sum} keys differ from the model")
    run.detail("check") = Map("valid_lines" -> n, "bad_lines" -> gen.bad.size,
      "keys_differing" -> badKeys.map(_.size).sum, "failed_lines" -> failed)
    failed
  }

  /** `Cdc.parseTablesWithDeadLetter` in batch over the run's own log. */
  private def parsePass(run: Run, bus: Bus): Double = {
    val spark = run.spark
    val lines = bus.files.values.map(_._1.toLong).sum
    val times = run.guarded("parse") {
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val raw = spark.read.text(s"${bus.dir}/$TopicGlob").withColumnRenamed("value", "raw")
        val (tbls, dead) = Cdc.parseTablesWithDeadLetter(raw, schemas)
        (tbls.values.toSeq :+ dead).foreach(noop)
        Stats.secondsSince(t0)
      }
    }
    times.map(ts => lines / Stats.median(ts)).getOrElse { run.failed += 1; 0.0 }
  }

  private def streamingLayer(run: Run, tr: Trace, bus: Bus, sink: String, ckpt: String,
                             live: Map[String, Any]): Unit = {
    val ps = tr.progress.toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
    val batches = ps.filter(_.numInputRows > 0)
    val m = run.metrics
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    m("streaming.batches") = batches.size.toDouble
    m("streaming.rows_per_batch_p50") = med(batches.map(_.numInputRows.toDouble))
    m("streaming.batch_p50_s") = med(batches.map(dur(_, "triggerExecution")))
    m("streaming.batch_max_s") = if (batches.isEmpty) 0.0 else batches.map(dur(_, "triggerExecution")).max
    m("streaming.add_batch_s") = med(batches.map(dur(_, "addBatch")))
    m("streaming.trigger_overhead_s") = med(batches.map(p => dur(p, "triggerExecution") - dur(p, "addBatch")))
    val liveFiles = live("files").asInstanceOf[Seq[String]].toSet
    val perBatch = batchOfFiles(ckpt).filter(kv => liveFiles(kv._1)).groupBy(_._2).values.map(_.size)
    m("streaming.backlog_files_max") = if (perBatch.isEmpty) 0.0 else perBatch.max.toDouble
    m("streaming.generator_late_s") = live("generator_late_s").asInstanceOf[Double]
    val written = Files.walk(Paths.get(sink)).toArray.map(_.asInstanceOf[Path]).toSeq
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
    m("streaming.files_written") = written.size.toDouble
    m("streaming.bytes_written_per_input_byte") = written.map(Files.size).sum.toDouble / bus.bytes
  }
}
