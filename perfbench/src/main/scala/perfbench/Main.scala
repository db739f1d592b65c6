package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.GraftSession
import graft.fast.FastKayvee
import graft.streaming.{KinesisLiteSource, Sources, StreamPipeline}

object Stats {
  /** Nearest-rank quantile; 0 for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }
}

/** Drives the consumer end to end on one workload and prints one JSON line.
  *
  * {{{
  * perfbench.Main --workload <backlog_drain|live_tail> --seed <n> --seconds <s>
  *                --trace <0|1> --work <scratch dir> [--traces <span dir>]
  *                [--records <drain backlog>] [--setup-cycles <k>]
  * }}}
  */
object Main {
  /** `trigger` None keeps the product's default micro-batch interval. */
  final case class Workload(name: String, trigger: Option[String], live: Boolean)

  val Workloads = Seq(
    Workload("backlog_drain", Some("0 seconds"), live = false),
    Workload("live_tail", None, live = true))

  /** Live-tail producer steps, records/s, one after another. */
  val Rates = Seq("low" -> 1000, "mid" -> 2000, "high" -> 3000)
  val TickMs = 50
  val LeadInRecords = 1000
  /** Drain backlog per `--seconds`: 120,000 records at 30 s, three full
    * 40,000-record batches, so each third of the backlog is one batch and
    * none has its median or 99th percentile on a batch boundary. */
  val DrainRecordsPerSecond = 4000
  /** The planted-fault drain and the core-scaling drain of the traced run. */
  val FaultRecords = 24000
  val ScaleRecords = 40000
  val SetupCycles = 3
  val WarmupPerShard = 250
  val FailingRegion = "us-east-2"
  val DeployEnv = "production"

  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = ManagementFactory.getCompilationMXBean

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def json: String = {
      def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
      val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == args.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; expected one of ${Workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seconds = args("seconds").toInt
    val opts = Opts(
      seed = args("seed").toLong,
      seconds = seconds,
      traced = args.getOrElse("trace", "0") == "1",
      work = new File(args("work")),
      traces = new File(args.getOrElse("traces", args("work"))),
      records = args.get("records").map(_.toInt).getOrElse(seconds * DrainRecordsPerSecond),
      setupCycles = args.get("setup-cycles").map(_.toInt).getOrElse(SetupCycles))
    opts.work.mkdirs()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local("perfbench")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val code =
      try {
        val r = new Run(spark, wl, opts).go(sessionS)
        println(r.json)
        if (r.failed == 0) 0 else 1
      } finally spark.stop()
    sys.exit(code)
  }

  /** What one timed window measured: wall, process CPU, JIT compilation
    * and GC time, and source bytes scanned. */
  final case class Window(ns: Long, cpuNs: Long, jitMs: Long, gcMs: Long, bytesScanned: Long)

  final case class Opts(seed: Long, seconds: Int, traced: Boolean, work: File, traces: File, records: Int,
      setupCycles: Int)

  final class Run(spark: SparkSession, wl: Workload, o: Opts) {
    private val progress = new Progress
    spark.streams.addListener(progress)
    private def dlDir(faults: Boolean) = new File(o.work, if (faults) "dl-faults" else "dl")
    private val jobStats = new JobStats(new File(dlDir(true), "parse").getAbsolutePath)
    if (o.traced) spark.sparkContext.addSparkListener(jobStats)
    private val heap = new HeapWatch
    private val tracer = new Tracer(s"${wl.name}-seed${o.seed}")
    private var queries = 0

    /** The product's default config, but for the fields a workload names. */
    private def config(faults: Boolean): StreamPipeline.Config = {
      queries += 1
      val default = StreamPipeline.Config(deployEnv = DeployEnv)
      default.copy(
        triggerInterval = wl.trigger.getOrElse(default.triggerInterval),
        checkpointLocation = Some(new File(o.work, s"ckpt-$queries").getAbsolutePath),
        deadLetterPath = if (faults) Some(dlDir(true).getAbsolutePath) else None)
    }

    private def source(dir: File) =
      Sources.kinesisLite(spark,
        Sources.KclConfig(streamName = dir.getName, regionName = "us-west-2",
          applicationName = "perfbench", initialPositionInStream = "TRIM_HORIZON"),
        dir.getAbsolutePath).select(col("raw"))

    private def startDelivery(dir: File, cfg: StreamPipeline.Config): StreamingQuery =
      StreamPipeline.deliver(source(dir), cfg, new CountingSink, Some(new CountingCwSink)).start()

    private def startMeta(dir: File, cfg: StreamPipeline.Config): StreamingQuery =
      StreamPipeline.shipMetaSeries(source(dir), cfg, new CountingSink)
        .option("checkpointLocation", cfg.checkpointLocation.get + "-meta")
        .start()

    private def await(qs: Seq[StreamingQuery], n: Long, timeoutS: Int): Unit = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (qs.exists(q => progress.processed(q.id) < n)) {
        qs.foreach(_.exception.foreach(e => throw e))
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"queries did not process $n records within $timeoutS s: " +
            qs.map(q => progress.processed(q.id)).mkString(","))
        Thread.sleep(5)
      }
    }

    private def resetLedger(book: Gen.Book, faults: Boolean): Unit = {
      def planted(kind: Int) = book.expect.collect { case (rid, e) if e.fault == kind => rid }
      Ledger.reset(planted(Expect.Transient), planted(Expect.Permanent), if (faults) FailingRegion else null)
    }

    /** One set-up: start the workload's queries on a small backlog, wait
      * until it is delivered, stop. Returns its wall time in seconds. */
    private def setupCycle(k: Int): Double = {
      val dir = new File(o.work, s"warm-$k")
      val book = new Gen.Book
      val n = WarmupPerShard * Gen.Shards
      Gen.writeBacklog(dir, new Gen(o.seed * 31 + k + 1, Mix.realistic), n, book, _ => System.currentTimeMillis() / 1000)
      resetLedger(book, faults = false)
      val t0 = System.nanoTime()
      val cfg = config(faults = false)
      val qs = startDelivery(dir, cfg) +: (if (wl.live) Seq(startMeta(dir, cfg)) else Nil)
      try await(qs, n, 120) finally qs.foreach(_.stop())
      (System.nanoTime() - t0) / 1e9
    }

    def go(sessionS: Double): Result = {
      val setups = (0 until o.setupCycles).map(setupCycle)
      System.err.println(f"perfbench: session $sessionS%.2f s, set-up cycles ${setups.map(s => f"$s%.2f").mkString(" ")} s")
      val r = new Result
      val timed = if (wl.live) liveTail() else drain("stream", Mix.realistic, o.records, faults = false, o.seed)
      r.attempted = timed.book.size
      r.failed += timed.failed
      if (!o.traced) {
        timed.endToEnd(r)
        r.put("setup_s", sessionS + Stats.quantile(setups, 0.5), "s")
      } else {
        timed.perLayer(r)
        val layers = Layers.run(spark, tracer, o.work, o.seed, Mix.realistic, config(faults = false))
        layers.metrics.foreach { case (k, v) => r.put(k, v, if (k.endsWith("_ms") || k.contains("read_ms")) "ms" else "count") }
        r.failed += layers.failed
        faultAndScaleDrains(r)
        tracer.write(new File(o.traces, s"${wl.name}-seed${o.seed}.jsonl"))
      }
      r
    }

    /** Traced drain run only: the write side under planted sink faults, and
      * the drain rate on a fixed backlog for the core-scaling figure. The
      * live tail reports these as 0. */
    private def faultAndScaleDrains(r: Result): Unit = {
      val f = if (wl.live) None else Some(drain("faults", Mix.faulty, FaultRecords, faults = true, o.seed * 131 + 7))
      def v(x: => Double) = if (f.isEmpty) 0.0 else x
      f.foreach(t => r.failed += t.failed)
      Seq(
        ("faults.drain_rps", v(f.get.rps), "records/s"),
        ("faults.retries", v(Ledger.retries.toDouble), "count"),
        ("faults.partial_failures", v(Ledger.partialFailures.toDouble), "count"),
        ("faults.backoff_ms", v(Ledger.backoffNs / 1e6), "ms"),
        // backoff sleeps as a share of the drain's wall time (the sizing rule for the fault rates)
        ("faults.backoff_share", v(Ledger.backoffNs / f.get.w.ns.toDouble), "fraction"),
        ("faults.spilled_rows", v(readSinkDeadLetters(true).values.sum.toDouble), "count"),
        ("faults.parse_dead_letters", v(readParseDeadLetters(true).values.sum.toDouble), "count"),
        ("faults.cw_puts", v(Ledger.cwDatumsOk.toDouble), "count"),
        ("faults.cw_failed", v(Ledger.cwDatumsFailed.toDouble), "count"),
        ("faults.deadletter_write_ms", v(jobStats.deadLetterWriteMs.get.toDouble), "ms")
      ).foreach { case (k, x, u) => r.put(k, x, u) }
      val s = if (wl.live) None else Some(drain("scale", Mix.realistic, ScaleRecords, faults = false, o.seed * 131 + 11))
      s.foreach(t => r.failed += t.failed)
      r.put("engine.rps_ncore", s.map(_.rps).getOrElse(0.0), "records/s")
    }

    /** What a timed window leaves behind for reporting. */
    final class Timed(
        val book: Gen.Book,
        val dueNs: Long => Long, // when a record was due to be appended
        val bucketOf: (Long, Expect) => String, // rid, expectation -> low | mid | high
        val w: Window,
        val records: Long, // records generated inside the window
        val rps: Double,
        val delivery: StreamingQuery,
        val meta: Option[StreamingQuery],
        val backlogEnd: Long,
        val lateMs: Seq[Double],
        val failed: Long) {

      /** Latency samples, ms from due to the first Datadog submit, per bucket. */
      lazy val samples: Map[String, Seq[Double]] = {
        val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
        book.expect.foreach { case (rid, e) =>
          Ledger.firstSubmitNs.get(rid).foreach { t =>
            lat.getOrElseUpdate(bucketOf(rid, e), mutable.ArrayBuffer.empty) += (t - dueNs(rid)) / 1e6
          }
        }
        val s = Rates.map { case (b, _) => b -> lat.getOrElse(b, mutable.ArrayBuffer.empty[Double]).toSeq }.toMap
        System.err.println(s"perfbench: latency samples ${Rates.map { case (b, _) => s"$b=${s(b).size}" }.mkString(" ")}")
        s
      }

      def endToEnd(r: Result): Unit = {
        r.put("drain_rps", rps, "records/s")
        Rates.foreach { case (b, _) => r.put(s"latency_p50_ms.$b", Stats.quantile(samples(b), 0.5), "ms") }
        Rates.foreach { case (b, _) => r.put(s"latency_p99_ms.$b", Stats.quantile(samples(b), 0.99), "ms") }
        r.put("heap_live_mb", heap.liveBytes.get / 1048576.0, "MB")
      }

      def perLayer(r: Result): Unit = {
        val dq = delivery.id
        val dp = progress.of(dq).filter(_.numInputRows > 0)
        val mp = meta.toSeq.flatMap(m => progress.of(m.id).filter(_.numInputRows > 0))
        def dur(ps: Seq[StreamingQueryProgress], k: String) =
          ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
        def p50(xs: Seq[Double]) = Stats.quantile(xs, 0.5)
        // each micro-batch is a span; its durationMs parts are child spans
        val parts = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        (dp ++ mp).foreach { p =>
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
          val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
          val id = tracer.add(s"batch.${if (p.id == dq) "deliver" else "meta"}", 0, start, start + total * 1000000L)
          var at = start
          parts.foreach { k =>
            val d = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) * 1000000L
            tracer.add(s"batch.$k", id, at, at + d); at += d
          }
        }
        val q = dq.toString
        val skew = jobStats.reduceStages(q)
          .map(ts => ts.max.toDouble / math.max(1.0, Stats.quantile(ts.map(_.toDouble), 0.5)))
        def stateLast(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
          mp.lastOption.flatMap(_.stateOperators.headOption).map(s => f(s).toDouble).getOrElse(0.0)
        val ms = "ms"; val n = "count"
        Seq(
          ("source.latest_offset_ms_p50", p50(dur(dp, "latestOffset")), ms),
          ("source.get_batch_ms_p50", p50(dur(dp, "getBatch")), ms),
          ("source.bytes_scanned", w.bytesScanned.toDouble, "bytes"),
          ("source.backlog_end", backlogEnd.toDouble, n),
          ("batch.trigger_ms_p50", p50(dur(dp, "triggerExecution")), ms),
          ("batch.planning_ms_p50", p50(dur(dp, "queryPlanning")), ms),
          ("batch.add_batch_ms_p50", p50(dur(dp, "addBatch")), ms),
          ("batch.wal_commit_ms_p50", p50(dur(dp, "walCommit")), ms),
          ("batch.commit_offsets_ms_p50", p50(dur(dp, "commitOffsets")), ms),
          ("batch.parts_coverage", parts.map(k => dur(dp, k).sum).sum / math.max(1.0, dur(dp, "triggerExecution").sum), "fraction"),
          ("batch.records_p50", p50(dp.map(_.numInputRows.toDouble)), n),
          // records per second of busy micro-batch time: the rate while working
          ("batch.busy_rps", dp.map(_.numInputRows).sum / (dur(dp, "triggerExecution").sum / 1000.0), "records/s"),
          ("batch.count", dp.size.toDouble, n),
          ("batch.jobs", p50(jobStats.perBatch(jobStats.jobs, q)), n),
          ("batch.stages", p50(jobStats.perBatch(jobStats.stages, q)), n),
          ("batch.tasks", p50(jobStats.perBatch(jobStats.tasks, q)), n),
          ("deliver.submits", Ledger.submits.toDouble, n),
          ("deliver.rows_per_submit_mean", Ledger.rowsSubmitted.toDouble / math.max(1L, Ledger.submits), n),
          ("deliver.shuffle_bytes", Option(jobStats.shuffleWrite.get(q)).map(_.get.toDouble).getOrElse(0.0), "bytes"),
          ("deliver.task_ms_max_over_p50", p50(skew), "ratio"),
          ("deliver.retries", Ledger.retries.toDouble, n),
          ("deliver.cw_puts", Ledger.cwDatumsOk.toDouble, n),
          ("meta.batch_ms_p50", p50(dur(mp, "triggerExecution")), ms),
          ("meta.state_rows", stateLast(_.numRowsTotal), n),
          ("meta.state_bytes", stateLast(_.memoryUsedBytes), "bytes"),
          ("meta.state_commit_ms_p50", p50(mp.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)), ms),
          ("meta.series_points", Ledger.metaRows.toDouble, n),
          ("jvm.cpu_ms_per_krec", w.cpuNs / 1e6 / (records / 1000.0), ms),
          ("jvm.jit_ms", w.jitMs.toDouble, ms),
          ("jvm.gc_ms", w.gcMs.toDouble, ms),
          ("jvm.heap_after_gc_peak_mb", heap.peakBytes.get / 1048576.0, "MB"),
          ("gen.late_ms_p99", Stats.quantile(lateMs, 0.99), ms),
          ("gen.records", book.size.toDouble, n),
          ("traced.drain_rps", rps, "records/s"),
          ("traced.latency_p50_ms.low", p50(samples("low")), ms)
        ).foreach { case (k, v, u) => r.put(k, v, u) }
        Rates.foreach { case (b, _) => r.put(s"latency.samples.$b", samples(b).size.toDouble, n) }
      }
    }

    /** rid -> Datadog rows spilled to the sink dead-letter path. */
    private def readSinkDeadLetters(faults: Boolean): Map[Long, Int] = {
      val p = new File(dlDir(faults), "sink")
      if (!p.exists()) Map.empty
      else spark.read.parquet(p.getAbsolutePath).filter(col("kind") === "dd")
        .select(col("dd.record_id")).collect().map(_.getLong(0)).groupBy(identity).map { case (k, v) => k -> v.length }
    }

    /** rid -> parse dead letters written for it. */
    private def readParseDeadLetters(faults: Boolean): Map[Long, Int] = {
      val p = new File(dlDir(faults), "parse")
      if (!p.exists()) Map.empty
      else spark.read.parquet(p.getAbsolutePath).select(col("raw")).collect()
        .map(r => FastKayvee.recordId(r.getString(0))).groupBy(identity).map { case (k, v) => k -> v.length }
    }

    /** Records whose observed outcome differs from the generator's expectation. */
    private def check(book: Gen.Book, faults: Boolean): Long = {
      val spilled = readSinkDeadLetters(faults)
      val parseDead = readParseDeadLetters(faults)
      val failRegion = if (faults) FailingRegion else null
      val byReason = mutable.Map.empty[String, Int].withDefaultValue(0)
      book.expect.foreach { case (rid, e) =>
        val got = Ledger.delivered.getOrElse(rid, 0)
        val cw = Ledger.cwAccepted.getOrElse(rid, 0)
        val sp = spilled.getOrElse(rid, 0)
        val pd = parseDead.getOrElse(rid, 0)
        val reason =
          if (e.kind == Expect.Ok && e.fault == Expect.Permanent) {
            if (got != 0) "spilled record delivered"
            else if (sp != e.ddRows) "spilled rows != planted"
            else if (cw != 0) "spilled record put to cloudwatch"
            else null
          } else if (e.kind == Expect.Ok) {
            val wantCw = if (e.cwRegion != null && e.cwRegion != failRegion) 1 else 0
            if (got != e.ddRows) s"datadog rows $got != ${e.ddRows}"
            else if (Ledger.badTag.contains(rid) || !Ledger.tags.get(rid).contains(e.tag)) "wrong tag"
            else if (cw != wantCw) s"cloudwatch datums $cw != $wantCw"
            else if (sp != 0) "delivered record spilled"
            else null
          } else {
            if (got != 0 || cw != 0 || sp != 0) "ignored or dead record delivered"
            else if (faults && pd != (if (e.kind == Expect.Dead) 1 else 0)) s"parse dead letters $pd"
            else null
          }
        if (reason != null) byReason(reason) += 1
      }
      val unknown = (Ledger.delivered.keys ++ Ledger.cwAccepted.keys ++ spilled.keys ++ parseDead.keys)
        .toSet.count(rid => !book.expect.contains(rid))
      if (unknown > 0) byReason("record not generated") += unknown
      if (byReason.nonEmpty) System.err.println(s"perfbench: outcome mismatches $byReason")
      byReason.values.sum.toLong
    }

    /** Meta series totals against the generator: volume count and size, route count. */
    private def checkMeta(book: Gen.Book): Long = {
      val valid = book.expect.values.filter(_.tsValid)
      val want = Map(
        "kinesis_alerts_consumer.log_volume_count" -> valid.size.toDouble,
        "kinesis_alerts_consumer.log_volume_size" -> valid.size.toDouble * (Gen.LineBytes - 1),
        "kinesis_alerts_consumer.log_route_count" -> valid.map(_.kvRoutes).sum.toDouble)
      val got = Ledger.synchronized(Ledger.meta.toSeq).groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2).sum }
      val bad = want.count { case (k, v) => got.getOrElse(k, 0.0) != v }
      if (bad > 0) System.err.println(s"perfbench: meta series $got != expected $want")
      bad.toLong
    }

    /** Runs `body` as the timed window: wall time, process CPU, JIT and GC
      * time, source bytes scanned, and the heap left after each GC inside it. */
    private def window(body: => Unit): Window = {
      System.gc()
      val (cpu0, jit0, gc0, bs0) =
        (cpuBean.getProcessCpuTime, jitBean.getTotalCompilationTime, heap.gcMs, KinesisLiteSource.bytesScanned.get)
      heap.peakBytes.set(0); heap.on = true
      val t0 = System.nanoTime()
      body
      val t1 = System.nanoTime()
      val cpu = cpuBean.getProcessCpuTime - cpu0
      val jit = jitBean.getTotalCompilationTime - jit0
      // the live set at the end of the window, queries still running: the
      // median of three full GCs, so work in flight at one of them does not set it
      val live = (1 to 3).map { _ =>
        heap.liveBytes.set(0)
        System.gc()
        val deadline = System.nanoTime() + 2000000000L // GC notifications arrive asynchronously
        while (heap.liveBytes.get == 0 && System.nanoTime() < deadline) Thread.sleep(5)
        Thread.sleep(250)
        heap.liveBytes.get.toDouble
      }
      heap.on = false
      heap.liveBytes.set(Stats.quantile(live, 0.5).toLong)
      Window(t1 - t0, cpu, jit, heap.gcMs - gc0, KinesisLiteSource.bytesScanned.get - bs0)
    }

    /** A pre-written backlog drained from TRIM_HORIZON as fast as the consumer reads it. */
    private def drain(name: String, mix: Mix, n: Int, faults: Boolean, genSeed: Long): Timed = {
      val dir = new File(o.work, name)
      val book = new Gen.Book
      Gen.writeBacklog(dir, new Gen(genSeed, mix), n, book, i => 1700000000L + i / 1000)
      resetLedger(book, faults)
      val cfg = config(faults)
      var q: StreamingQuery = null
      var startNs = 0L
      val w = window {
        startNs = System.nanoTime()
        q = startDelivery(dir, cfg)
        await(Seq(q), n, 150)
      }
      q.stop()
      val rps = n / ((Ledger.lastAckNs - startNs) / 1e9)
      // backlog thirds stand in for the three rates: how long a record at
      // each depth of the backlog waits for Datadog after the consumer starts
      val third = (n + 2) / 3
      new Timed(book, _ => startNs, (_, e) => Rates((e.index / third).toInt)._1, w, n, rps,
        q, None, 0L, Nil, check(book, faults))
    }

    /** An open-loop producer appending on a fixed schedule at each rate in turn. */
    private def liveTail(): Timed = {
      val dir = new File(o.work, "stream")
      dir.mkdirs()
      (0 until Gen.Shards).foreach(s => new File(dir, s"shard-$s.txt").createNewFile())
      val book = new Gen.Book
      resetLedger(book, faults = false)
      val cfg = config(faults = false)
      val gen = new Gen(o.seed, Mix.realistic)
      val outs = (0 until Gen.Shards).map(s => new java.io.FileOutputStream(new File(dir, s"shard-$s.txt"), true))
      var rr = 0
      def append(m: Int, tsSec: Long)(onLine: Long => Unit): Unit = {
        val bufs = Array.fill(Gen.Shards)(new java.io.ByteArrayOutputStream(m / Gen.Shards * Gen.LineBytes + Gen.LineBytes))
        (0 until m).foreach { _ =>
          val (l, e) = gen.line(tsSec)
          onLine(book.add(l, e))
          bufs(rr % Gen.Shards).write((l + "\n").getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          rr += 1
        }
        // one write per shard per tick; lines never straddle a page (Gen.LineBytes)
        bufs.indices.foreach(s => if (bufs(s).size > 0) outs(s).write(bufs(s).toByteArray))
      }
      // lead-in: the first micro-batch of a new query carries its start-up
      // cost; these records are checked but give no latency samples
      append(LeadInRecords, System.currentTimeMillis() / 1000)(_ => ())
      val dq = startDelivery(dir, cfg)
      val mq = startMeta(dir, cfg)
      await(Seq(dq, mq), LeadInRecords, 60)
      // processing-time triggers fire on wall-clock multiples of the interval:
      // start the schedule half a tick after one, so each step spans whole
      // intervals and no tick falls on a trigger time, where whether its
      // records make that batch or wait for the next would be a race
      val intervalMs = scala.concurrent.duration.Duration(cfg.triggerInterval).toMillis
      val nowMs = System.currentTimeMillis()
      val wall0 = (nowMs / intervalMs + 1) * intervalMs + TickMs / 2
      val ticksPerStep = math.round(o.seconds * 1000.0 / Rates.size / TickMs).toInt
      val due = mutable.LongMap.empty[Long]
      val stepOf = mutable.LongMap.empty[Int]
      val lateMs = mutable.ArrayBuffer.empty[Double]
      var backlogEnd = 0L
      val t0 = System.nanoTime() + (wall0 - nowMs) * 1000000L
      val w = window {
        try {
          var k = 0; var carry = 0.0
          Rates.zipWithIndex.foreach { case ((_, rate), si) =>
            (0 until ticksPerStep).foreach { _ =>
              val dueNs = t0 + k.toLong * TickMs * 1000000L
              val wait = dueNs - System.nanoTime()
              if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
              lateMs += (System.nanoTime() - dueNs) / 1e6
              carry += rate * TickMs / 1000.0
              val m = carry.toInt; carry -= m
              append(m, (wall0 + k.toLong * TickMs) / 1000) { rid => due(rid) = dueNs; stepOf(rid) = si }
              k += 1
            }
          }
        } finally outs.foreach(_.close())
        backlogEnd = book.size - progress.processed(dq.id)
        await(Seq(dq, mq), book.size, 120)
      }
      // records delivered per second from the first due time to the last
      // Datadog acknowledgement: the offered rate while the consumer keeps up
      val rps = due.size / ((Ledger.lastAckNs - t0) / 1e9)
      dq.stop(); mq.stop()
      Seq("deliver" -> dq, "meta" -> mq).foreach { case (name, q) =>
        System.err.println(s"perfbench: $name batches (records/ms) " + progress.of(q.id).filter(_.numInputRows > 0)
          .map(p => s"${p.numInputRows}/${p.durationMs.get("triggerExecution")}").mkString(" "))
      }
      new Timed(book, due.getOrElse(_, 0L), (rid, _) => stepOf.get(rid).map(Rates(_)._1).getOrElse("lead-in"), w,
        due.size.toLong, rps,
        dq, Some(mq), backlogEnd, lateMs.toSeq, check(book, faults = false) + checkMeta(book))
    }
  }
}
