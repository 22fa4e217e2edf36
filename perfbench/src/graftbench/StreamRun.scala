package graftbench

import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, min, row_number}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.streaming.ReactiveStreams
import graft.streaming.ReactiveStreams.Ev

/** The stateful-stream workload: one generator thread feeds seeded
  * synthetic events to five `ReactiveStreams` operator queries, each
  * with a different state pattern. A closed-loop phase keeps the
  * sources `backlog` events ahead of the slowest query (saturated
  * throughput); an open-loop phase then sends at a fixed `rate` and
  * times each event from its scheduled send time to its sink.
  *
  * Spark's MemoryStream trims data as soon as its one reader commits,
  * so every operator query reads its own MemoryStream; the generator
  * appends each chunk to all five. */
object StreamRun {
  val Ops = Seq("sessionCapped", "rateLimit", "withLatestFrom", "runningTopK", "dedup")
  /** Operators whose output has one row per input event (latency). */
  val PerEvent = Set("sessionCapped", "rateLimit", "withLatestFrom", "dedup")
  val TtlMs = 10 * 60000L

  /** Seeded events: Zipf user keys; event time advances `stepMs` per
    * event; within a chunk the order is shuffled and a `dupShare` of
    * events is re-delivered, so events are out of order only within a
    * trigger and each key stays in order across triggers. */
  final class Gen(seed: Long, users: Int, zipfS: Double, dupShare: Double,
                  stepMs: Long) {
    private val rng = new java.util.Random(seed)
    private val cdf = {
      val w = (1 to users).map(i => 1.0 / math.pow(i, zipfS))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    private val types = Array("click", "click", "purchase", "view", "signup", "error")
    var next = 0L
    val delivered = ArrayBuffer[Ev]()
    private def user(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      (if (i >= 0) i else math.min(-i - 1, users - 1)).toLong
    }
    def chunk(n: Int): Seq[Ev] = {
      val evs = (0 until n).map { _ =>
        val id = next; next += 1
        Ev(id, new Timestamp(t0 + id * stepMs), user(),
          types(rng.nextInt(types.length)),
          math.max(0.01, math.round(-math.log(1 - rng.nextDouble()) * 5000) / 100.0))
      }
      val out = new scala.util.Random(rng)
        .shuffle(evs ++ evs.filter(_ => rng.nextDouble() < dupShare))
      delivered ++= out
      out
    }
  }

  /** foreachBatch sink: keeps every output row and when each event's
    * first row arrived. */
  final class Sink {
    val batches = ArrayBuffer[(Long, Array[Row])]()
    val firstSeen = mutable.Map[Long, Long]()
    def add(batchId: Long, rows: Array[Row], atMs: Long): Unit = synchronized {
      batches += ((batchId, rows))
      rows.foreach(r => firstSeen.getOrElseUpdate(r.getAs[Long]("event_id"), atMs))
    }
    def clear(): Unit = synchronized { batches.clear(); firstSeen.clear() }
  }

  final case class Prog(op: String, batchId: Long, startMs: Long, rows: Long,
                        durations: Map[String, Long], state: Seq[Map[String, Long]],
                        watermarkLagMs: Option[Long], phase: String)

  private def isoMs(s: String): Long = Instant.parse(s).toEpochMilli

  def prog(op: String, p: StreamingQueryProgress, phase: String): Prog = {
    val et = Option(p.eventTime).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
    val lag = for (mx <- et.get("max"); wm <- et.get("watermark"))
      yield isoMs(mx) - isoMs(wm)
    Prog(op, p.batchId, isoMs(p.timestamp), p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.stateOperators.toSeq.map(s => Map("rows_total" -> s.numRowsTotal,
        "rows_updated" -> s.numRowsUpdated, "rows_removed" -> s.numRowsRemoved,
        "mem_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
        "dropped_late" -> s.numRowsDroppedByWatermark)),
      lag, phase)
  }

  def run(a: Map[String, String]): Unit = {
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val rate = a("rate").toDouble
    val chunkN = a("chunk").toInt
    val backlog = a("backlog").toInt
    val ckpt = a("checkpoint")
    var mems: Seq[MemoryStream[Ev]] = Nil
    var frames: Seq[(String, DataFrame, String)] = Nil
    // set-up opens the workload's inputs: the sources and the five
    // operator plans (not yet started)
    val setup = Setup.run(a) { spark =>
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      // one input partition per task slot, however many chunks a trigger reads
      mems = Ops.map(_ => MemoryStream[Ev](a("partitions").toInt))
      frames = Ops.zip(mems).map { case (op, m) =>
        val df = m.toDF()
        op match {
          case "sessionCapped" =>
            (op, ReactiveStreams.sessionCappedStream(spark, df).toDF(), "append")
          case "rateLimit" =>
            (op, ReactiveStreams.rateLimitStream(spark, df).toDF(), "append")
          case "withLatestFrom" =>
            (op, ReactiveStreams.withLatestFrom(spark,
              df.withWatermark("ts", "10 minutes"), primary = "click",
              secondary = "purchase", idleTtlMs = Some(TtlMs)).toDF(), "append")
          case "runningTopK" =>
            (op, ReactiveStreams.runningTopK(spark, df, k = 3).toDF(), "update")
          case "dedup" =>
            (op, ReactiveStreams.dedupStream(df, "10 minutes"), "append")
        }
      }
      frames.foreach(_._2.schema)
    }
    val spark = setup.spark
    val marks = ArrayBuffer[(String, Double)]()
    def mark(name: String): Unit =
      marks += ((name, (Util.wallMs() - Util.jvmStartMs()) / 1e3))
    mark("setup")
    val noise0 = Util.noise()
    val gen = new Gen(a("seed").toLong, a("users").toInt, a("zipf").toDouble,
      a("dup_share").toDouble, a("step_ms").toLong)
    // cumulative generated (not re-delivered) events after chunk i
    val cum = ArrayBuffer[Long]()
    def send(n: Int): Unit = {
      val c = gen.chunk(n)
      mems.foreach(_.addData(c))
      cum += gen.next
    }

    val tracer = new Tracer(traceRun)
    val execListener = new ExecListener(tracer)
    val sinks = Ops.map(_ => new Sink)
    val progs = mutable.Map[(String, Long), Prog]()
    var phase = "cold"
    val qSpan = Ops.map(_ => tracer.nextId())
    val workloadSpan = tracer.nextId()
    val wl0 = tracer.nowUs()
    val streamListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val i = Ops.indexWhere(o => s"gb_$o" == p.name)
        if (i >= 0) {
          val s = isoMs(p.timestamp) * 1000L
          tracer.add(Span(tracer.nextId(), qSpan(i), p.name, "trigger", s,
            s + p.durationMs.getOrDefault("triggerExecution", 0L) * 1000L))
        }
      }
    }
    var attached = false
    def setTraced(on: Boolean): Unit = if (on != attached) {
      if (on) {
        spark.sparkContext.addSparkListener(execListener)
        spark.streams.addListener(streamListener)
      } else {
        spark.sparkContext.removeSparkListener(execListener)
        spark.streams.removeListener(streamListener)
      }
      attached = on
    }

    send(chunkN)
    setTraced(traceRun)
    val queries = ArrayBuffer[StreamingQuery]()
    def poll(): Unit = queries.zip(Ops).foreach { case (q, op) =>
      val p = q.lastProgress
      if (p != null && !progs.contains((op, p.batchId))) progs((op, p.batchId)) = prog(op, p, phase)
    }
    // events a query has fully processed (MemoryStream offsets count
    // chunks from 0)
    def doneBy(q: StreamingQuery): Long = {
      val p = q.lastProgress
      if (p == null || p.sources.isEmpty || p.sources.head.endOffset == null) 0L
      else {
        val off = p.sources.head.endOffset.trim.toLong
        if (off < 0) 0L else cum(math.min(off.toInt, cum.size - 1))
      }
    }
    // events every still-running query has processed; a query that
    // terminated is a failure and no longer holds the others back
    def processed(): Long = {
      val done = queries.filter(_.isActive).map(doneBy)
      if (done.isEmpty) gen.next else done.min
    }
    def alive: Boolean = queries.exists(_.isActive)
    def waitFor(limitS: Double)(cond: => Boolean): Unit = {
      val t = Util.now()
      while (!cond && alive && Util.secs(t) < limitS) { poll(); Thread.sleep(2) }
      poll()
    }
    // cold: the queries start one at a time, each running its first
    // trigger over the first chunk alone
    val qStart = tracer.nowUs()
    frames.zip(sinks).foreach { case ((op, df, mode), sink) =>
      val f: (DataFrame, Long) => Unit = (b, id) => {
        val rows = b.collect()
        sink.add(id, rows, Util.wallMs())
      }
      val q = df.writeStream.queryName(s"gb_$op").outputMode(mode)
        .option("checkpointLocation", s"$ckpt/$op").foreachBatch(f).start()
      queries += q
      waitFor(90)(!q.isActive || doneBy(q) >= cum.last)
    }
    mark("cold")
    // closed loop, saturated: an unmeasured warm-up lets JIT settle,
    // then the measured half
    setTraced(false)
    def closedLoop(forS: Double)(each: Double => Unit): Double = {
      val t0 = Util.now()
      while (Util.secs(t0) < forS && alive) {
        each(Util.secs(t0))
        poll()
        if (gen.next - processed() < backlog) send(chunkN) else Thread.sleep(1)
      }
      Util.secs(t0)
    }
    phase = "warmup"
    closedLoop(a("warmup_s").toDouble)(_ => ())
    mark("warmup")
    phase = "closed"
    val closedS = seconds / 2
    // a traced run attaches the listeners for the middle half of the
    // measured closed loop (ABBA: untraced, traced, untraced quarters),
    // so warm-up drift cancels in the traced minus untraced comparison
    var (tracedFromMs, tracedToMs) = (Long.MaxValue, Long.MaxValue)
    val closedWall = closedLoop(closedS) { t =>
      if (traceRun && !attached && tracedFromMs == Long.MaxValue && t >= closedS / 4) {
        setTraced(true); tracedFromMs = Util.wallMs()
      }
      if (attached && t >= closedS * 3 / 4) {
        setTraced(false); tracedToMs = Util.wallMs()
      }
    }
    setTraced(traceRun)
    mark("closed")
    // drain, then open loop at a fixed rate
    waitFor(20)(processed() >= gen.next)
    mark("drain")
    phase = "open"
    val openFirst = gen.next
    val openS = seconds - closedS
    val sched = ArrayBuffer[Long]()
    val late = ArrayBuffer[Double]()
    val backlogAt = ArrayBuffer[(Double, Long)]()
    val start = Util.wallMs()
    var sent = 0L
    while ((Util.wallMs() - start) / 1e3 < openS && alive) {
      val nowMs = Util.wallMs()
      val due = ((nowMs - start) / 1e3 * rate).toLong
      if (due > sent) {
        val n = (due - sent).toInt
        (0 until n).foreach(k => sched += start + ((sent + k) * 1000.0 / rate).toLong)
        send(n)
        val at = Util.wallMs()
        (0 until n).foreach(k => late += (at - sched((sent + k).toInt)).toDouble)
        sent = due
      }
      poll()
      backlogAt += (((nowMs - start) / 1e3, gen.next - processed()))
      Thread.sleep(math.max(0L, 10L - (Util.wallMs() - nowMs)))
    }
    val genBacklog = gen.next - processed()
    mark("open")
    waitFor(30)(processed() >= gen.next)
    mark("drain2")
    phase = "end"
    val failures = ArrayBuffer[String]()
    queries.zip(Ops).foreach { case (q, op) =>
      q.exception.foreach(e => failures += s"$op terminated: ${e.getMessage.take(200)}")
      if (q.exception.isEmpty && !q.isActive) failures += s"$op terminated"
      // fill any trigger the poll missed
      q.recentProgress.foreach(p =>
        if (!progs.contains((op, p.batchId))) progs((op, p.batchId)) = prog(op, p, "unknown"))
    }
    Thread.sleep(if (traceRun) 500 else 0)
    queries.foreach(_.stop())
    val qEnd = tracer.nowUs()
    Ops.indices.foreach(i =>
      tracer.add(Span(qSpan(i), workloadSpan, s"gb_${Ops(i)}", "operator_query", qStart, qEnd)))
    tracer.add(Span(workloadSpan, 0L, "workload", "workload", wl0, qEnd))

    // latency: scheduled send time -> first arrival at each sink
    val lat = mutable.Map[String, ArrayBuffer[Double]]()
    Ops.zip(sinks).filter(x => PerEvent(x._1)).foreach { case (op, s) =>
      val buf = lat.getOrElseUpdate(op, ArrayBuffer())
      s.firstSeen.foreach { case (eid, at) =>
        if (eid >= openFirst && eid - openFirst < sched.size)
          buf += (at - sched((eid - openFirst).toInt)).toDouble
      }
    }
    val finished = Ops.zip(queries).filter(_._2.exception.isEmpty).map(_._1).toSet
    failures ++= Twins.check(spark, gen.delivered.toSeq,
      Ops.zip(sinks).toMap.filter { case (op, _) => finished(op) })

    mark("twins")
    // the harness's own per-event buffers grow with the events a run
    // gets through; drop them so retained memory is the program's
    val delivered = gen.delivered.size
    sinks.foreach(_.clear())
    gen.delivered.clear()
    val noise1 = Util.noise()
    val retained = Util.retainedMb()
    mark("end")
    val layer = {
      val c = execListener.sum((_, _) => true)
      Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_s" -> c.taskNs / 1e9,
        "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
        "shuffle_read_mb" -> c.shuffleRead / 1048576.0,
        "spill_mb" -> c.spill / 1048576.0, "result_mb" -> c.resultBytes / 1048576.0,
        "input_mb" -> c.inputBytes / 1048576.0)
    }
    val out = Map(
      "kind" -> "stream", "ops" -> Ops, "slots" -> spark.sparkContext.defaultParallelism,
      "setup" -> Setup.setupJson(setup),
      "noise" -> Map("start" -> noise0, "end" -> noise1),
      "retained_mb" -> retained, "closed_s" -> closedWall, "marks_s" -> marks.toMap,
      "open_s" -> openS, "rate" -> rate, "events" -> gen.next,
      "delivered" -> delivered, "traced_from_ms" -> tracedFromMs,
      "traced_to_ms" -> tracedToMs,
      "latency_ms" -> lat.map { case (k, v) => k -> v.toSeq },
      "gen_late_ms" -> late.toSeq,
      "gen_backlog_events" -> genBacklog,
      "backlog_mid_end" -> Seq(
        backlogAt.filter(_._1 <= openS / 2).lastOption.map(_._2).getOrElse(0L),
        backlogAt.lastOption.map(_._2).getOrElse(0L)),
      "failures" -> failures.toSeq,
      "progress" -> progs.values.toSeq.sortBy(p => (p.op, p.batchId)).map(p =>
        Map("op" -> p.op, "batch" -> p.batchId, "start_ms" -> p.startMs,
          "rows" -> p.rows, "durations" -> p.durations, "state" -> p.state,
          "watermark_lag_ms" -> p.watermarkLagMs, "phase" -> p.phase)),
      "self_s" -> (if (traceRun) tracer.selfSeconds() else Map.empty),
      "spans" -> tracer.all.size,
      "layer" -> layer)
    if (traceRun) tracer.writeJsonl(a("spans"))
    Util.writeFile(a("out"), Util.json(out))
    spark.stop()
  }
}

/** Each operator's sink output against its batch twin, computed over
  * exactly the events delivered (re-deliveries included). */
object Twins {
  def check(spark: SparkSession, delivered: Seq[Ev],
            sinks: Map[String, StreamRun.Sink]): Seq[String] = {
    import spark.implicits._
    val ev = delivered.toDF()
    val bad = ArrayBuffer[String]()
    def rows(op: String): Seq[Row] = sinks(op).batches.toSeq.flatMap(_._2)
    def same[T: Ordering](op: String, got: => Seq[T], want: => Seq[T]): Unit =
      if (sinks.contains(op) && got.sorted != want.sorted)
        bad += s"$op: ${got.size} rows differ from the batch twin's ${want.size}"

    // sessionization: the session identity is the session's start ms
    same("sessionCapped",
      rows("sessionCapped").map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("session_start_ms"))),
      graft.operators.Reactive.rxSessionCapped(ev)
        .withColumn("ss", min("ts_ms").over(Window.partitionBy("user_id", "session_id")))
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("ss"))).toSeq)
    same("rateLimit",
      rows("rateLimit").map(r => (r.getAs[Long]("event_id"), r.getAs[Boolean]("admitted"),
        r.getAs[Long]("tokens_micro"))),
      graft.operators.Reactive.rxRateLimit(ev).collect().map(r =>
        (r.getAs[Long]("event_id"), r.getAs[Boolean]("admitted"),
          r.getAs[Long]("tokens_micro"))).toSeq)

    if (sinks.contains("withLatestFrom")) checkLatest(ev, delivered,
      sinks("withLatestFrom").batches.toSeq.flatMap(_._2), bad)
    // running top-k: the last row written per (user, rank) is the
    // batch top-k over everything delivered
    val topk = mutable.Map[(Long, Int), (Long, Double)]()
    sinks.get("runningTopK").foreach(_.batches.sortBy(_._1).foreach(_._2.foreach { r =>
      topk((r.getAs[Long]("user_id"), r.getAs[Int]("rank"))) =
        (r.getAs[Long]("event_id"), r.getAs[Double]("value"))
    }))
    same("runningTopK", topk.toSeq.map { case ((u, k), (e, v)) => (u, k, e, v) },
      ev.withColumn("rank", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("value").desc, col("event_id").asc)))
        .filter(col("rank") <= 3).collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Int]("rank"), r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toSeq)
    same("dedup", rows("dedup").map(_.getAs[Long]("event_id")),
      ev.dropDuplicates("event_id").select("event_id").as[Long].collect().toSeq)
    bad.toSeq
  }

  private def checkLatest(ev: DataFrame, delivered: Seq[Ev], wlf: Seq[Row],
                          bad: ArrayBuffer[String]): Unit = {
    // withLatestFrom with idle TTL: an enrichment must equal the batch
    // twin's latest purchase; a missing one is allowed only when that
    // purchase is older than the TTL (its state may have been evicted)
    val twin = graft.operators.Reactive.rxWithLatestFrom(ev).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("latest_purchase"))
    val twinMap = twin.toMap
    val lastPurchaseTs = {
      val m = mutable.Map[Long, Long]() // click event_id -> previous purchase ts
      val lastP = mutable.Map[Long, Long]()
      delivered.sortBy(_.event_id).foreach { e =>
        if (e.event_type == "purchase") lastP(e.user_id) = e.ts.getTime
        else if (e.event_type == "click") lastP.get(e.user_id).foreach(t => m(e.event_id) = t)
      }
      m
    }
    val clickTs = delivered.map(e => e.event_id -> e.ts.getTime).toMap
    val enriched = wlf.filter(r => !r.isNullAt(r.fieldIndex("asof_value")))
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("asof_value")))
    if (!enriched.forall { case (id, v) => twinMap.get(id).contains(v) })
      bad += "withLatestFrom: an enrichment differs from the batch twin"
    val notEnriched = wlf.filter(r => r.isNullAt(r.fieldIndex("asof_value")))
      .map(_.getAs[Long]("event_id"))
    if (!notEnriched.forall(id => !twinMap.contains(id) ||
        clickTs(id) - lastPurchaseTs(id) > StreamRun.TtlMs))
      bad += "withLatestFrom: enrichment missing inside the TTL"
    val clicks = delivered.count(_.event_type == "click")
    if (wlf.size != clicks)
      bad += s"withLatestFrom: ${wlf.size} rows for $clicks delivered clicks"
  }
}
