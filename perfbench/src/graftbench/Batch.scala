package graftbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, to_json, xxhash64}
import org.apache.spark.sql.types.MapType

/** Batch workloads: one client, closed loop. A cold pass calls every
  * key once in the fresh JVM, then `passes` whole warm passes repeat the
  * keys in the same order. */
object Batch {
  /** One execution of one key: `SparkEntry.queries(k)(spark, dir)`
    * (build), planning of the checksum Dataset (plan) and the checksum
    * action (execute). */
  final case class Exec(key: String, pass: Int, traced: Boolean,
                        buildS: Double, planS: Double, execS: Double,
                        checksum: Option[String], error: Option[String],
                        timedOut: Boolean, newRdds: Int, protectedRdds: Int,
                        catalystMs: Map[String, Double], gcS: Double) {
    def totalS: Double = buildS + planS + execS
  }

  /** graft.Bench's output fold: every column hashed into one xxhash64
    * (map columns via to_json) and folded with bit_xor, so the whole
    * output is evaluated while one row reaches the driver. */
  def checksumDs(df: DataFrame): Dataset[Row] = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    df.select(xxhash64(cols.toSeq: _*).as("h")).agg(expr("bit_xor(h)"))
  }

  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graftbench-watchdog"); t.setDaemon(true); t
  }

  /** Drop what a query left persisted (its localCheckpoint blocks),
    * keeping the frames FrameCache shares across queries — the same
    * query-boundary cleanup graft.Bench does, outside the timed window. */
  def cleanup(spark: SparkSession): Unit = {
    val keep = graft.operators.FrameCache.protectedIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  def runOne(spark: SparkSession, dir: String, key: String, pass: Int,
             tracer: Tracer, traced: Boolean, parent: Long,
             timeoutS: Double): Exec = {
    val sc = spark.sparkContext
    val trace = s"$key#$pass"
    val fn = graft.SparkEntry.queries(key)
    val before = sc.getPersistentRDDs.keySet
    val gc0 = Util.gcSeconds()
    val timedOut = new AtomicBoolean(false)
    sc.setJobGroup(trace, trace, interruptOnCancel = true)
    val alarm = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut.set(true); sc.cancelJobGroup(trace) }
    }, (timeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
    var (buildS, planS, execS) = (0.0, 0.0, 0.0)
    var checksum: Option[String] = None
    var error: Option[String] = None
    var catalyst = Map.empty[String, Double]
    def phase[T](name: String, qid: Long)(body: => T): (T, Double) =
      tracer.span(name, qid, trace) { sid =>
        if (traced) Tracing.tag(sc, trace, name, sid)
        val t0 = Util.now()
        val r = body
        (r, Util.secs(t0))
      }
    try {
      tracer.span("query", parent, trace) { qid =>
        val (df, b) = phase("build", qid)(fn(spark, dir)); buildS = b
        val ds = checksumDs(df)
        val (_, p) = phase("plan", qid)(ds.queryExecution.executedPlan); planS = p
        val (rows, e) = phase("execute", qid)(ds.collect()); execS = e
        checksum = Some(if (rows.head.isNullAt(0)) "null" else rows.head.getLong(0).toString)
        if (traced) catalyst = ds.queryExecution.tracker.phases.map {
          case (k, v) => k -> v.durationMs.toDouble }
      }
    } catch {
      case t: Throwable =>
        error = Some((t.getClass.getSimpleName + ": " + t.getMessage).take(300))
    } finally {
      alarm.cancel(false)
      sc.clearJobGroup()
      if (traced) Tracing.untag(sc)
    }
    val created = (sc.getPersistentRDDs.keySet -- before).size
    val gcS = Util.gcSeconds() - gc0
    cleanup(spark)
    Exec(key, pass, traced, buildS, planS, execS, checksum, error,
      timedOut.get, created, graft.operators.FrameCache.protectedIds.size,
      catalyst, gcS)
  }

  def run(a: Map[String, String]): Unit = {
    val dir = a("data")
    val keys = a("keys").split(",").toSeq.filter(_.nonEmpty)
    val traceRun = a("trace") == "1"
    val timeoutS = a("query_timeout").toDouble
    val setup = Setup.run(a)(Setup.openTables(dir))
    val spark = setup.spark
    val noise0 = Util.noise()
    val tracer = new Tracer(traceRun)
    val listener = new ExecListener(tracer)
    var attached = false
    // In a traced run the cold pass is traced and the warm passes
    // alternate untraced, traced, traced, untraced (ABBA, over a multiple
    // of four passes), so warm-up drift cancels and the traced minus the
    // untraced warm time is the tracing overhead.
    def setTraced(on: Boolean): Unit = if (on != attached) {
      if (on) spark.sparkContext.addSparkListener(listener)
      else { Thread.sleep(300); spark.sparkContext.removeSparkListener(listener) }
      attached = on
    }
    val execs = ArrayBuffer[Exec]()
    var warmS = 0.0
    tracer.span("workload", 0L, "workload") { wid =>
      setTraced(traceRun)
      keys.foreach(k => execs += runOne(spark, dir, k, 0, tracer, traceRun, wid, timeoutS))
      // a fixed number of whole warm passes: every key gets the same
      // number of executions, and every run the same amount of work
      val t0 = Util.now()
      for (pass <- 1 to a("passes").toInt) {
        val traced = traceRun && Set(1, 2).contains((pass - 1) % 4)
        setTraced(traced)
        keys.foreach(k => execs += runOne(spark, dir, k, pass, tracer, traced, wid, timeoutS))
      }
      warmS = Util.secs(t0)
    }
    Thread.sleep(if (traceRun) 1000 else 0) // let the listener bus drain
    val layer = execs.map { e =>
      val t = s"${e.key}#${e.pass}"
      val all = listener.sum((tr, _) => tr == t)
      val build = listener.sum((tr, p) => tr == t && p == "build")
      Map("jobs" -> all.jobs, "stages" -> all.stages, "tasks" -> all.tasks,
        "failed_tasks" -> all.failedTasks, "task_s" -> all.taskNs / 1e9,
        "cpu_s" -> all.cpuNs / 1e9, "gc_s" -> all.gcMs / 1e3,
        "shuffle_write_mb" -> all.shuffleWrite / 1048576.0,
        "shuffle_read_mb" -> all.shuffleRead / 1048576.0,
        "spill_mb" -> all.spill / 1048576.0,
        "result_mb" -> all.resultBytes / 1048576.0,
        "input_mb" -> all.inputBytes / 1048576.0,
        "build_jobs" -> build.jobs)
    }
    val noise1 = Util.noise()
    val retained = Util.retainedMb()
    val out = Map(
      "kind" -> "batch", "keys" -> keys, "warm_window_s" -> warmS,
      "slots" -> spark.sparkContext.defaultParallelism,
      "setup" -> Setup.setupJson(setup),
      "noise" -> Map("start" -> noise0, "end" -> noise1),
      "retained_mb" -> retained,
      "self_s" -> (if (traceRun) tracer.selfSeconds() else Map.empty),
      "spans" -> tracer.all.size,
      "execs" -> execs.zip(layer).map { case (e, l) =>
        Map("key" -> e.key, "pass" -> e.pass, "traced" -> e.traced,
          "build_s" -> e.buildS, "plan_s" -> e.planS, "exec_s" -> e.execS,
          "total_s" -> e.totalS, "checksum" -> e.checksum, "error" -> e.error,
          "timeout" -> e.timedOut, "new_rdds" -> e.newRdds,
          "protected_rdds" -> e.protectedRdds, "catalyst_ms" -> e.catalystMs,
          "jvm_gc_s" -> e.gcS, "layer" -> (if (e.traced) l else Map.empty))
      })
    if (traceRun) tracer.writeJsonl(a("spans"))
    Util.writeFile(a("out"), Util.json(out))
    spark.stop()
  }

  /** Expected-output recording: every key twice (cold then warm) in
    * one JVM, one line per key, appended as it goes so a crash keeps
    * the keys done so far. */
  def record(a: Map[String, String]): Unit = {
    val dir = a("data")
    val spark = Setup.session(a("master"), a("partitions").toInt)
    val tracer = new Tracer(false)
    val keys = a.get("keys").map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val w = new java.io.FileWriter(a("out"), true)
    keys.foreach { k =>
      val runs = Seq(0, 1).map(p => runOne(spark, dir, k, p, tracer, traced = false,
        0L, a("query_timeout").toDouble))
      w.write(Util.json(Map("key" -> k,
        "checksums" -> runs.map(_.checksum), "errors" -> runs.map(_.error),
        "total_s" -> runs.map(_.totalS))) + "\n")
      w.flush()
    }
    w.close()
    spark.stop()
  }
}
