package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the graft benchmark. `perfbench/run.py` picks the
  * workload's keys or stream parameters from the seed and calls
  *
  * {{{
  *   graftbench.Main --mode batch|stream|record --out result.json ...
  * }}}
  *
  * The JVM runs the workload through the program's public entry points
  * (`GraftSession.builder`, `SparkEntry.queries`, `ReactiveStreams.*`)
  * and writes raw observations as JSON; run.py turns them into
  * metrics and checks the outputs. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "batch" => Batch.run(a)
      case "stream" => StreamRun.run(a)
      case "record" => Batch.record(a)
      case m => sys.error(s"unknown mode $m")
    }
  }
}

/** The set-up phase every workload shares: build the session and open
  * the inputs, once, in the fresh JVM. The total is timed from JVM start
  * (what a user waits for before the first query can be issued). */
object Setup {
  final case class Result(spark: SparkSession, total: Double, session: Double, open: Double)

  def session(master: String, partitions: Int): SparkSession = {
    val s = graft.GraftSession.builder(master, partitions).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(a: Map[String, String])(open: SparkSession => Unit): Result = {
    val t0 = Util.now()
    val spark = session(a("master"), a("partitions").toInt)
    val t1 = Util.now()
    open(spark)
    val t2 = Util.now()
    Result(spark, (Util.wallMs() - Util.jvmStartMs()) / 1e3, Util.secs(t0, t1),
      Util.secs(t1, t2))
  }

  /** Open every table the batch queries read: resolves each parquet
    * file's schema, which reads its footer. */
  def openTables(dir: String)(spark: SparkSession): Unit = {
    import graft.sources.Tables
    Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
      .foreach(t => t(spark, dir).schema)
  }

  def setupJson(r: Result): Map[String, Any] =
    Map("total_s" -> r.total, "session_s" -> r.session, "open_s" -> r.open)
}
