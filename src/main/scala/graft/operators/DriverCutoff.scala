package graft.operators

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one route between a size-adaptive operator's DRIVER TWIN (an
  * in-memory copy of the operator, run on the driver) and its
  * distributed loop. Every such operator probes its input once
  * ([[probe]]), asks [[onDriver]] whether the probed size fits the
  * byte budget, collects only on the driver route and ships the
  * result back through [[frame]]. The twins exist because per-job
  * coordination dominates at small inputs (Drizzle, SOSP 2017), so
  * the decision itself costs one job and nothing more.
  *
  * Cutoffs are BYTES, not a per-op magic row count. The r11 cosource
  * incident is the motivating measurement: the union-find family
  * shipped with a uniform 2M-row cutoff chosen for (long, long) arc
  * frames, and the co-sourcing PROJECTION — the same 16-byte row
  * shape — landed at 4.25M edges at sf10, just past it, sending a
  * seconds-scale union-find onto ~20 min of GC-pressured
  * distributed label rounds. The row count was never the invariant;
  * the driver's memory is. Deriving each op's cutoff as budget ÷
  * documented-row-width makes the next projection-shaped frame
  * inherit the right bound instead of needing its own incident.
  *
  * Budget: 128 MiB of PACKED row payload. The collected Row objects
  * transiently cost a few× that on the driver heap (boxing + object
  * headers), which the 48 GiB driver absorbs; on a thin 4 GiB
  * cluster driver, scale `budgetBytes` down, not the per-op widths.
  * Above the cutoff every operator runs its distributed loop
  * unchanged — outputs are spec-pinned byte-equal across the
  * boundary, so the cutoff is pure execution policy.
  *
  * Specs force a route with [[withBudget]] (0 bytes: every operator
  * with a non-empty input goes distributed). The budget in force is
  * part of every [[FrameCache]] key, so a frame built on one route is
  * never served to a call forced onto the other.
  */
object DriverCutoff {
  val budgetBytes: Long = 128L << 20

  private val scoped = new DynamicVariable[Option[Long]](None)

  /** The budget in force: [[budgetBytes]] outside [[withBudget]]. */
  def budget: Long = scoped.value.getOrElse(budgetBytes)

  /** Test hook: runs `body` with the driver budget set to `bytes`.
    * Production code never calls it. */
  def withBudget[T](bytes: Long)(body: => T): T =
    scoped.withValue(Some(bytes))(body)

  /** Rows of `rowBytes`-wide packed payload inside the budget. */
  def rows(rowBytes: Long): Long = budget / rowBytes

  /** (long, long) id-pair frames: dedup/cosource union-find edges,
    * SCC/topo arc + condensation frames, harmonic BFS arcs. */
  def pairRows: Long = rows(16)

  /** (long, long, long) weighted-arc frames: SSSP's (a, b, cost). */
  def weightedArcRows: Long = rows(24)

  /** TIME crossover (not a memory bound) for FIXED-ROUND driver
    * twins over the un-thresholded bipartite pair frame (k-core
    * peel, HITS, BFS): their distributed cost is a fixed handful of
    * per-round jobs while the driver cost is the collect itself, so
    * past a few million rows the collect loses even though it fits
    * the byte budget comfortably. Measured (sf0.1 → sf1, quiet
    * host): 0.59M pairs — driver 0.6–1.3 s vs distributed 1.7–2.5 s;
    * 5.5M pairs — driver 5.8–8.1 s vs distributed 4.9–6.7 s. The
    * crossover sits ≈2M pairs; iterative ops over THRESHOLDED arc
    * frames (the key-level family, ≤ tens of k rows at sf10) keep
    * the plain byte budget. */
  def bipartiteCollectRows: Long = math.min(2000000L, pairRows)

  /** The size probe: `input`'s row count in ONE Spark job. It runs
    * the frame's own physical plan rather than a `count()` plan,
    * which under AQE adds a map-stage job and cannot reuse the
    * frame's shuffle output when the driver route then collects it
    * or the distributed route checkpoints it. */
  def probe(input: DataFrame): Long = input.queryExecution.toRdd.count()

  /** THE route decision: true = run the driver twin. `maxRows` is
    * one of the row bounds above, or [[rows]] of the row width. */
  def onDriver(probedRows: Long, maxRows: Long): Boolean =
    probedRows <= maxRows

  /** [[probe]] `input`, then decide. */
  def onDriver(input: DataFrame, maxRows: Long): Boolean =
    onDriver(probe(input), maxRows)

  /** A driver twin's result as a frame: parallelized, not a
    * LocalRelation — a LocalRelation encodes every row ON THE DRIVER
    * per execution (~60 s of the 890k-node sf10 SCC pass), while
    * parallelize slices the raw tuples and converts on executors. */
  def frame[T <: Product : ClassTag : TypeTag](spark: SparkSession,
                                               rows: Seq[T],
                                               columns: String*)
      : DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 32))
      .toDF(columns: _*)
}
