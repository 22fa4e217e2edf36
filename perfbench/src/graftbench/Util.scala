package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Small helpers shared by the batch and stream runs: clocks, JSON
  * output, the host-noise probe and JVM memory readings. */
object Util {
  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long = now()): Double = (t1 - t0) / 1e9
  def wallMs(): Long = System.currentTimeMillis()

  /** Minimal JSON writer for maps, sequences, strings, numbers. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => json(other.toString)
  }
  def writeFile(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(UTF_8))
  }

  /** Fixed-work integer spin (the same loop as graft.Bench's probe):
    * its duration tracks how much CPU the host is giving this run. */
  def spinSec(): Double = {
    val t0 = now()
    var x = 0L; var i = 0
    while (i < 400000000) { x += i & 7; i += 1 }
    require(x > 0, "spin optimized away")
    secs(t0)
  }
  private def readF(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), UTF_8))
    catch { case _: Throwable => None }
  def load5(): Double =
    readF("/proc/loadavg").map(_.split(" ")(1).toDouble).getOrElse(-1.0)
  def cpu300(): Double = readF("/proc/pressure/cpu").flatMap(
    _.linesIterator.find(_.startsWith("some"))
      .flatMap(_.split(" ").find(_.startsWith("avg300="))
        .map(_.stripPrefix("avg300=").toDouble))).getOrElse(-1.0)
  def noise(): Map[String, Double] =
    Map("spin_s" -> spinSec(), "load5" -> load5(), "cpu300" -> cpu300())

  /** Driver-JVM GC time so far (all collectors), seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Heap in use after a full collection, MB. */
  def retainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Double.MaxValue
    // repeat until the figure settles: one System.gc() can leave
    // objects awaiting finalization or reference processing
    for (_ <- 1 to 3) {
      System.gc(); Thread.sleep(100)
      last = math.min(last, mem.getHeapMemoryUsage.getUsed / 1048576.0)
    }
    last
  }
}
