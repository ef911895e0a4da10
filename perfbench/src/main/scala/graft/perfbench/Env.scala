package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything a workload run shares: the session, its own scratch
  * directory inside the checkout, the tracer, the named samples it
  * records, and the attempted/failed operation counts.
  */
final class Env(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val dir: Path) {

  val tracer = new Tracer(spark)
  val counters = new Counters

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val tracedSteps = mutable.ArrayBuffer.empty[Double]
  private val untracedSteps = mutable.ArrayBuffer.empty[Double]

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def sampleNames: Seq[String] = samples.keys.toSeq
  def get(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def set(name: String, v: Double): Unit = counts(name) = v
  def value(name: String): Option[Double] = counts.get(name)

  /** Seconds `body` took, recorded under `name` when given. */
  def time[A](name: String = "")(body: => A): (A, Double) = {
    val t0 = System.nanoTime
    val r = body
    val dt = (System.nanoTime - t0) / 1e9
    if (name.nonEmpty) add(name, dt)
    (r, dt)
  }

  /** One counted operation: an exception fails it and is reported. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** One correctness check, counted as an operation. */
  def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok).foreach(passed => if (!passed) fail(s"check failed: $what"))

  private val born = System.nanoTime

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime - born) / 1e9}%.1fs $msg")

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Whether the measured phase still has time left. */
  def timeLeft(startNs: Long): Boolean = (System.nanoTime - startNs) / 1e9 < seconds

  /** Steps the steady loop runs at least: a traced run needs five, one
    * to warm up and four for a balanced traced/untraced comparison.
    */
  def minSteps: Int = if (trace) 5 else 2

  /** Whether step `i` runs traced: in a traced run, step 0 still warms
    * up and counts for neither side; then steps go traced, untraced,
    * untraced, traced, ..., so warm-up drift does not bias the overhead
    * estimate.
    */
  def traced(i: Int): Boolean = trace && i > 0 && ((i - 1) % 4 == 0 || (i - 1) % 4 == 3)

  /** Step `i` of the steady loop, traced or not per [[traced]]. */
  def step[A](i: Int)(body: => A): (A, Double) = {
    tracer.on = traced(i)
    tracer.request += 1
    val on = tracer.on
    val r = time()(tracer.span("bench.step")(body))
    if (i > 0) (if (on) tracedSteps else untracedSteps) += r._2
    tracer.on = trace
    r
  }

  def overheadPct: Double =
    if (tracedSteps.isEmpty || untracedSteps.isEmpty) 0.0
    else 100.0 * (Stats.median(tracedSteps.toSeq) / Stats.median(untracedSteps.toSeq) - 1.0)
}

object Stats {
  /** Linear-interpolated quantile (the default of numpy/R type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Host {
  def cpus: Int = Runtime.getRuntime.availableProcessors

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  /** Bytes under a directory (0 when absent). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def files(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).count()
      finally s.close()
    }

  /** Names of the entries directly under a directory (none when absent). */
  def entries(p: Path): Set[String] =
    if (!Files.isDirectory(p)) Set.empty
    else {
      val s = Files.list(p)
      try s.iterator.asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    (sb += '"').toString
  }

  /** A measured number with all its digits; non-finite values are not
    * JSON, so they become null.
    */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
