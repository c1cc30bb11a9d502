package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark JVM (see run.py, which builds, generates
  * the inputs, launches this and checks the outputs). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    inputs: String, work: String, cores: Int, setupReps: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("inputs"), need("work"),
      m.get("cores").map(_.toInt).getOrElse(4), m.get("setup-reps").map(_.toInt).getOrElse(3))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest of p50/p90/p99 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq(0.99 -> "p99", 0.9 -> "p90").collectFirst {
      case (q, n) if xs.size * (1 - q) >= 10 => n -> quantile(xs, q)
    }.getOrElse("p50" -> quantile(xs, 0.5))
}

object Main {
  def session(a: Args): SparkSession = SparkSession.builder()
    .master(s"local[${a.cores}]")
    .appName(s"graft-perfbench-${a.workload}")
    .config("spark.sql.shuffle.partitions", a.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${a.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .getOrCreate()

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)

  /** Heap still live after a full collection: what the run retains, read
    * the same way every time (peak RSS depends on when the collector ran). */
  def liveHeapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    System.gc()
    // usage right after that collection, not whatever was allocated since
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed.toDouble).sum / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val wl = Workload(a)
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    // set-up is repeated and reported as a median: session start, input
    // load, store preload and warm-up, up to the first timed op
    for (rep <- 0 until a.setupReps) {
      if (spark != null) { wl.stop(); spark.stop() }
      val t0 = Clock.nowMs
      spark = session(a)
      wl.setup(spark, rep)
      // the first, cold repetition also runs the JIT warm-up; being the
      // slowest it is never the median
      if (rep == 0) wl.warmup(spark)
      setups += (Clock.nowMs - t0) / 1000
    }
    val tracer = if (a.trace) Some(new Tracer(spark, a.cores)) else None
    tracer.foreach(_.install())
    wl.measure(spark, a.seconds, tracer)
    val rss = peakRssMb()
    val heap = liveHeapMb()
    wl.stop()
    wl.finish(spark)
    tracer.foreach(_.drain())
    val layers = tracer.map(wl.layers).getOrElse(Map.empty)
    tracer.foreach(_.uninstall())
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_s" -> setups.toSeq,
      "e2e" -> (wl.e2e ++ Map("live_heap_mb" -> heap)),
      "report" -> (wl.report ++ Map("peak_rss_mb" -> rss)),
      "layers" -> layers,
      "checks" -> wl.checks)
    spark.stop()
    Files.write(Paths.get(a.work, "result.json"), Json(result).getBytes(StandardCharsets.UTF_8))
  }
}
