package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main (Bench, Verify, PlanAudit,
  * StoreMicro) and the test harness build: `local[cpus]` with as many
  * shuffle partitions as cores, the UTC session time zone, nanosecond
  * parquet timestamps read as longs (see `SparkEntry.events`), no UI and
  * WARN logging. Also home of the one strict reader for integer env
  * values. */
object LocalSession {

  /** Strict positive-int env parse: an unset variable takes `default`;
    * anything but a positive integer throws an IllegalArgumentException
    * naming the variable, instead of surfacing later as an opaque Spark
    * error (a bad master URL, a bad partition count). */
  def parsePositiveInt(name: String, raw: Option[String], default: Int): Int =
    raw.map { v =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'")
      }
      require(n > 0, s"$name must be > 0, got '$v'")
      n
    }.getOrElse(default)

  /** Reads `name` from the environment through [[parsePositiveInt]]. */
  def envInt(name: String, default: Int): Int =
    parsePositiveInt(name, sys.env.get(name), default)

  /** The session, `cpus` wide: SPARK_GRAFT_CPUS unless given, default 4. */
  def build(cpus: Int = envInt("SPARK_GRAFT_CPUS", default = 4)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
