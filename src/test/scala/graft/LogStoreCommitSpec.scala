package graft

import graft.sources.{BucketedLogUpsertSource, GenLog, GenLogStore, LogUpsertSource}
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** The local filesystem under the `faulty://` scheme. It counts the
  * mutating calls (create, mkdirs, rename, delete) and, once armed at N,
  * fails the Nth call and every later one: the process died there. The
  * scheme is registered with the FS cache off, so the count lives in the
  * companion, shared by every instance. */
class FaultyLocalFileSystem extends RawLocalFileSystem {
  import FaultyLocalFileSystem.step
  override def getUri: java.net.URI = FaultyLocalFileSystem.Uri
  override def getScheme: String = FaultyLocalFileSystem.Scheme
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    step(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    step(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { step(); super.mkdirs(f, permission) }
  override def mkdirs(f: Path): Boolean = { step(); super.mkdirs(f) }
  override def rename(src: Path, dst: Path): Boolean = { step(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { step(); super.delete(p, recursive) }
}

object FaultyLocalFileSystem {
  val Scheme = "faulty"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  private val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var failAt = Int.MaxValue

  def register(conf: org.apache.hadoop.conf.Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultyLocalFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }
  /** Run `body` with the Nth mutating call failing (never, by default);
    * returns the number of mutating calls made. */
  def run(failAtCall: Int = Int.MaxValue)(body: => Unit): Int = {
    calls.set(0); failAt = failAtCall
    try body finally failAt = Int.MaxValue
    calls.get
  }
  private def step(): Unit =
    if (calls.incrementAndGet() >= failAt) throw new java.io.IOException("injected crash")
}

/** Crash atomicity of the generation-log commit: overwrite, compact and
  * compactTail on both layouts, crashed at every mutating filesystem call,
  * leave a store that reads as the state before or the state after the
  * operation, and that a following compact folds without changing it. */
class LogStoreCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val layouts: Seq[(String, String => GenLogStore)] = Seq(
    "plain" -> (p => LogUpsertSource(p, Seq("id"), autoCompactEvery = 100)),
    "bucketed" -> (p => BucketedLogUpsertSource(p, Seq("id"), numBuckets = 2,
      autoCompactEvery = 100)))
  private lazy val replacement = Seq((1L, "n1"), (5L, "n5")).toDF("id", "v")
  private val ops: Seq[(String, GenLogStore => Unit)] = Seq(
    "overwrite" -> (s => s.overwrite(replacement)),
    "compact" -> (s => s.compact(spark)),
    "compactTail" -> (s => s.compactTail(spark)))

  private def state(s: GenLogStore): Map[Long, String] =
    s.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Three generations with overlapping keys, written through the local FS. */
  private def seed(open: String => GenLogStore): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_commit").toString + "/s"
    val s = open(dir)
    s.upsert(Seq((1L, "a0"), (2L, "b0"), (3L, "c0")).toDF("id", "v"), Seq("id"))
    s.upsert(Seq((2L, "b1"), (4L, "d1")).toDF("id", "v"), Seq("id"))
    s.upsert(Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
    dir
  }
  private def copyOf(dir: String): String = {
    val to = java.nio.file.Files.createTempDirectory("graft_commit_run").toString + "/s"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir), new java.io.File(to))
    to
  }

  for ((layout, open) <- layouts; (opName, op) <- ops)
    test(s"$opName on the $layout layout: a crash at any filesystem call leaves " +
        "the before or the after state, and compact then keeps it") {
      FaultyLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
      val template = seed(open)
      val before = state(open(template))
      val after = if (opName == "overwrite") Map(1L -> "n1", 5L -> "n5") else before
      val clean = copyOf(template)
      val total = FaultyLocalFileSystem.run()(op(open(s"faulty://$clean")))
      assert(state(open(clean)) == after, "the uncrashed operation itself is wrong")
      assert(total > 0, "the operation made no filesystem call through the faulty scheme")
      info(s"$total crash points")
      for (n <- 1 to total) {
        val dir = copyOf(template)
        FaultyLocalFileSystem.run(n) {
          try op(open(s"faulty://$dir")) catch { case NonFatal(_) => () }
        }
        val store = open(dir)
        val got = state(store)
        assert(got == before || got == after,
          s"crash at call $n of $total left neither state: $got")
        store.compact(spark)
        assert(state(store) == got, s"compact after the crash at call $n of $total changed the state")
      }
    }
}

/** `GenLog.boundGenFiles` skips the repartition when the frame already has
  * no more partitions than the bound, and decides that without a job. */
class GenFilesBoundSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def repartitions(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect { case r: Repartition => r.numPartitions }

  test("a 1-partition frame gets no exchange; a 32-partition small frame is " +
      "still bounded; neither check starts a job") {
    val sc = spark.sparkContext
    val one = spark.range(0, 500, 1, 1).toDF("id")
    val fanned = spark.range(0, 500).repartition(32).toDF("id")
    sc.setJobGroup("bound-check", "boundGenFiles checks")
    val (kept, bounded) =
      try (GenLog.boundGenFiles(one), GenLog.boundGenFiles(fanned))
      finally sc.clearJobGroup()
    assert(kept eq one, "a 1-partition frame must pass through unchanged")
    assert(repartitions(kept).isEmpty)
    assert(!kept.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(repartitions(bounded) == Seq(1), s"fanned frame not bounded: ${repartitions(bounded)}")
    // the status store sees jobs in submission order: once a later probe
    // job is visible, any job the checks started would be too
    sc.setJobGroup("bound-probe", "probe")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("bound-probe").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup("bound-probe").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup("bound-check").isEmpty,
      "the partition check started a Spark job")
  }
}

/** Store paths resolve on their OWN filesystem, not the default one: a
  * registry, a dataset manifest and a file cache under a non-default
  * scheme (`faulty://`, no fault armed) all round-trip. */
class OwnFileSystemSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dir(): String = {
    FaultyLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
    s"${FaultyLocalFileSystem.Scheme}://" +
      java.nio.file.Files.createTempDirectory("graft_ownfs").toString
  }

  test("ContractStore.saveTo/loadFrom round-trip a registry on a non-default scheme") {
    import graft.contract._
    import graft.core.FeatureType._
    val path = s"${dir()}/registry.json"
    val v = FeatureView("signals", graft.sources.ParquetSource("/data/signals"),
      entities = Seq(Feature("id", FInt64)), features = Seq(Feature("clicks", FInt64)))
    new graft.store.ContractStore().addView(v).saveTo(spark, path)
    val back = new graft.store.ContractStore().loadFrom(spark, path)
    assert(back.views.keySet == Set("signals"))
    assert(ContractJson.toJson(back.views("signals")) == ContractJson.toJson(v))
  }

  test("DatasetStore and Caching.fileCached work on a non-default scheme") {
    val root = dir()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val ds = new graft.ml.DatasetStore(s"$root/datasets")
    assert(!ds.exists(spark, "d1"))
    assert(ds.saveOrLoad(spark, "d1", "train")(Map("train" -> df)).count() == 2)
    assert(ds.exists(spark, "d1"))
    var computed = 0
    def make = { computed += 1; df }
    val first = graft.ops.Caching.fileCached(spark, s"$root/cache")(make)
    val second = graft.ops.Caching.fileCached(spark, s"$root/cache")(make)
    assert(first.count() == 2 && second.count() == 2 && computed == 1)
  }
}
