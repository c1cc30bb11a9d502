package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Duration

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.contract._
import graft.core.FeatureType.{FBool, FInt32, FInt64, FString}
import graft.sources.{BucketedLogUpsertSource, LogUpsertSource, ParquetSource}
import graft.store.ContractStore
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** One benchmark workload. `setup` runs once per set-up repetition on a
  * fresh session; `measure` runs the timed loop once, on the last one. */
abstract class Workload(val a: Args) {
  def setup(spark: SparkSession, rep: Int): Unit
  def measure(spark: SparkSession, seconds: Double, tr: Option[Tracer]): Unit
  /** The two end-to-end figures every workload reports: the median of its
    * primary op and its work rate. */
  def e2e: Map[String, Double]
  def report: Map[String, Any]
  def layers(tr: Tracer): Map[String, Double]
  def checks: Map[String, Any]
  /** Extra ops after the first set-up, until the JIT has compiled the hot
    * paths and op times stop falling. */
  def warmup(spark: SparkSession): Unit = ()
  def stop(): Unit = ()
  /** Untimed: write what the output checks need. */
  def finish(spark: SparkSession): Unit = ()

  protected val in: String = a.inputs
  protected val work: String = a.work

  /** Run `f` as one op: traced as a root span when tracing, else timed. */
  protected def op[T](tr: Option[Tracer], kind: String)(f: OpRec => T): (T, OpRec) = tr match {
    case Some(t) => var rec: OpRec = null; val r = t.op(kind) { o => rec = o; f(o) }; (r, rec)
    case None =>
      val rec = new OpRec(-1, kind, Clock.nowMs)
      val r = f(rec); rec.end = Clock.nowMs; (r, rec)
  }

  protected def span[T](tr: Option[Tracer], name: String, layer: String)(f: => T): T =
    tr.fold(f)(_.span(name, layer)(f))

  /** Every per-layer name, 0 where this workload does not reach the layer. */
  protected def allLayers(m: Map[String, Double]): Map[String, Double] =
    Workload.layerNames.map(n => n -> m.getOrElse(n, 0.0)).toMap ++
      m.filter { case (k, _) => k.startsWith("self.") || k.startsWith("trace.") }
}

object Workload {
  def apply(a: Args): Workload = a.workload match {
    case "pit_training" => new PitTraining(a)
    case "online_serving" => new OnlineServing(a)
    case "curation_recipe" => new CurationRun(a)
    case "stream_ingest" => new StreamIngest(a)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  val layerNames: Seq[String] = Seq(
    "store.build_ms", "store.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compile_count", "codegen.compile_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.gc_ms", "exec.sched_wait_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.core_busy_share", "exec.stage_skew",
    "sources.upsert_ms", "sources.fold_count", "sources.fold_ms", "sources.gens_live",
    "sources.write_amp", "sources.space_amp", "sources.rows_read_per_row_returned",
    "streaming.batches", "streaming.rows_per_batch", "streaming.trigger_ms",
    "streaming.latest_offset_ms", "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.state_commit_ms",
    "streaming.state_rows", "streaming.state_memory_bytes", "streaming.sink_upsert_ms",
    "streaming.input_backlog_files",
    "contract.kept_ratio", "contract.retained_block_bytes",
    "trace.op_p50_ms", "trace.ops", "trace.covered_share")

  val userId: Feature = Feature("user_id", FInt64)

  /** A log store's data files (path -> bytes; hidden files left out) and
    * its live generations, read by listing the directory from outside. */
  def storeListing(path: String): (Map[String, Long], Int) = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) (Map.empty, 0) else {
      val files = Files.walk(root).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .map(f => f.toString -> Files.size(f)).toMap
      (files, root.toFile.list().count(_.startsWith("__gen=")))
    }
  }

  def storeBytes(path: String): Long = storeListing(path)._1.values.sum

  /** One upsert into a log store, seen by listing the store around it. An
    * upsert folded if a data file that existed before it is gone after it. */
  final case class StoreWrite(start: Double, end: Double, folded: Boolean, gensAfter: Int,
      bytesWritten: Long, batchBytes: Long)

  def storeWrite(before: (Map[String, Long], Int), after: (Map[String, Long], Int),
      start: Double, end: Double, batchBytes: Long): StoreWrite = {
    val ((files0, _), (files1, gens1)) = (before, after)
    StoreWrite(start, end,
      folded = files0.keys.exists(p => p.endsWith(".parquet") && !files1.contains(p)),
      gensAfter = gens1,
      bytesWritten = files1.collect { case (p, n) if !files0.contains(p) => n }.sum,
      batchBytes = batchBytes)
  }

  /** The sources metrics of a run's upserts: fold count and fold upsert
    * time, live generations after each upsert, bytes written over the
    * bytes of the user batches. */
  def writeMetrics(ws: Seq[StoreWrite]): Map[String, Double] = {
    val batch = ws.map(_.batchBytes).sum
    Map("sources.fold_count" -> ws.count(_.folded).toDouble,
      "sources.fold_ms" -> Stats.median(ws.filter(_.folded).map(w => w.end - w.start)),
      "sources.gens_live" -> Stats.median(ws.map(_.gensAfter.toDouble)),
      "sources.write_amp" -> (if (batch == 0) 0.0 else ws.map(_.bytesWritten).sum.toDouble / batch))
  }

  /** Block-manager bytes (memory + disk) still held by cached or
    * checkpointed RDDs. */
  def retainedBlockBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => (r.memSize + r.diskSize).toDouble).sum

  /** An integer recorded by the generator in the inputs' properties.json. */
  def prop(in: String, key: String): Long = {
    val txt = new String(Files.readAllBytes(Paths.get(in, "properties.json")))
    (s""""$key":\\s*([0-9]+)""".r).findFirstMatchIn(txt).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"$key missing from $in/properties.json"))
  }
}

/** pit_training: each op builds a training set for a fresh seeded fact
  * frame with `featuresFor` over three views (a PIT feature with a TTL,
  * 24 h windowed PIT aggregates, a timestamp-less profile view) and writes
  * it as parquet. */
final class PitTraining(a: Args) extends Workload(a) {
  private val refs = Seq("last_amount:amount", "activity_24h:amount_sum_24h",
    "activity_24h:events_24h", "profile:segment", "profile:tier")
  private val factSchema = StructType(Seq(StructField("fact_id", LongType),
    StructField("user_id", LongType), StructField("event_timestamp", TimestampType),
    StructField("label", IntegerType)))
  private var store: ContractStore = _
  private val done = ArrayBuffer.empty[(Int, String, OpRec)]
  private lazy val factRows: Long = Workload.prop(in, "rows_per_op")
  private val sets = new File(s"$in/facts").list().count(_.startsWith("set-"))

  def setup(spark: SparkSession, rep: Int): Unit = {
    val events = ParquetSource(s"$in/events")
    val window = Some(AggregationWindow(Duration.ofHours(24)))
    store = new ContractStore()
      .addView(FeatureView("last_amount", events, entities = Seq(Workload.userId),
        features = Seq(Feature("amount", FInt64)),
        eventTimestamp = Some(EventTimestamp("event_ts", Some(Duration.ofHours(12))))))
      .addView(FeatureView("activity_24h", events, entities = Seq(Workload.userId),
        features = Seq(Feature("amount", FInt64)),
        aggregates = Seq(
          AggregatedFeature("amount_sum_24h", FInt64, AggFunc.Sum, "amount", window),
          AggregatedFeature("events_24h", FInt64, AggFunc.Count, "amount", window)),
        eventTimestamp = Some(EventTimestamp("event_ts"))))
      .addView(FeatureView("profile", ParquetSource(s"$in/profiles"),
        entities = Seq(Workload.userId),
        features = Seq(Feature("segment", FString), Feature("tier", FInt32))))
    trainingSet(spark, 0, s"$work/warm-$rep", None)
  }

  private def trainingSet(spark: SparkSession, set: Int, out: String, tr: Option[Tracer]): Unit = {
    val facts = spark.read.schema(factSchema).parquet(f"$in/facts/set-$set%03d")
    val df = span(tr, "store.build", "store") { store.featuresFor(spark, facts, refs) }
    span(tr, "materialize", "materialize") { df.write.mode("overwrite").parquet(out) }
  }

  override def warmup(spark: SparkSession): Unit =
    for (i <- 0 until 12) trainingSet(spark, sets - 1 - i, s"$work/warm-jit", None)

  def measure(spark: SparkSession, seconds: Double, tr: Option[Tracer]): Unit = {
    val deadline = Clock.nowMs + seconds * 1000
    var i = 0
    while (Clock.nowMs < deadline) {
      val set = 1 + i % (sets - 1)
      val out = s"$work/out/pit-$i"
      val (_, rec) = op(tr, "train") { _ => trainingSet(spark, set, out, tr) }
      if (tr.nonEmpty) {
        rec.attrs("contract.kept_ratio") = spark.read.parquet(out).count().toDouble / factRows
        rec.attrs("contract.retained_block_bytes") = Workload.retainedBlockBytes(spark)
      }
      done += ((set, out, rec))
      i += 1
    }
  }

  private def walls = done.map(_._3.wall).toSeq
  def e2e: Map[String, Double] = Map(
    "op_p50_ms" -> Stats.median(walls),
    "work_per_s" -> factRows * done.size / (walls.sum / 1000))
  def report: Map[String, Any] = Map(
    "train_call_p50_s" -> Stats.median(walls) / 1000,
    "train_rows_per_s" -> factRows * done.size / (walls.sum / 1000),
    "ops" -> done.size, "train_ms" -> walls)
  def layers(tr: Tracer): Map[String, Double] = {
    val m = tr.layerMetrics(Set("train"))
    allLayers(m ++ Map("trace.op_p50_ms" -> m("wall_ms")))
  }
  def checks: Map[String, Any] = Map("kind" -> "pit",
    "ops" -> done.map { case (set, out, _) => Map("set" -> set, "out" -> out) })
}

/** online_serving: a closed loop mixing `onlineFeaturesFor` lookups of 32
  * keys (collected) with 2k-row upserts into the view's
  * BucketedLogUpsertSource, at the store's default compaction policy. */
final class OnlineServing(a: Args) extends Workload(a) {
  private val schema = StructType(Seq(StructField("user_id", LongType),
    StructField("score", LongType), StructField("flag", BooleanType),
    StructField("updated_at", TimestampType)))
  private val keySchema = StructType(Seq(StructField("user_id", LongType)))
  private val refs = Seq("user_live:score", "user_live:flag", "user_live:updated_at")
  private val (lookups, first) = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(s"$in/mix.json"))
    (tree.get("lookups").elements().asScala.map(_.elements().asScala.map(_.asLong).toIndexedSeq).toIndexedSeq,
      tree.get("first").elements().asScala.map(_.asText).toIndexedSeq)
  }
  private var storePath: String = _
  private var src: BucketedLogUpsertSource = _
  private var store: ContractStore = _
  // the op log the checker replays: ("U", batch) or ("L", lookup, rows)
  private val log = ArrayBuffer.empty[Map[String, Any]]
  private val lookupOps = ArrayBuffer.empty[OpRec]
  private val upsertOps = ArrayBuffer.empty[OpRec]
  private var upsertRows = 0L
  // per-upsert store listing and generations per lookup (traced runs only)
  private val writes = ArrayBuffer.empty[Workload.StoreWrite]
  private val gensSeen = ArrayBuffer.empty[Double]
  private var spaceAmp = 0.0

  private lazy val batchRows = Workload.prop(in, "rows_per_batch")
  private def batchFile(b: Int) = f"$in/batches/b-$b%04d.parquet"

  def setup(spark: SparkSession, rep: Int): Unit = {
    storePath = s"$work/store-$rep"
    src = BucketedLogUpsertSource(storePath, Seq("user_id"), numBuckets = 16)
    src.upsert(spark.read.schema(schema).parquet(s"$in/base"), Seq("user_id"))
    store = new ContractStore().addView(FeatureView("user_live", src,
      entities = Seq(Workload.userId),
      features = Seq(Feature("score", FInt64), Feature("flag", FBool)),
      eventTimestamp = Some(EventTimestamp("updated_at"))))
    log.clear()
    upsert(spark, 0, None)
    lookup(spark, 0, None)
  }

  private def upsert(spark: SparkSession, b: Int, tr: Option[Tracer],
      probe: Boolean = false): Unit = {
    val before = if (tr.nonEmpty || probe) Some(Workload.storeListing(storePath)) else None
    val (_, rec) = op(tr, "upsert") { _ =>
      val df = spark.read.schema(schema).parquet(batchFile(b))
      span(tr, "sources.upsert", "sources") { src.upsert(df, Seq("user_id")) }
    }
    log += Map("op" -> "U", "batch" -> b)
    if (!probe) { upsertOps += rec; upsertRows += batchRows }
    before.foreach { b0 =>
      writes += Workload.storeWrite(b0, Workload.storeListing(storePath), rec.start, rec.end,
        new File(batchFile(b)).length())
    }
  }

  private def lookup(spark: SparkSession, j: Int, tr: Option[Tracer]): Unit = {
    val keys = lookups(j)
    val gens = tr.map(_ => Workload.storeListing(storePath)._2)
    val (rows, rec) = op(tr, "lookup") { o =>
      val ents = spark.createDataFrame(keys.map(k => Row(k)).asJava, keySchema)
      val df = span(tr, "store.build", "store") { store.onlineFeaturesFor(spark, ents, refs) }
      val r = span(tr, "lookup.collect", "materialize") { df.collect() }
      o.attrs("rows_returned") = r.length.toDouble
      r
    }
    gens.foreach(g => gensSeen += g.toDouble)
    lookupOps += rec
    log += Map("op" -> "L", "lookup" -> j, "rows" -> rows.map(r => Seq(
      r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1),
      if (r.isNullAt(2)) null else r.getBoolean(2),
      if (r.isNullAt(3)) null else r.getTimestamp(3).getTime * 1000 +
        (r.getTimestamp(3).getNanos / 1000) % 1000)).toSeq)
  }

  def measure(spark: SparkSession, seconds: Double, tr: Option[Tracer]): Unit = {
    lookupOps.clear(); upsertOps.clear(); upsertRows = 0
    val deadline = Clock.nowMs + seconds * 1000
    var j = 1
    while (Clock.nowMs < deadline && j < math.min(lookups.size, first.size)) {
      if (first(j) == "L") { lookup(spark, j, tr); upsert(spark, j, tr) }
      else { upsert(spark, j, tr); lookup(spark, j, tr) }
      j += 1
    }
    // A timed window of this length holds ~10 upserts, and the default
    // policy folds once per ~30. The traced run therefore goes on, untimed,
    // upserting until the store folds once, so the fold's cost is always
    // measured.
    tr.foreach { _ =>
      // bytes on disk against the live rows written as one generation
      val live = s"$work/live-one-gen"
      BucketedLogUpsertSource(live, Seq("user_id"), numBuckets = 16).overwrite(src.read(spark))
      spaceAmp = Workload.storeBytes(storePath).toDouble / Workload.storeBytes(live)
      def folds = writes.count(_.folded)
      val seen = folds
      while (folds == seen && j < lookups.size) { upsert(spark, j, None, probe = true); j += 1 }
    }
  }

  override def finish(spark: SparkSession): Unit =
    Files.write(Paths.get(work, "online_log.json"), Json(log.toSeq).getBytes("UTF-8"))

  private def lookupMs = lookupOps.map(_.wall).toSeq
  private def upsertMs = upsertOps.map(_.wall).toSeq
  def e2e: Map[String, Double] = Map(
    "op_p50_ms" -> Stats.median(lookupMs),
    "work_per_s" -> upsertRows / (upsertMs.sum / 1000))
  def report: Map[String, Any] = {
    val (tn, tv) = Stats.tail(lookupMs)
    Map("lookup_p50_ms" -> Stats.median(lookupMs), s"lookup_${tn}_ms" -> tv,
      "lookup_p90_ms" -> Stats.quantile(lookupMs, 0.9), "lookups" -> lookupMs.size,
      "upsert_p50_ms" -> Stats.median(upsertMs), "upserts" -> upsertMs.size,
      "ingest_rows_per_s" -> upsertRows / (upsertMs.sum / 1000),
      "lookup_ms" -> lookupMs, "upsert_ms" -> upsertMs)
  }
  def layers(tr: Tracer): Map[String, Double] = {
    val m = tr.layerMetrics(Set("lookup"))
    val returned = m.getOrElse("rows_returned", 0.0)
    allLayers(m ++ Workload.writeMetrics(writes.toSeq) ++ Map(
      "sources.upsert_ms" -> Stats.median(upsertMs),
      "sources.gens_live" -> Stats.median(gensSeen.toSeq),
      "sources.space_amp" -> spaceAmp,
      "sources.rows_read_per_row_returned" -> (if (returned <= 0) 0.0 else m("scan_rows") / returned),
      "contract.kept_ratio" -> returned / 32,
      "trace.op_p50_ms" -> m("wall_ms")))
  }
  def checks: Map[String, Any] = Map("kind" -> "online", "log" -> s"$work/online_log.json")
}

/** curation_recipe: each op runs the q178-shaped CurationRecipe (Gopher
  * gate, MinHash near-dup + keep-best, LM tail filter, DSIR, leakage-safe
  * split) over the seeded corpus and writes the curated corpus. */
final class CurationRun(a: Args) extends Workload(a) {
  private val recipe = CurationRecipe(name = "bench_recipe", gopherMinWords = 20,
    ccnetRefCol = Some("lang"), ccnetRefValue = "en",
    dsirTargetCol = Some("lang"), dsirTargetValue = "en", dsirKeepPct = 50)
  private val done = ArrayBuffer.empty[(String, OpRec)]
  private lazy val nDocs: Long = Workload.prop(in, "rows")

  private def curate(spark: SparkSession, out: String, tr: Option[Tracer]): Unit = {
    val docs = spark.read.parquet(s"$in/docs")
    val curated = span(tr, "store.build", "store") { recipe.run(docs) }
    span(tr, "materialize", "materialize") {
      curated.select("doc_id", "split").write.mode("overwrite").parquet(out)
    }
  }

  def setup(spark: SparkSession, rep: Int): Unit = curate(spark, s"$work/warm-$rep", None)

  def measure(spark: SparkSession, seconds: Double, tr: Option[Tracer]): Unit = {
    val deadline = Clock.nowMs + seconds * 1000
    var i = 0
    while (Clock.nowMs < deadline) {
      val out = s"$work/out/curated-$i"
      val (_, rec) = op(tr, "curate") { _ => curate(spark, out, tr) }
      if (tr.nonEmpty) {
        rec.attrs("contract.retained_block_bytes") = Workload.retainedBlockBytes(spark)
        rec.attrs("contract.kept_ratio") = spark.read.parquet(out).count().toDouble / nDocs
      }
      done += ((out, rec))
      i += 1
    }
  }

  override def finish(spark: SparkSession): Unit =
    Files.write(Paths.get(work, "q178.sql"),
      graft.SparkEntry.oracleSql("q178_curation_funnel").getBytes("UTF-8"))

  private def walls = done.map(_._2.wall).toSeq
  def e2e: Map[String, Double] = Map(
    "op_p50_ms" -> Stats.median(walls),
    "work_per_s" -> nDocs * done.size / (walls.sum / 1000))
  def report: Map[String, Any] = Map(
    "curate_run_p50_s" -> Stats.median(walls) / 1000,
    "curate_docs_per_s" -> nDocs * done.size / (walls.sum / 1000),
    "ops" -> done.size)
  def layers(tr: Tracer): Map[String, Double] = {
    val m = tr.layerMetrics(Set("curate"))
    allLayers(m ++ Map("trace.op_p50_ms" -> m("wall_ms")))
  }
  def checks: Map[String, Any] = Map("kind" -> "curation", "sql" -> s"$work/q178.sql",
    "ops" -> done.map(_._1))
}

/** stream_ingest: an open loop. A generator thread writes seeded event
  * files at a fixed rate, each event stamped with its creation time;
  * `Streaming.fileStream` feeds the contract pipeline, a watermarked
  * windowed aggregate and `Streaming.runWorker`, whose foreachBatch sink
  * upserts the closed windows into a LogUpsertSource. A drain phase then
  * times fixed backlogs, written before the timed phase starts. */
final class StreamIngest(a: Args) extends Workload(a) {
  private val periodMs = 250L
  private val lateness = "1 second"
  private val windowSec = 2L
  private val eventSchema = StructType(Seq(StructField("user_id", LongType),
    StructField("event_ts", TimestampType), StructField("value", LongType),
    StructField("created_ms", LongType)))
  private var files: Map[Int, Array[(Long, Long, Long)]] = Map.empty // idx -> (user, ts_us, value)
  private var openFiles = 0
  private var backlogChunks = 0
  private var backlogFiles = 0
  private var dir: String = _
  private var query: StreamingQuery = _
  private var sinkStore: LogUpsertSource = _
  private val commits = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  private val sinkSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  // traced runs: the sink store listed around each upsert (batch id ->
  // write), and each batch's own bytes, found after the run
  private val sinkWrites = new java.util.concurrent.ConcurrentHashMap[Long, Workload.StoreWrite]()
  private var batchBytes: Map[Long, Long] = Map.empty
  private var spaceAmp = 0.0
  // rows each micro-batch handed to the sink (batch id -> rows), from the
  // query's observed metric; the check compares their sum with the windows
  private val emitted = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val emitListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      emitted.put(e.progress.batchId,
        Option(e.progress.observedMetrics.get(StreamIngest.Emitted)).map(_.getLong(0)).getOrElse(0L))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private var phaseStart = 0.0
  private var phaseEnd = 0.0
  private var written = 0
  private val lateMs = ArrayBuffer.empty[Double]
  private val drainRates = ArrayBuffer.empty[Double]
  private var lags: Seq[Double] = Nil
  private var backlogAt: Seq[(Double, Int)] = Nil // (write time, files written so far)
  private var watermark = ""

  private val parquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message ev { required int64 user_id; required int64 event_ts (TIMESTAMP(MICROS,true)); " +
      "required int64 value; required int64 created_ms; }")

  /** Write one event file outside the input dir, then move it in, so the
    * stream never sees a partial file. */
  private def writeFile(idx: Int, target: String, stage: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val tmp = s"$stage/ev-$idx.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(tmp))
      .withType(parquetSchema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val g = new SimpleGroupFactory(parquetSchema)
    val created = System.currentTimeMillis()
    try files(idx).foreach { case (u, ts, v) =>
      w.write(g.newGroup().append("user_id", u).append("event_ts", ts).append("value", v)
        .append("created_ms", created))
    } finally w.close()
    Files.move(Paths.get(tmp), Paths.get(target, s"ev-$idx.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    if (files.isEmpty) {
      val rows = spark.read.parquet(s"$in/stream_events").collect()
      files = rows.groupBy(_.getInt(0)).map { case (i, rs) =>
        i -> rs.map(r => (r.getLong(1), r.getTimestamp(2).getTime * 1000 +
          (r.getTimestamp(2).getNanos / 1000) % 1000, r.getLong(3)))
      }
      def prop(k: String) = Workload.prop(in, k).toInt
      openFiles = prop("open_files"); backlogChunks = prop("backlog_chunks")
      backlogFiles = prop("backlog_files")
    }
    dir = s"$work/stream-$rep"
    Seq("input", "stage", "ckpt").foreach(d => new File(s"$dir/$d").mkdirs())
    sinkStore = LogUpsertSource(s"$dir/windows", Seq("user_id", "window_start"))
    val eventsView = FeatureView("stream_events", ParquetSource(s"$dir/input"),
      entities = Seq(Workload.userId),
      features = Seq(Feature("value", FInt64), Feature("created_ms", FInt64)),
      aggregates = Seq(
        AggregatedFeature("n_events", FInt64, AggFunc.Count, "value", Some(AggregationWindow(Duration.ofSeconds(windowSec)))),
        AggregatedFeature("value_sum", FInt64, AggFunc.Sum, "value", Some(AggregationWindow(Duration.ofSeconds(windowSec)))),
        AggregatedFeature("last_created", FInt64, AggFunc.Max, "created_ms", Some(AggregationWindow(Duration.ofSeconds(windowSec))))),
      eventTimestamp = Some(EventTimestamp("event_ts")))
    val windowView = FeatureView("stream_windows", sinkStore, entities = Seq(Workload.userId),
      features = Seq(Feature("n_events", FInt64), Feature("value_sum", FInt64),
        Feature("last_created", FInt64)))
    val raw = Streaming.fileStream(spark, s"$dir/input", eventSchema)
    val windows = Streaming.windowedAggregate(Streaming.contractPipeline(eventsView)(raw),
      eventsView, lateness = lateness).observe(StreamIngest.Emitted, count(lit(1)))
    commits.clear(); sinkSpans.clear(); sinkWrites.clear(); emitted.clear()
    spark.streams.addListener(emitListener)
    val sink: (DataFrame, Long) => Unit = (batch, id) => {
      val rows = batch.select(col("user_id"), col("window.start").as("window_start"),
        col("n_events"), col("value_sum"), col("last_created"), lit(id).as("batch_id"))
      val before = if (a.trace) Some(Workload.storeListing(sinkStore.path)) else None
      val t0 = Clock.nowMs
      sinkStore.upsert(rows, Seq("user_id", "window_start"))
      val t1 = Clock.nowMs
      commits.put(id, t1)
      sinkSpans.add((t0, t1))
      before.foreach { b0 =>
        sinkWrites.put(id, Workload.storeWrite(b0, Workload.storeListing(sinkStore.path), t0, t1, 0L))
      }
    }
    query = Streaming.runWorker(windows, windowView, sink,
      checkpointDir = Some(s"$dir/ckpt"), trigger = Trigger.ProcessingTime(200))
    // warm-up: one file through the whole pipeline
    writeFile(0, s"$dir/input", s"$dir/stage")
    query.processAllAvailable()
    written = 1
  }

  override def stop(): Unit = if (query != null && query.isActive) {
    query.stop(); query.awaitTermination(30000)
    // progress events arrive on the listener bus after the batch: wait for
    // the last batch's
    val last = Option(query.lastProgress).map(_.batchId)
    val deadline = Clock.nowMs + 10000
    while (last.exists(b => !emitted.containsKey(b)) && Clock.nowMs < deadline) Thread.sleep(10)
    query.sparkSession.streams.removeListener(emitListener)
    // the latest watermark any committed batch used: every window ending
    // at or before it has been emitted
    watermark = query.recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
      .maxByOption(w => java.time.Instant.parse(w).toEpochMilli).getOrElse("")
  }

  def measure(spark: SparkSession, seconds: Double, tr: Option[Tracer]): Unit = {
    // the drain phase's backlogs, indexed after every open-loop file; written
    // here, before the timed phase, so set-up holds only graft's work
    for (c <- 0 until backlogChunks) {
      new File(s"$dir/backlog-$c").mkdirs()
      for (f <- 0 until backlogFiles) writeFile(openFiles + c * backlogFiles + f, s"$dir/backlog-$c", s"$dir/stage")
    }
    phaseStart = Clock.nowMs
    val first = written
    val n = math.min(openFiles - first, (seconds * 1000 / periodMs).toInt)
    val backlog = ArrayBuffer.empty[(Double, Int)]
    val gen = new Thread(() => {
      for (k <- 0 until n) {
        val due = phaseStart + k * periodMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        lateMs.synchronized { lateMs += math.max(0.0, Clock.nowMs - due) }
        writeFile(first + k, s"$dir/input", s"$dir/stage")
        backlog.synchronized { backlog += ((Clock.nowMs, first + k + 1)) }
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    phaseEnd = Clock.nowMs
    written = first + n
    backlogAt = backlog.synchronized(backlog.toList)
    query.processAllAvailable()
    // drain: each pre-written backlog moved in at once, timed to commit;
    // the stream is idle first, so a drain never waits behind a batch
    for (c <- 0 until backlogChunks) {
      while (query.status.isTriggerActive) Thread.sleep(5)
      val t0 = Clock.nowMs
      new File(s"$dir/backlog-$c").listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.move(f.toPath, Paths.get(s"$dir/input", f.getName), StandardCopyOption.ATOMIC_MOVE)
      }
      query.processAllAvailable()
      drainRates += backlogFiles * files(openFiles).length / ((Clock.nowMs - t0) / 1000)
    }
  }

  override def finish(spark: SparkSession): Unit = {
    if (a.trace) {
      // bytes on disk against the live rows written as one generation
      val live = s"$work/live-one-gen"
      LogUpsertSource(live, sinkStore.keys).overwrite(sinkStore.read(spark))
      spaceAmp = Workload.storeBytes(sinkStore.path).toDouble / Workload.storeBytes(live)
      // each batch's rows written alone, batch_id column kept: every window
      // is emitted once (the check proves it), so the live rows by batch_id
      // are the batches
      val alone = s"$work/batches-alone"
      sinkStore.read(spark).withColumn("b", col("batch_id")).repartition(col("b"))
        .write.partitionBy("b").parquet(alone)
      batchBytes = new File(alone).listFiles().filter(_.getName.startsWith("b=")).map { d =>
        d.getName.stripPrefix("b=").toLong -> Workload.storeBytes(d.getPath)
      }.toMap
    }
    val rows = sinkStore.read(spark)
      .select("user_id", "window_start", "n_events", "value_sum", "last_created", "batch_id")
    rows.write.mode("overwrite").parquet(s"$work/stream_windows")
    // lag: sink commit of the batch that emitted a window, minus the
    // creation of the window's last event; open-loop windows only
    lags = rows.collect().toSeq.flatMap { r =>
      val commit = commits.get(r.getLong(5))
      val created = r.getLong(4).toDouble
      if (commit != 0.0 && commit <= phaseEnd + 60000 && created >= phaseStart - 1 &&
        created <= phaseEnd) Some(commit - created) else None
    }
  }

  def e2e: Map[String, Double] = Map(
    "op_p50_ms" -> Stats.median(lags),
    "work_per_s" -> Stats.median(drainRates.toSeq))
  def report: Map[String, Any] = {
    val (tn, tv) = Stats.tail(lags)
    Map("stream_lag_p50_ms" -> Stats.median(lags), "stream_lag_p90_ms" -> Stats.quantile(lags, 0.9),
      s"stream_lag_${tn}_ms" -> tv, "lag_samples" -> lags.size,
      "stream_drain_events_per_s" -> Stats.median(drainRates.toSeq), "drain_events_per_s" -> drainRates.toSeq,
      "open_loop_files" -> (written - 1), "file_period_ms" -> periodMs,
      "generator_late_p50_ms" -> Stats.median(lateMs.toSeq),
      "generator_late_max_ms" -> (if (lateMs.isEmpty) 0.0 else lateMs.max))
  }

  def layers(tr: Tracer): Map[String, Double] = {
    // each micro-batch of the timed phase is one op
    val ps = tr.progress.toList.map(_.progress)
      .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= phaseStart - 1)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    ps.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val rec = tr.addOp("batch", s, s + d(p, "triggerExecution"))
      sinkSpans.asScala.filter { case (a0, a1) => a0 >= rec.start && a1 <= rec.end + 5 }
        .foreach { case (a0, a1) => tr.addSpan(rec.id, "sink", "streaming", a0, a1) }
    }
    val m = tr.layerMetrics(Set("batch"), jobsByTime = true)
    val dataPs = ps.filter(_.numInputRows > 0)
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      Stats.median(ps.map(f))
    val writes = sinkWrites.asScala.toSeq.collect {
      case (id, w) if w.start >= phaseStart => w.copy(batchBytes = batchBytes.getOrElse(id, 0L))
    }
    val backlogFilesAt = ps.map { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val writtenBy = backlogAt.filter(_._1 <= t).map(_._2).lastOption.getOrElse(1)
      val processed = tr.progress.toList.map(_.progress)
        .filter(q => java.time.Instant.parse(q.timestamp).toEpochMilli < t)
        .map(_.numInputRows).sum / files(0).length.toDouble
      math.max(0.0, writtenBy - 1 - processed)
    }
    allLayers(m ++ Workload.writeMetrics(writes) ++ Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_per_batch" -> Stats.median(dataPs.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms" -> med(d(_, "triggerExecution")),
      "streaming.latest_offset_ms" -> med(d(_, "latestOffset")),
      "streaming.query_planning_ms" -> med(d(_, "queryPlanning")),
      "streaming.add_batch_ms" -> med(d(_, "addBatch")),
      "streaming.wal_commit_ms" -> med(d(_, "walCommit")),
      "streaming.commit_offsets_ms" -> med(d(_, "commitOffsets")),
      "streaming.state_commit_ms" -> med(_.stateOperators.map(_.commitTimeMs.toDouble).sum),
      "streaming.state_rows" -> med(_.stateOperators.map(_.numRowsTotal.toDouble).sum),
      "streaming.state_memory_bytes" -> med(_.stateOperators.map(_.memoryUsedBytes.toDouble).sum),
      "streaming.sink_upsert_ms" -> Stats.median(sinkSpans.asScala.toSeq
        .filter(_._1 >= phaseStart).map { case (a0, a1) => a1 - a0 }),
      "streaming.input_backlog_files" -> Stats.median(backlogFilesAt),
      "sources.upsert_ms" -> Stats.median(writes.map(w => w.end - w.start)),
      "sources.space_amp" -> spaceAmp,
      "trace.op_p50_ms" -> Stats.median(lags)))
  }

  def checks: Map[String, Any] = Map("kind" -> "stream", "windows" -> s"$work/stream_windows",
    "inputs" -> Seq(s"$dir/input"), "window_seconds" -> windowSec,
    "watermark" -> watermark, "emitted_rows" -> emitted.values.asScala.sum)
}

object StreamIngest {
  /** Name of the observed metric counting the rows each batch emits. */
  val Emitted = "graftbench_emitted"
}
