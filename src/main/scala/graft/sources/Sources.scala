package graft.sources

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch source abstraction (reference: BatchDataSource,
  * aligned/data_source/batch_data_source.py:136-344). A source produces a
  * DataFrame lazily; Catalyst then prunes columns and pushes predicates into
  * the scan, so the reference's hand-rolled pruning/pushdown machinery
  * (local/job.py:254-271) is unnecessary here.
  */
trait BatchSource {
  def read(spark: SparkSession): DataFrame
  /** Does the backing table exist yet? Used by upsert/incremental paths to
    * distinguish "first write" from "read failed". Catching exceptions from
    * read() is NOT a substitute: a transient failure (corrupt footer,
    * permissions, OOM) would then be treated as an empty table and the next
    * Overwrite silently drops the old rows. Non-file sources default to true
    * (their reads don't fail on absence). */
  def exists(spark: SparkSession): Boolean = true
  /** rows with eventTs in [start, end) (all_between_dates, batch_data_source.py:229). */
  def between(spark: SparkSession, tsCol: String, start: java.sql.Timestamp, end: java.sql.Timestamp): DataFrame =
    read(spark).filter(col(tsCol) >= lit(start) && col(tsCol) < lit(end))
  /** max event timestamp = freshness (batch_data_source.py:294-307). */
  def freshness(spark: SparkSession, tsCol: String): Option[java.sql.Timestamp] =
    read(spark).agg(max(col(tsCol))).collect().headOption.flatMap(r => Option(r.get(0)))
      .map(_.asInstanceOf[java.sql.Timestamp])
}

/** Writable sink surface (reference: WritableFeatureSource, feature_source.py:20-58). */
trait WritableSource extends BatchSource {
  def insert(df: DataFrame): Unit
  def overwrite(df: DataFrame): Unit
  /** Upsert = replace rows matching entity keys, keep the rest. The reference
    * anti-joins old data on entity keys then concats (sources/local.py:317-340);
    * same algebra here, expressed as DataFrame ops. On Delta this would be
    * MERGE INTO; with plain files it is read-antijoin-union-rewrite. */
  def upsert(df: DataFrame, keys: Seq[String]): Unit
}

/** Filesystem-path helpers shared by the file-backed sources and stores.
  * Every path resolves on its OWN filesystem (`Path.getFileSystem`), never
  * the default one: an s3a:// or abfss:// path under an hdfs:// default
  * would otherwise fail with "Wrong FS". */
private[graft] object PathProbe {
  def resolve(spark: SparkSession,
      path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p)
  }
  def writeUtf8(spark: SparkSession, path: String, text: String): Unit = {
    val (fs, p) = resolve(spark, path)
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
  def readUtf8(spark: SparkSession, path: String): String = {
    val (fs, p) = resolve(spark, path)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
}

final case class ParquetSource(path: String) extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit = df.write.mode(SaveMode.Append).parquet(path)
  def overwrite(df: DataFrame): Unit = df.write.mode(SaveMode.Overwrite).parquet(path)
  def upsert(df: DataFrame, keys: Seq[String]): Unit =
    // merge → stage to a sibling temp dir → ONE metadata-only rename swap;
    // serialized per canonical path (see StageAndSwap for the protocol)
    StageAndSwap.upsert(this, path, df, keys,
      (d, p) => d.write.mode(SaveMode.Overwrite).parquet(p))
}

/** Hive-partitioned parquet dir (reference: PartitionedParquetFileSource,
  * sources/local.py:502-727). Spark reads hive partitioning natively and
  * prunes partitions from pushed-down predicates; upsert rewrites only the
  * touched partitions via dynamic partition overwrite (the scalable analog of
  * the reference's per-partition rewrite at local.py:658-707). */
final case class PartitionedParquetSource(path: String, partitionKeys: Seq[String])
    extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionKeys: _*).parquet(path)
  def overwrite(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionKeys: _*).parquet(path)
  def upsert(df: DataFrame, keys: Seq[String]): Unit = StageAndSwap.locked(df.sparkSession, path) {
    val spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val merged =
      if (!exists(spark)) df
      else {
        val old = read(spark)
        // only partitions present in df get rewritten (dynamic overwrite);
        // within them, keep non-matching old rows
        val touched = df.select(partitionKeys.map(col): _*).distinct()
        old.join(touched, partitionKeys, "left_semi")
          .join(df.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(df)
      }
    merged.write.mode(SaveMode.Overwrite).partitionBy(partitionKeys: _*).parquet(path)
  }
}

/** Hash-bucketed parquet dir: hive-partitioned on `__bucket =
  * pmod(xxhash64(bucketKeys), numBuckets)` so an upsert reads and rewrites
  * ONLY the buckets its keys land in — O(touched buckets), not O(store).
  * This is the reference's partitioned-upsert idea (sources/local.py:658-707,
  * rewrite only touched partitions) applied to a key-addressed store whose
  * natural key has no partition-friendly shape.
  *
  * Built for the accreting online/streaming store (VERDICT r13 "What's
  * wrong #1"): the plain [[ParquetSource]] upsert anti-joins and rewrites
  * the WHOLE accumulated table every micro-batch, which at ×100 state
  * density made a full streaming run ~O(store²/batch). Here a micro-batch
  * pays: one tiny distinct-collect of its ≤numBuckets touched bucket ids
  * (driver-bounded by construction), a partition-PRUNED read of just those
  * buckets, and a dynamic-partition-overwrite of the same — per-batch cost
  * tracks the BATCH's key spread, while untouched buckets' files are never
  * opened or rewritten (spec-pinned byte-identical). At 100 TB the bucket
  * count is sized so one bucket ≈ a few GB (numBuckets knob); the
  * jar-gated Delta/Iceberg MERGE (O(touched files)) remains the end state,
  * this is the no-jar scale path.
  *
  * Reads drop the synthetic `__bucket` column, so the read schema equals
  * what was written. bucketKeys must be a subset of every upsert's keys
  * (same key ⇒ same bucket, or the anti-join would miss the old copy). */
final case class BucketedParquetSource(path: String, bucketKeys: Seq[String],
    numBuckets: Int = 8) extends WritableSource {
  require(numBuckets > 0, s"numBuckets must be > 0, got $numBuckets")
  private val B = "__bucket"
  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn(B, pmod(xxhash64(bucketKeys.map(col): _*), lit(numBuckets.toLong)).cast("int"))
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path).drop(B)
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  // hash write-distribution on the bucket (optimization r15, guide §6 /
  // Iceberg write.distribution-mode=hash): an N-partition input written
  // straight through partitionBy emits up to N files PER BUCKET; one narrow
  // shuffle on the tiny bucket id bounds every write to ≤ numBuckets files
  private def distributed(df: DataFrame): DataFrame =
    withBucket(df).repartition(col(B))
  def insert(df: DataFrame): Unit =
    distributed(df).write.mode(SaveMode.Append).partitionBy(B).parquet(path)
  def overwrite(df: DataFrame): Unit = StageAndSwap.locked(df.sparkSession, path) {
    val spark = df.sparkSession
    // stage to a SIBLING dir and rename over dest (ADVICE r15): the former
    // pre-delete destroyed the table before Spark's own
    // cannot-overwrite-a-path-being-read guard could fire, so a
    // read-modify-overwrite caller lost the table instead of getting the
    // loud AnalysisException; staging also makes a mid-write crash leave
    // the old table intact
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dest.getParent, dest.getName + "__tmp_overwrite")
    distributed(df).write.mode(SaveMode.Overwrite).partitionBy(B).parquet(tmp.toString)
    // partitionBy writes NO files for an empty frame, which would leave an
    // unreadable (schema-less) dir — materialize the schema as one empty
    // part file inside a concrete partition dir instead. A post-write
    // listing, not a pre-write df.isEmpty: the probe was a whole extra job
    // on every overwrite (optimization r15)
    if (!GenLog.hasDataChildren(fs, tmp))
      df.write.mode(SaveMode.Overwrite).parquet(s"$tmp/$B=0")
    StageAndSwap.swapInto(spark, tmp.toString, path)
  }
  def upsert(df: DataFrame, keys: Seq[String]): Unit = StageAndSwap.locked(df.sparkSession, path) {
    require(bucketKeys.forall(keys.contains),
      s"bucket keys $bucketKeys must be contained in upsert keys $keys " +
        "(same key must land in the same bucket)")
    val spark = df.sparkSession
    val newB = withBucket(df)
    if (!exists(spark)) {
      distributed(df).write.mode(SaveMode.Overwrite).partitionBy(B).parquet(path)
    } else {
      // ≤ numBuckets ints by construction — a bounded driver pull that buys
      // STATIC partition pruning on the old-side scan below
      val touched = newB.select(B).distinct().collect().map(_.getInt(0)).toSeq
      if (touched.nonEmpty) {
        val old = spark.read.parquet(path).filter(col(B).isin(touched: _*))
        val merged = old
          .join(df.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(newB)
        // dynamic overwrite commits ONLY the partitions present in `merged`
        // (exactly the touched buckets); scoped via writer option, not a
        // session-global conf mutation
        merged.repartition(col(B)) // ≤ touched-bucket files (see `distributed`)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(B).parquet(path)
        spark.catalog.refreshByPath(path)
      }
    }
  }
}

/** Shared generation-log machinery for [[GenLogStore]]: monotonic per-path
  * generation counters and claims, writer-nonce stamps, range markers, the
  * latest-wins resolve and the single-writer guard. */
private[graft] object GenLog {
  val G = "__gen"

  /** Does a just-written dir hold any DATA — a data file, or a partition
    * SUBDIRECTORY (hive partition dirs like `__bucket=0` start with an
    * underscore, so a file-name-only test misreads every non-empty
    * partitioned write as empty and spuriously rewrites the batch into one
    * leaf: duplicate rows — benign under latest-wins-over-identical-values,
    * but a whole extra write job and 2× store rows per generation). */
  def hasDataChildren(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists(s =>
      s.isDirectory || !s.getPath.getName.startsWith("_"))

  /** After an upsert's write landed no data in `gen`: drop the empty
    * generation and release its claim (an empty upsert is a NO-OP — it must
    * not advance the log or bring the auto-compaction trigger forward;
    * measured at ×10, empty stream-finalize generations cost one spurious
    * O(tail) fold per gate), UNLESS it is the store's only generation, in
    * which case `materialize` writes the schema-bearing empty leaf (an
    * all-empty store must read as an empty frame WITH schema). Returns
    * true when the generation was kept (real data or schema donor). */
  def resolveEmptyGen(spark: SparkSession, path: String, gen: Long)(
      materialize: => Unit): Boolean = {
    val genPath = new org.apache.hadoop.fs.Path(s"$path/$G=$gen")
    val fs = genPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hasDataChildren(fs, genPath)) true
    else if (genDirs(spark, path).exists(d => genNumber(d) != gen)) {
      fs.delete(genPath, true)
      releaseClaim(spark, path, gen)
      false
    } else { materialize; true }
  }

  /** One random nonce per JVM: every generation this process writes is
    * stamped with an empty `_writer_<nonce>` file (underscore prefix →
    * invisible to Spark's file index). The single-writer-per-path contract
    * is enforceable only best-effort with plain files — two processes can
    * seed their counters from the same directory listing and mint the SAME
    * generation number — so a violation must surface as a LOUD error on the
    * next read/compact ([[assertSingleWriter]]), never as silent
    * nondeterministic latest-wins. */
  val writerNonce: String = java.util.UUID.randomUUID().toString.replace("-", "")

  /** One generation counter per qualified path (process-local; seeded from
    * the directory on first touch — see [[nextGen]]). */
  private val gens =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Bound a generation's FILE COUNT by the batch's planned bytes, not the
    * writer's parallelism (guide §6: file sizing is a LAYOUT property —
    * the bucketed stores get it from their bucket repartition; the plain
    * log store wrote one file per input partition, so a fanned
    * 32-partition frame of 500 rows minted 32 tiny files per generation
    * and every later listing/resolve/fold paid the file count — the
    * measured q245/q248 r15 regression). Catalyst's size estimate costs
    * no job; estimation error only moves the effective file-size target,
    * never results. The bound is a `repartition` (an explicit
    * output-sizing exchange of the FINAL rows only), NOT a coalesce:
    * coalesce propagates up to the previous shuffle boundary and
    * single-threads the whole producing stage — measured at the ×10
    * streaming curve as a 1.4-2× regression on every gate (the width-8
    * stateful pipelines collapsed to one task). It applies only in the
    * small-batch regime (≤ [[MaxBoundedGenFiles]] planned files);
    * corpus-scale writes keep their stock parallelism, and unknown-size
    * plans (streaming batches can estimate Long.MaxValue) pass through
    * untouched. A frame whose physical plan already promises no more
    * partitions than the bound passes through too: the exchange would
    * change nothing but cost a shuffle. Planning starts no job; an
    * unknown partition count (a file scan reports 0) keeps the bound. */
  val MaxBoundedGenFiles = 64L
  def boundGenFiles(df: DataFrame, targetBytes: Long = 128L << 20): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = est / targetBytes + 1
    if (!files.isValidLong || files.toLong > MaxBoundedGenFiles) df
    else {
      val planned = df.queryExecution.sparkPlan.outputPartitioning.numPartitions
      if (planned >= 1 && planned <= files.toLong) df else df.repartition(files.toInt)
    }
  }

  /** The store's generation dirs (empty if the store doesn't exist yet). */
  def genDirs(spark: SparkSession, path: String): Array[org.apache.hadoop.fs.Path] = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith(G + "="))
  }

  /** Numeric generation of a `__gen=N` dir (resolve/merge ordering). */
  def genNumber(p: org.apache.hadoop.fs.Path): Long =
    p.getName.substring(G.length + 1).toLong

  /** Stamp a generation dir with an empty marker file (underscore prefix →
    * invisible to Spark's file index). */
  private def mark(spark: SparkSession, genDir: String, name: String): Unit = {
    val (fs, p) = fsOf(spark, genDir)
    fs.create(new org.apache.hadoop.fs.Path(p, name), true).close()
  }

  /** Range marker `_folded_<lo>_<hi>`: a committed generation records the
    * inclusive snapshot range it subsumes. A fold covers its inputs'
    * ranges; an overwrite N covers [its inputs' lowest lo, N]. Plain
    * append generations carry no marker; their range is [g, g]. The
    * commit writes the marker INSIDE the staging dir, so a generation
    * becomes visible together with its range ([[live]] then ignores what
    * it subsumes), and time travel ([[dirsAt]]) stays honest — a request
    * strictly inside a subsumed range fails loudly instead of silently
    * returning the later state. */
  def markRange(spark: SparkSession, genDir: String, lo: Long, hi: Long): Unit =
    mark(spark, genDir, s"_folded_${lo}_$hi")

  /** Stamp a generation dir with this process's nonce. */
  def markWriter(spark: SparkSession, genDir: String): Unit =
    mark(spark, genDir, s"_writer_$writerNonce")

  /** One generation dir's metadata from a single listing: number, range,
    * writer nonces. */
  final case class GenInfo(dir: org.apache.hadoop.fs.Path, gen: Long,
      lo: Long, hi: Long, nonces: Seq[String])

  /** ONE listing pass per generation dir (the metadata feeding the nonce
    * check, the effective-generation resolve order, and time travel —
    * previously three separate sweeps). Sorted by EFFECTIVE order
    * (hi, then dir number), NOT by dir number: after a fold-vs-append
    * race a fold dest's dir number sits above a foreign append whose
    * effective generation is newer, and the minor fold's base/tail split
    * must follow the same order the resolve does — a dir-number split
    * would exclude the foreign append as "base" and stamp a dest marker
    * overclaiming its range, silently resurrecting folded stale values
    * on the next read. */
  def scanStore(spark: SparkSession, path: String): Seq[GenInfo] = {
    val (fs, _) = fsOf(spark, path)
    genDirs(spark, path).map { d =>
      val names = fs.listStatus(d).map(_.getPath.getName)
      val (lo, hi) = names.find(_.startsWith("_folded_")).map { n =>
        val parts = n.stripPrefix("_folded_").split("_")
        (parts(0).toLong, parts(1).toLong)
      }.getOrElse { val g = genNumber(d); (g, g) }
      GenInfo(d, genNumber(d), lo, hi, names.filter(_.startsWith("_writer_")).distinct.toSeq)
    }.sortBy(i => (i.hi, i.gen)).toSeq
  }

  /** The generations a read resolves over: all but those another
    * generation's range subsumes (range inside it; equal ranges keep the
    * higher dir). What is skipped is a commit's leftover input — a crash
    * between a commit's rename and its deletes leaves it behind. For a
    * fold it is redundant (same values); for an overwrite it is the
    * replaced state, which must not come back. The relation is a strict
    * partial order, so something always survives. A read at snapshot g
    * passes only the generations with hi ≤ g ([[dirsAt]]), so a range is
    * applied only at or after its upper bound. */
  def live(infos: Seq[GenInfo]): Seq[GenInfo] =
    infos.filterNot(i => infos.exists(m => m.lo <= i.lo && i.hi <= m.hi &&
      (m.lo < i.lo || i.hi < m.hi || m.gen > i.gen)))

  /** The EFFECTIVE generation of each dir for latest-wins ordering: a plain
    * append dir orders at its own number; a fold dest orders at its range's
    * UPPER BOUND, not its dir number. This is what keeps a fold correct
    * against a concurrent cross-process append: the fold's dest is CLAIMED
    * above a foreign generation K that landed after the fold pinned its
    * inputs, but its DATA is a resolve of generations ≤ hi < K — ordering
    * it at hi lets K's newer rows win, where dir-number ordering would
    * resurrect the folded (older) values over them. */
  def effectiveGens(infos: Seq[GenInfo]): Map[Long, Long] =
    infos.map(i => i.gen -> i.hi).toMap

  /** The latest-wins resolve: newest EFFECTIVE generation per key wins (a
    * literal-map lookup keeps the ordering expression codegen'd); dir
    * number breaks exact-effective ties — coexisting crash remnants hold
    * identical values for shared keys, so either copy is correct and the
    * tiebreak just makes plans deterministic. The ordering rule is
    * load-bearing for fold-vs-append coexistence. */
  def resolveLatest(raw: DataFrame, eff: Map[Long, Long], keys: Seq[String],
      dropCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val effCol = coalesce(
      element_at(typedLit(eff), col(G).cast("long")), col(G).cast("long"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(effCol.desc, col(G).desc)
    raw.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn").drop(dropCols: _*)
  }

  /** Generation dirs whose snapshot range is fully at-or-before `gen` —
    * the read set for a time-travel read. A range STRADDLING `gen`
    * (lo ≤ gen < hi) normally means that history was folded away — but a
    * crashed commit can leave the subsumed inputs alive next to the marked
    * dest, in which case the straddler is TOLERATED when the included
    * dirs' ranges still cover the straddled prefix [lo, gen] (the exact
    * pre-commit data is served). Coverage is judged by NUMERIC interval
    * union, so generation-number gaps (skipped claims) inside the
    * straddled prefix make the check conservative: it may refuse a
    * servable crashed-commit read, but never serves a wrong one. Fails
    * loudly otherwise, and when no snapshot exists at or before `gen`. */
  def dirsAt(path: String, infos: Seq[GenInfo], gen: Long): Seq[GenInfo] = {
    val included = infos.filter(_.hi <= gen)
    // merge included ranges into sorted disjoint intervals for coverage
    val merged = included.map(i => (i.lo, i.hi)).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((a, b) :: rest, (lo, hi)) if lo <= b + 1 => (a, math.max(b, hi)) :: rest
        case (acc, r) => r :: acc
      }
    def covered(lo: Long, hi: Long): Boolean =
      merged.exists { case (a, b) => a <= lo && hi <= b }
    val fatal = infos.filter(i => i.lo <= gen && gen < i.hi &&
      !covered(i.lo, math.min(gen, i.hi)))
    if (fatal.nonEmpty)
      throw new IllegalArgumentException(
        s"log store $path: generation $gen falls inside compacted range " +
          s"${fatal.map(i => s"[${i.lo},${i.hi}]").mkString(",")} — that history " +
          s"was folded away (retention is bounded by the compaction cadence; " +
          s"exact snapshots currently retained: ${infos.map(_.hi).distinct.sorted.mkString(",")})")
    if (included.isEmpty)
      throw new IllegalArgumentException(
        s"log store $path: no snapshot at or before generation $gen " +
          s"(earliest retained: ${infos.map(_.hi).sorted.headOption.getOrElse("none")})")
    included
  }

  /** Byte sizes of generation dirs, cached: a generation is immutable once
    * written (appends mint NEW generations; commits create new ones and
    * delete the old), so its recursive listing never changes — without the
    * cache every trigger would re-walk the LARGE base tier's files, an
    * O(base file count) remote listing per threshold hit at 100 TB. */
  private val sizes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def sizeOf(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long =
    sizes.computeIfAbsent(fs.makeQualified(p).toString,
      _ => fs.getContentSummary(p).getLength)
  /** Drop a deleted generation's cache entry (called by the commit). */
  def forgetSize(spark: SparkSession, p: org.apache.hadoop.fs.Path): Unit = {
    val (fs, _) = fsOf(spark, p.toString)
    sizes.remove(fs.makeQualified(p).toString)
  }

  /** The tiered compaction trigger: once the generation count reaches the
    * policy threshold, pick the MINOR fold (merge the recent tail runs —
    * O(tail)) unless the accumulated tail has grown to the base
    * generation's size — or the tail is a single run the minor fold cannot
    * shrink (the `every == 2` floor) — in which case pay the MAJOR fold
    * (full rewrite, O(live keys)). The classic size-ratio LSM merge
    * schedule: routine folds never rewrite the large base, and the
    * expensive full rewrite is amortized over base-sized tail progress.
    * Sizes are driver-side metadata, cached per immutable generation
    * ([[sizeOf]]). */
  def tieredTrigger(spark: SparkSession, path: String, every: Int,
      major: () => Unit, minor: () => Unit): Unit = {
    val gens = genDirs(spark, path)
    if (gens.length < every) return
    val (fs, _) = fsOf(spark, path)
    val sorted = gens.sortBy(genNumber)
    val baseBytes = sizeOf(fs, sorted.head)
    val tailBytes = sorted.drop(1).map(g => sizeOf(fs, g)).sum
    if (tailBytes >= baseBytes || sorted.length - 1 < 2) major() else minor()
  }

  /** Next generation for this path: max persisted + 1 on first touch in
    * this process, then strictly increasing under the path lock. */
  def nextGen(spark: SparkSession, path: String): Long = {
    val (fs, p) = fsOf(spark, path)
    val key = fs.makeQualified(p).toString
    gens.computeIfAbsent(key, { _ =>
      val seed = genDirs(spark, path).map(_.getName)
        .map(n => n.substring(G.length + 1).toLong).foldLeft(-1L)(math.max)
      new java.util.concurrent.atomic.AtomicLong(seed)
    }).incrementAndGet()
  }

  /** A generation's claim-marker path: `_claim_<N>` directly under the
    * store (underscore prefix → invisible to Spark's file index and to
    * [[genDirs]]). */
  private def claimPath(path: String, gen: Long) =
    new org.apache.hadoop.fs.Path(path, s"_claim_$gen")

  /** CLAIM a generation number across processes: create-exclusive of the
    * `_claim_<N>` marker (FileSystem.create with overwrite=false). Two
    * processes seeding their counters from the same listing would
    * otherwise mint the SAME number and interleave files in one
    * generation dir; with claims the loser's create throws
    * FileAlreadyExists, it bumps its counter and retries, and each append
    * lands a UNIQUE generation, totally ordered by claim order — which IS
    * latest-wins. Atomicity is the filesystem's: HDFS and ABFS implement
    * create-no-overwrite atomically; Hadoop's RawLocalFileSystem is an
    * exists-check-then-create (a microsecond TOCTOU window two same-host
    * JVMs could in principle thread), and object stores without
    * conditional puts have no exclusivity at all — on those the claim
    * closes the COMMON race (counter-seed collisions, a window of whole
    * batches) and [[assertSingleWriter]]'s nonce detection remains the
    * backstop for the residual one. A claim whose writer crashed before
    * writing its dir is left in place deliberately: a stalled-but-alive
    * claimant is indistinguishable from a dead one without leases, so the
    * number is permanently skipped (one empty marker file) rather than
    * ever risking reuse under an in-flight writer. */
  def claimGen(spark: SparkSession, path: String): Long = {
    val (fs, _) = fsOf(spark, path)
    var attempts = 0
    while (attempts < 10000) {
      val g = nextGen(spark, path)
      try {
        fs.create(claimPath(path, g), false).close()
        return g
      } catch {
        // typed collisions retry (hadoop's own class, and java.nio's —
        // some FS shims throw the latter); an UNTYPED IOException retries
        // only when the marker verifiably exists now (a genuine collision
        // phrased generically) — a message sniff would spin 10000 times on
        // unrelated faults ("parent is a file…") and mask the real error
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => attempts += 1
        case _: java.nio.file.FileAlreadyExistsException => attempts += 1
        case e: java.io.IOException =>
          if (scala.util.Try(fs.exists(claimPath(path, g))).getOrElse(false)) attempts += 1
          else throw e
      }
    }
    throw new IllegalStateException(
      s"log store $path: could not claim a generation after 10000 attempts — " +
        "another writer is minting generations faster than this one can retry")
  }

  /** Drop a deleted generation's claim marker (commit GC — safe because
    * counters never re-descend: in-process they only increment, and a
    * fresh process seeds from max(existing dirs)+1, which commits keep at
    * the top). */
  def releaseClaim(spark: SparkSession, path: String, gen: Long): Unit = {
    val (fs, _) = fsOf(spark, path)
    fs.delete(claimPath(path, gen), false)
    ()
  }

  /** Fail loudly if any generation carries two writers' nonces — the
    * detectable signature of a violated single-writer contract (both
    * appends to the shared generation survive as files, so the marker
    * count is evidence, not a race). Generations without markers (older
    * stores, foreign writers that crashed pre-stamp) pass: absence proves
    * nothing, and latest-wins over them is still well-defined. Runs over
    * an already-performed [[scanStore]] pass (the read paths scan once and
    * feed both this and the resolve order). */
  def assertSingleWriter(path: String, infos: Seq[GenInfo]): Unit =
    infos.foreach { i =>
      if (i.nonces.length > 1)
        throw new IllegalStateException(
          s"log store $path: generation ${i.dir.getName} carries ${i.nonces.length} writer " +
            s"nonces — two processes appended the same generation. Appends claim their " +
            "generation atomically (GenLog.claimGen), so this indicates a filesystem " +
            "without create-exclusivity or direct interference; cross-process " +
            "writers on such stores need the Delta/Iceberg commit log (COVERAGE §2.1).")
    }

  /** Default auto-compaction threshold: SPARK_GRAFT_LOG_COMPACT_EVERY
    * (strictly parsed by [[graft.LocalSession.envInt]]), else 32. A `def`,
    * so a bad env value throws the named IllegalArgumentException at store
    * CONSTRUCTION — not an ExceptionInInitializerError from a companion
    * initializer. */
  def defaultAutoCompactEvery: Int =
    graft.LocalSession.envInt("SPARK_GRAFT_LOG_COMPACT_EVERY", default = 32)

  /** Drop all cached counters so the next touch re-seeds from the directory
    * — simulates a process restart for the recovery spec. */
  private[graft] def resetCountersForTest(): Unit = { gens.clear(); sizes.clear() }
}

/** The generation-log upsert store, one implementation behind two layouts
  * ([[LogUpsertSource]] plain, [[BucketedLogUpsertSource]] hash-bucketed).
  * Every upsert APPENDS its batch under a new `__gen=N` hive partition and
  * the read resolves keys to their LATEST generation — the Delta/Iceberg
  * commit-log idea (append + resolve, never read-modify-write) with no jar.
  * Built for high-frequency upsert sinks (the staged streaming gates'
  * online store): per-batch cost is O(batch) — one parquet append, no
  * old-side read, no anti-join, no rewrite, no rename — where
  * [[ParquetSource.upsert]] pays O(store) per batch and even
  * [[BucketedParquetSource]] pays O(touched buckets). Measured at ×100
  * state density this is the difference between a 47× and a single-digit
  * gate ratio (SCALE.md round 14).
  *
  * Semantics: upsert-by-key with latest-write-wins (reference:
  * sources/local.py:317-340) — exactly update-mode streaming's contract
  * (each micro-batch re-emits a key's CUMULATIVE row, so the newest
  * emission is the truth). Read = one window pass keeping row_number()==1
  * per key ordered by generation desc; duplicates of a key WITHIN one
  * generation are not disambiguated (update-mode emissions are per-key
  * unique by construction; documented, not guarded). Redelivered
  * (at-least-once) batches append identical rows under a newer generation
  * and resolve away. Generations are monotonic per path: a process-local
  * counter seeded from the existing directory listing, so a restart
  * (q212's recovery shape) continues above every persisted generation.
  *
  * This is an UPSERT store, not an append log: `insert` fails loudly
  * (see its scaladoc) rather than silently collapsing duplicate keys.
  * NULL entity keys: the resolve window groups NULLs together, so
  * null-keyed rows collapse to one latest row — a DIVERGENCE from the
  * anti-join stores (ParquetSource/BucketedParquetSource), whose
  * null-safe-less join never matches NULL keys and therefore accumulates
  * them. Entity keys are non-null by contract; the divergence is
  * spec-pinned (LogUpsertSourceSpec), not guarded — a per-batch null scan
  * would tax every micro-batch for a contract violation.
  *
  * Compaction bounds the read cost and file count, which otherwise grow
  * with total EMISSIONS. The ENGINE enforces it, TIERED like any LSM:
  * after every append, once the persisted generation count reaches
  * `autoCompactEvery` (default 32; env SPARK_GRAFT_LOG_COMPACT_EVERY),
  * [[upsert]] runs a fold inline — routinely the MINOR [[compactTail]]
  * (merge only the recent tail runs, O(tail emissions), the large base
  * generation's files untouched), and the MAJOR [[compact]] (full O(live
  * keys) rewrite) only when the accumulated tail has grown to the base's
  * size ([[GenLog.tieredTrigger]]). At 100 TB the same fold can also run
  * as a detached periodic OPTIMIZE via [[compact]].
  *
  * Crash atomicity: folds and [[overwrite]] share ONE commit ([[commit]]):
  * write the new generation into a staging dir OUTSIDE the store, stamp
  * its writer and range markers there, rename it in, then delete exactly
  * the pinned generations it replaces. Nothing live is deleted before its
  * replacement is visible, and a crash between rename and deletes is
  * harmless because a read skips what a visible range subsumes
  * ([[GenLog.live]]) — the snapshot-commit idea of Delta Lake (publish the
  * new version atomically, remove old files afterwards).
  *
  * Concurrency: cross-process APPENDS are safe where the filesystem
  * provides atomic create-no-overwrite (HDFS/ABFS): a writer atomically
  * CLAIMS its generation number before writing ([[GenLog.claimGen]]), so
  * two processes cannot interleave files in one generation; concurrent
  * upserts land unique generations totally ordered by claim order, which
  * is exactly latest-wins. The per-generation writer-nonce stamp remains
  * as the detection backstop ([[GenLog.assertSingleWriter]]). Folds
  * coexist with concurrent appends: a fold PINS its input set before
  * reading, deletes exactly that set, and its dest ORDERS at the folded
  * range's upper bound ([[GenLog.effectiveGens]]) — a foreign append
  * landing mid-fold is neither read, nor deleted, nor out-ordered.
  * Concurrent FOLDS and [[overwrite]] remain single-OPERATOR discipline:
  * two racing folds either fail loudly mid-read (inputs deleted under them
  * — staging is outside the store, nothing renamed, no corruption) or both
  * land, resolving to identical values by latest-wins.
  *
  * A layout declares three things: which columns the resolve drops besides
  * `__gen`, how a frame is written into one generation dir, and where an
  * empty generation's schema-bearing file goes. */
sealed trait GenLogStore extends WritableSource {
  def path: String
  def keys: Seq[String]
  def autoCompactEvery: Int
  require(autoCompactEvery >= 2,
    s"autoCompactEvery must be >= 2 (1 would fold the whole store on every " +
      s"append, re-creating the O(store)-per-batch cost this store removes), " +
      s"got $autoCompactEvery")

  /** Layout columns the resolve drops besides `__gen`. */
  protected def layoutCols: Seq[String]
  /** The writer that lays `df` out inside one generation dir. */
  protected def genWriter(df: DataFrame): DataFrameWriter[Row]
  /** Where an empty generation's schema-bearing part file goes. */
  protected def schemaLeaf(genDir: String): String

  private val G = GenLog.G
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)

  /** One pinned metadata scan, single-writer checked. */
  private def scan(spark: SparkSession): Seq[GenLog.GenInfo] = {
    val infos = GenLog.scanStore(spark, path)
    GenLog.assertSingleWriter(path, infos)
    infos
  }
  /** The generations a latest read resolves over. */
  protected def liveGens(spark: SparkSession): Seq[GenLog.GenInfo] = GenLog.live(scan(spark))
  /** The raw rows of `gens`, `__gen` and layout columns attached. */
  protected def files(spark: SparkSession, gens: Seq[GenLog.GenInfo]): DataFrame =
    spark.read.option("basePath", path).parquet(gens.map(_.dir.toString): _*)
  /** Latest-wins per key over `raw` (rows of `gens`), layout columns dropped. */
  protected def resolve(raw: DataFrame, gens: Seq[GenLog.GenInfo]): DataFrame =
    GenLog.resolveLatest(raw, GenLog.effectiveGens(gens), keys, G +: layoutCols)

  def read(spark: SparkSession): DataFrame = {
    val live = liveGens(spark)
    if (live.isEmpty) spark.read.parquet(path) // loud, consistent error
    else resolve(files(spark, live), live)
  }

  /** TIME TRAVEL (the Delta `versionAsOf` idea on the generation log): the
    * store's state as of generation `gen` — every append IS a snapshot
    * point, so `readAt(g)` resolves latest-wins over only the generations
    * at-or-before `g`. Retention is bounded by the compaction cadence: a
    * fold subsumes its inputs' history, and a request strictly inside a
    * folded range fails LOUDLY ([[GenLog.dirsAt]]) rather than silently
    * returning the post-fold state — raise `autoCompactEvery` (or snapshot
    * externally) for a longer undo window, exactly the Delta
    * VACUUM-retention trade. [[snapshots]] lists the points currently
    * readable. */
  def readAt(spark: SparkSession, gen: Long): DataFrame = {
    val live = GenLog.live(GenLog.dirsAt(path, scan(spark), gen))
    resolve(files(spark, live), live)
  }

  /** Exact snapshot points currently retained (each dir's range upper
    * bound, ascending) — every listed generation is a valid `readAt`
    * argument; later commits subsume the older entries. */
  def snapshots(spark: SparkSession): Seq[Long] =
    GenLog.scanStore(spark, path).map(_.hi).distinct.sorted

  /** The stored data schema from ONE live generation dir (a single-dir
    * footer read, not a whole-store partition discovery — the point-lookup
    * guard in ContractStore calls this per online lookup): every generation
    * shares the schema (the store has no cross-generation schema
    * evolution; conformance casts live at the contract layer). None when
    * the store is empty/absent or the probe read races a fold. */
  private[graft] def storedSchema(spark: SparkSession): Option[org.apache.spark.sql.types.StructType] =
    GenLog.live(GenLog.scanStore(spark, path)).headOption.flatMap(i =>
      scala.util.Try(spark.read.parquet(i.dir.toString).schema).toOption)

  /** Fails loudly: the resolve collapses to ONE row per key, so an
    * append-style insert cannot keep duplicate keys — delegating to upsert
    * would silently turn "append these rows" into "replace by key" (rows
    * lost on generic contract paths that insert, e.g. incremental
    * materialization's fresh-row insert or keyless prediction logging).
    * Callers wanting upsert say upsert; append logs belong on
    * ParquetSource/PartitionedParquetSource. */
  def insert(df: DataFrame): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName}($path) is an upsert-by-key store: its read resolves " +
        "to one row per key, so insert's append-all-rows contract cannot hold. Call " +
        "upsert(df, keys) explicitly, or configure an append-shaped source " +
        "(ParquetSource / PartitionedParquetSource) for insert-style views.")

  /** Replace the store's content with `df`: one [[commit]] of a new
    * generation that subsumes every existing one (no single-writer check:
    * nothing of them is read). */
  def overwrite(df: DataFrame): Unit = StageAndSwap.locked(df.sparkSession, path) {
    commit(df.sparkSession, df, GenLog.scanStore(df.sparkSession, path), overwrite = true)
  }

  def upsert(df: DataFrame, upsertKeys: Seq[String]): Unit = StageAndSwap.locked(df.sparkSession, path) {
    require(upsertKeys == keys,
      s"${getClass.getSimpleName}($path) resolves reads by $keys; an upsert keyed " +
        s"by $upsertKeys would not merge on read")
    val spark = df.sparkSession
    val gen = GenLog.claimGen(spark, path)
    val dir = s"$path/$G=$gen"
    // appended straight into the claimed dir: staging it would add a
    // rename to every micro-batch, and a crash mid-append can only leave
    // part of its own batch
    genWriter(df).mode(SaveMode.Append).parquet(dir)
    // an EMPTY batch writes no data files (or, from a zero-partition plan,
    // none at all). Detected by ONE cheap listing — never a per-batch
    // isEmpty job, whose executeTake(1) re-ran the whole upstream pipeline.
    // An empty upsert is then a NO-OP: the dir is dropped and its claim
    // released, so empty stream-finalize batches don't advance the log and
    // can't trigger spurious O(tail) folds (measured at ×10: extra
    // fold-per-gate from empty finalize generations). Exception: the
    // store's FIRST generation is kept as the schema donor — a read of an
    // all-empty store must return the empty frame WITH schema, not a
    // schema-inference error.
    if (GenLog.resolveEmptyGen(spark, path, gen)(writeSchema(spark, df, dir))) {
      GenLog.markWriter(spark, dir)
      spark.catalog.refreshByPath(path)
      // amortized auto-compaction bounds generations (and resolve cost) BY
      // THE ENGINE — a production stream runs thousands of micro-batches
      // and must not depend on the operator remembering the OPTIMIZE job
      // (VERDICT r14 #1)
      GenLog.tieredTrigger(spark, path, autoCompactEvery,
        major = () => compact(spark), minor = () => compactTail(spark))
    }
  }

  /** Fold the whole log into one resolved generation — the OPTIMIZE half
    * of the LSM story. Read cost grows with total EMISSIONS (every
    * generation's rows flow through the resolve window) until a compaction
    * resets it to O(live keys); [[upsert]] triggers this automatically
    * every `autoCompactEvery` generations, and a deployment can also run
    * it as a detached periodic job. The fold lands under a NEW top
    * generation (not gen=0) through [[commit]]. */
  def compact(spark: SparkSession): Unit = fold(spark, tailOnly = false)

  /** The MINOR fold of the tiered schedule: merge every generation EXCEPT
    * the base (lowest) into one new top generation — O(tail emissions),
    * the base generation's files physically untouched (spec-pinned). Exact
    * by the resolve order: the merged rows keep within-tail latest-wins,
    * land under a generation ABOVE the base, and a key present in both
    * still resolves to the tail copy — precisely what the unmerged log
    * resolved to. */
  def compactTail(spark: SparkSession): Unit = fold(spark, tailOnly = true)

  private def fold(spark: SparkSession, tailOnly: Boolean): Unit =
    StageAndSwap.locked(spark, path) {
      // PIN the input set in one scan: the fold reads exactly these dirs and
      // later deletes exactly these dirs — a foreign append landing between
      // pin and delete is neither folded nor destroyed (a fresh listing at
      // delete time WOULD destroy it)
      val infos = scan(spark)
      val inputs = if (tailOnly) infos.drop(1) else infos
      // a minor fold of one run would just rewrite it
      if (inputs.length >= (if (tailOnly) 2 else 1)) {
        val live = GenLog.live(inputs)
        commit(spark, resolve(files(spark, live), live), inputs, overwrite = false)
      }
    }

  /** The one commit behind every fold and overwrite: claim generation N,
    * write `data` FULLY into a staging dir outside the store (a
    * crash-leftover "__gen=N__tmp" INSIDE it would parse as a string
    * partition and corrupt the numeric generation ordering), stamp the
    * writer and range markers there, rename it in as `__gen=N`, and only
    * then delete exactly the pinned `replaces` and release their claims.
    * The range is [lowest replaced lo, newest replaced hi] for a fold and
    * [lowest replaced lo, N] for an overwrite. */
  private def commit(spark: SparkSession, data: DataFrame,
      replaces: Seq[GenLog.GenInfo], overwrite: Boolean): Unit = {
    val gen = GenLog.claimGen(spark, path)
    val store = new org.apache.hadoop.fs.Path(path)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      store.getParent, store.getName + s"__graft_compact_g$gen")
    genWriter(data).mode(SaveMode.Overwrite).parquet(staging.toString)
    // a listing, not a pre-write isEmpty job: an empty frame through
    // partitionBy writes no file and would leave a schema-less generation
    if (!GenLog.hasDataChildren(fs, staging)) writeSchema(spark, data, staging.toString)
    GenLog.markWriter(spark, staging.toString)
    if (replaces.nonEmpty)
      GenLog.markRange(spark, staging.toString, replaces.map(_.lo).min,
        if (overwrite) gen else replaces.map(_.hi).max)
    val dest = new org.apache.hadoop.fs.Path(store, s"$G=$gen")
    if (!fs.rename(staging, dest))
      throw new java.io.IOException(s"commit: rename $staging -> $dest failed")
    replaces.foreach { i =>
      fs.delete(i.dir, true)
      GenLog.forgetSize(spark, i.dir)
      GenLog.releaseClaim(spark, path, i.gen)
    }
    spark.catalog.refreshByPath(path)
  }

  /** One empty part file carrying `df`'s schema, from an empty local frame
    * (re-running `df`'s plan to find it empty would be a whole job). */
  private def writeSchema(spark: SparkSession, df: DataFrame, genDir: String): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row].repartition(1), df.schema)
      .write.mode(SaveMode.Overwrite).parquet(schemaLeaf(genDir))
}

/** Plain layout: each generation is one flat parquet dir. The batch
  * callers' generations are file-count bounded by bytes
  * ([[GenLog.boundGenFiles]]). */
final case class LogUpsertSource(path: String, keys: Seq[String],
    autoCompactEvery: Int = GenLog.defaultAutoCompactEvery,
    // bound each generation's file count by batch BYTES
    // (GenLog.boundGenFiles) — right for BATCH callers, whose frames
    // arrive at scan/session parallelism regardless of size (the r15
    // q245/q248 finding: a fanned 500-row frame minted 32 tiny files per
    // generation). The streaming gates OPT OUT: their sink width is
    // already layout-managed (width-1 gates coalesce(1); scale widths
    // write exactly width files), and the bound's repartition added one
    // exchange per micro-batch AND per fold — measured at the ×10 curve
    // as +1-5 s on every gate before the opt-out.
    boundFiles: Boolean = true) extends GenLogStore {
  protected def layoutCols: Seq[String] = Nil
  protected def genWriter(df: DataFrame): DataFrameWriter[Row] =
    (if (boundFiles) GenLog.boundGenFiles(df) else df).write
  protected def schemaLeaf(genDir: String): String = genDir
}

object LogUpsertSource {
  /** Test hook kept at its historical address; counters live in
    * [[GenLog]]. */
  private[graft] def resetCountersForTest(): Unit = GenLog.resetCountersForTest()
}

/** Hash-bucketed layout — [[BucketedParquetSource]]'s buckets nested under
  * the generation log: `path/__gen=N/__bucket=H/…`. The log made APPENDS
  * O(batch) but left point lookups scanning every emission; the buckets
  * make lookups prune. An upsert appends ONE partitioned write, hash
  * write-distributed on the bucket (optimization r15; the Iceberg
  * write.distribution-mode=hash default) so every generation has
  * ≤ numBuckets files at any scale, while a point lookup prunes to the
  * probed keys' buckets ACROSS all generations ([[readForEntities]]). This
  * is the memtable/SSTable split of an LSM tree; folds keep the bucket
  * layout, so lookups stay pruned after every fold. At 100 TB, size
  * `numBuckets` so a bucket's live rows ≈ a few GB; lookup cost is then
  * O(live-bucket + its log tail), flat in store size (spec-measured). */
final case class BucketedLogUpsertSource(path: String, keys: Seq[String],
    numBuckets: Int = 8,
    autoCompactEvery: Int = GenLog.defaultAutoCompactEvery) extends GenLogStore {
  require(numBuckets > 0, s"numBuckets must be > 0, got $numBuckets")
  private val B = "__bucket"
  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn(B, pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong)).cast("int"))
  protected def layoutCols: Seq[String] = Seq(B)
  protected def genWriter(df: DataFrame): DataFrameWriter[Row] =
    withBucket(df).repartition(col(B)).write.partitionBy(B)
  protected def schemaLeaf(genDir: String): String = s"$genDir/$B=0"

  /** The point-lookup path: latest rows for exactly the keys present in
    * `entities` — scans ONLY those keys' buckets (their ids derived by a
    * tiny distributed job over the entity frame; ≤ numBuckets ints collect)
    * across the generations, then resolves latest-wins on the pruned
    * sliver. A key always hashes to the same bucket, so per-key resolution
    * over the pruned frame equals resolution over the full store. Rows for
    * OTHER keys sharing a probed bucket are filtered by the caller's key
    * join/predicate (onlineFeaturesFor layers its IN-list pushdown on
    * top). */
  def readForEntities(spark: SparkSession, entities: DataFrame): DataFrame = {
    val live = liveGens(spark)
    if (live.isEmpty) return spark.read.parquet(path) // loud, consistent error
    val raw = files(spark, live)
    // xxhash64 is TYPE-sensitive (hash(1: int) != hash(1L)): probe values
    // must hash with the STORE's own key types or the pruning silently
    // selects the wrong buckets — cast the probe frame to the stored
    // schema before bucketing (footer-only schema read, no data scan)
    val stored = raw.schema.map(f => f.name -> f.dataType).toMap
    val probes = keys.foldLeft(entities.select(keys.map(col): _*).distinct()) {
      (df, k) => stored.get(k).map(t => df.withColumn(k, col(k).cast(t))).getOrElse(df)
    }
    val ids = withBucket(probes).select(B).distinct().collect().map(_.getInt(0)).toIndexedSeq
    resolve(raw.filter(if (ids.isEmpty) lit(false) else col(B).isin(ids: _*)), live)
  }
}

final case class CsvSource(
    path: String,
    sep: String = ",",
    header: Boolean = true,
    dateFormat: Option[String] = None) extends WritableSource {
  def read(spark: SparkSession): DataFrame = {
    var r = spark.read.option("sep", sep).option("header", header.toString).option("inferSchema", "true")
    dateFormat.foreach(f => r = r.option("timestampFormat", f))
    r.csv(path)
  }
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).option("sep", sep).option("header", header.toString).csv(path)
  def overwrite(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).option("sep", sep).option("header", header.toString).csv(path)
  def upsert(df: DataFrame, keys: Seq[String]): Unit =
    // stage-and-swap like parquet/jsonl/orc — never a driver collect
    StageAndSwap.upsert(this, path, df, keys,
      (d, p) => d.write.mode(SaveMode.Overwrite).option("sep", sep)
        .option("header", header.toString).csv(p))
}

/** Delta Lake table (reference: DeltaFileSource, sources/local.py:887-1055 —
  * scan, append, entity-key MERGE upsert, overwrite). Code-complete against
  * the stable `format("delta")` DataSource API and the ANSI MERGE INTO
  * statement; only the delta-spark jar + session extension binding is absent
  * in this offline build (zero-egress: the jar cannot resolve), so the
  * methods compile and are exercised at the SQL/algebra level in
  * DeltaSourceSpec rather than end-to-end. Unlike the plain-file sources,
  * upsert here is a TARGET-SIDE transaction: the commit log gives the
  * atomicity StageAndSwap emulates with a temp-dir rewrite, and only touched
  * files rewrite — the 100 TB-correct shape for mutable tables. */
final case class DeltaSource(path: String) extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.read.format("delta").load(path)
  /** A Delta table exists iff its commit log does — probing the bare dir
    * would mistake leftover data files for a live table. */
  override def exists(spark: SparkSession): Boolean =
    PathProbe.exists(spark, path + "/_delta_log")
  def insert(df: DataFrame): Unit =
    df.write.format("delta").mode(SaveMode.Append).save(path)
  def overwrite(df: DataFrame): Unit =
    df.write.format("delta").mode(SaveMode.Overwrite).save(path)
  /** Entity-key upsert as a real MERGE INTO (reference local.py:1010-1051).
    * Same algebra as [[StageAndSwap.upsert]] — matched rows replaced,
    * unmatched kept, new rows inserted — proven equivalent on the
    * parquet-backed emulation in DeltaSourceSpec. */
  def upsert(df: DataFrame, keys: Seq[String]): Unit =
    if (!exists(df.sparkSession)) insert(df)
    else MergeUpsert.run(df, s"delta.`$path`", keys)
  /** The MERGE statement [[upsert]] runs — exposed so the spec can gate its
    * shape without a live Delta runtime. */
  def mergeSql(sourceView: String, keys: Seq[String]): String =
    MergeUpsert.statement(s"delta.`$path`", sourceView, keys)
}

/** Apache Iceberg table (SURVEY §2.1: IcebergSource). Identified by a
  * CATALOG TABLE NAME, not a path — Iceberg's metadata lives in the
  * catalog. Every method uses catalog-neutral Spark APIs (spark.table,
  * DataFrameWriterV2, ANSI MERGE INTO), so the class is code-complete with
  * only the iceberg-runtime jar + catalog conf absent in this offline
  * build (build.sbt DEPLOY NOTE). Like [[DeltaSource]], upsert is a
  * target-side transaction: the snapshot commit gives the atomicity
  * StageAndSwap emulates for plain files. */
final case class IcebergSource(table: String) extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.table(table)
  // an UNBOUND catalog raises AnalysisException on multi-part names — that
  // means "not reachable here", not a transient read failure, so mapping it
  // to false is safe (unlike the file sources' existence probes)
  override def exists(spark: SparkSession): Boolean =
    try spark.catalog.tableExists(table)
    catch { case _: org.apache.spark.sql.AnalysisException => false }
  def insert(df: DataFrame): Unit = df.writeTo(table).append()
  def overwrite(df: DataFrame): Unit = df.writeTo(table).createOrReplace()
  def upsert(df: DataFrame, keys: Seq[String]): Unit =
    if (!exists(df.sparkSession)) df.writeTo(table).create()
    else MergeUpsert.run(df, table, keys)
  def mergeSql(sourceView: String, keys: Seq[String]): String =
    MergeUpsert.statement(table, sourceView, keys)
}

/** Shared MERGE INTO upsert for transactional table formats (Delta,
  * Iceberg): entity-key equality, update-all matched, insert-all new —
  * the exact algebra [[StageAndSwap]] implements for plain files. */
private[sources] object MergeUpsert {
  def statement(target: String, sourceView: String, keys: Seq[String]): String = {
    require(keys.nonEmpty, "merge upsert needs at least one entity key")
    val on = keys.map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
    s"MERGE INTO $target t USING $sourceView s ON $on " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
  }
  def run(df: DataFrame, target: String, keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    val view = s"__graft_merge_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.createOrReplaceTempView(view)
    try spark.sql(statement(target, view, keys))
    finally spark.catalog.dropTempView(view)
  }
}

/** Newline-delimited JSON (the interchange format most ingest pipelines and
  * LLM-corpus dumps arrive in; the reference covers the same niche with its
  * CSV config, sources/local.py:207-489). Schema may be pinned to avoid the
  * inference scan — at 100 TB, `schema` is required reading: inference is a
  * full extra pass over the data. Upsert = stage-and-swap rewrite, like
  * parquet. */
final case class JsonLinesSource(
    path: String,
    schema: Option[org.apache.spark.sql.types.StructType] = None) extends WritableSource {
  // Spark's DEFAULT json write truncates timestamps to milliseconds
  // (".SSSXXX" — measured: 10:00:00.123456 → "10:00:00.123Z"), which would
  // silently corrupt as-of ordering on every upsert round-trip; pin a
  // microsecond format on BOTH sides
  private val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  private def reader(spark: SparkSession) =
    spark.read.option("timestampFormat", tsFmt)
  private def writer(df: DataFrame) =
    df.write.option("timestampFormat", tsFmt)
  def read(spark: SparkSession): DataFrame = schema match {
    case Some(s) => reader(spark).schema(s).json(path)
    case None => reader(spark).json(path)
  }
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit = writer(df).mode(SaveMode.Append).json(path)
  def overwrite(df: DataFrame): Unit = writer(df).mode(SaveMode.Overwrite).json(path)
  def upsert(df: DataFrame, keys: Seq[String]): Unit =
    StageAndSwap.upsert(this, path, df, keys,
      (d, p) => writer(d).mode(SaveMode.Overwrite).json(p))
}

/** ORC table — the other columnar format Spark ships a vectorized,
  * predicate-pushing reader for (PushedFilters reach ORC exactly like
  * parquet; covered by the pushdown plan assertions in SourcesSpec). */
final case class OrcSource(path: String) extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.read.orc(path)
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit = df.write.mode(SaveMode.Append).orc(path)
  def overwrite(df: DataFrame): Unit = df.write.mode(SaveMode.Overwrite).orc(path)
  def upsert(df: DataFrame, keys: Seq[String]): Unit =
    StageAndSwap.upsert(this, path, df, keys,
      (d, p) => d.write.mode(SaveMode.Overwrite).orc(p))
}

/** The shared stage-and-swap upsert protocol: merge (old anti-join new ∪
  * new), materialize to a temp dir, then SWAP the temp dir into place with
  * one FileSystem.rename (the Caching.compact idiom). Self-overwrite-safe
  * (the merge is fully materialized before the old files are dropped) at
  * HALF the old cost: the previous protocol re-read the temp copy and
  * wrote the whole table a second time, so every upsert paid two full
  * materializations — measured at the ×100 streaming scale point, that
  * second write dominated per-batch sink time (SCALE.md). The crash
  * window (delete → rename, metadata-only) is strictly smaller than the
  * old one (delete + full rewrite); full transactionality is the
  * Delta/Iceberg commit log's job (COVERAGE §2.1). On object stores the
  * rename is a server-side copy — still cheaper than a second
  * compute+upload pass. One implementation (parquet/csv/json/orc all share
  * it) so a protocol fix lands everywhere.
  *
  * Concurrency contract: the whole read-merge-write-swap sequence holds a
  * per-canonical-path lock, so concurrent upserts to ONE path from this JVM
  * serialize and the final table is their exact union (reference semantics:
  * sources/local.py:317-340). The lock is intra-JVM only — locking just the
  * swap would not help, since both writers would merge against the same old
  * snapshot and the last swap would silently drop the other's rows.
  * CROSS-process coordination is explicitly out of scope: that is the
  * Delta/Iceberg commit log's job (COVERAGE §2.1). */
private[sources] object StageAndSwap {
  /** One monitor per qualified path; the map only ever grows by distinct
    * table paths touched by this JVM (bounded by the contract registry). */
  private val pathLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding this JVM's lock for `path` (qualified against the
    * path's OWN filesystem so `/x`, `file:/x` and `file:///x` share one
    * monitor). */
  private[sources] def locked[T](spark: SparkSession, path: String)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val key = p.getFileSystem(conf).makeQualified(p).toString
    val monitor = pathLocks.computeIfAbsent(key, _ => new Object)
    monitor.synchronized(body)
  }

  def upsert(src: WritableSource, path: String, df: DataFrame, keys: Seq[String],
      write: (DataFrame, String) => Unit): Unit = locked(df.sparkSession, path) {
    val spark = df.sparkSession
    // existence probe, NOT try/catch around read: a transient read failure
    // must propagate, or the swap below would destroy the old table
    val merged =
      if (!src.exists(spark)) df
      else src.read(spark).join(df.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .unionByName(df)
    // SIBLING staging dir via Path(parent, name+suffix), never string
    // concat: with a trailing-slash `path` the concat form nests the
    // staging dir INSIDE dest, and swapInto's recursive delete would
    // destroy both the old table and the freshly staged merge
    val dest = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(dest.getParent, dest.getName + "__tmp_upsert")
    write(merged, tmp.toString)
    swapInto(spark, tmp.toString, path)
  }

  /** Drop `path` and rename `tmp` over it; throws (leaving `tmp` intact
    * for recovery) if the rename is refused. */
  private[sources] def swapInto(spark: SparkSession, tmp: String, path: String): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    // the path's OWN filesystem, not FileSystem.get's defaultFS — dest may
    // live on s3a://|abfss:// while fs.defaultFS is file:// or hdfs://,
    // and delete/rename against the wrong fs throw "Wrong FS"
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dest, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dest))
      throw new java.io.IOException(s"upsert swap: rename $tmp -> $path failed")
    // the rename bypasses Spark's write path (the old second write went
    // through InsertIntoHadoopFsRelationCommand, which refreshed for us),
    // so drop any cached file index a prior read of `path` established
    spark.catalog.refreshByPath(path)
  }
}

/** Literal in-memory frame (reference: InMemorySource, sources/in_mem_source.py:61). */
final case class InMemorySource(rows: Seq[org.apache.spark.sql.Row], schema: org.apache.spark.sql.types.StructType)
    extends BatchSource {
  def read(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
}

/** Deterministic synthetic source satisfying a contract schema — test source
  * (reference: RandomDataSource, sources/random_source.py:186). Generated
  * distributed via spark.range, not driver-side. */
final case class RandomSource(view: graft.contract.FeatureView, n: Long, seed: Long = 42L)
    extends BatchSource {
  import graft.core.FeatureType._
  def read(spark: SparkSession): DataFrame = {
    val base = spark.range(n).withColumnRenamed("id", "__row")
    val all = view.entities ++ view.features
    val withCols = all.foldLeft(base) { (df, f) =>
      val r = abs(xxhash64(col("__row"), lit(f.name), lit(seed)))
      val c = f.dtype match {
        case FString => concat(lit(f.name + "_"), (r % 1000).cast("string"))
        case FInt8 | FInt16 | FInt32 => (r % 1000).cast(f.dtype.sparkType)
        case FInt64 | FUInt64 => (r % 1000000).cast("long")
        case FFloat32 | FFloat64 => ((r % 100000).cast("double") / 100.0).cast(f.dtype.sparkType)
        case FBool => (r % 2 === 0)
        case _: FDatetime => timestamp_seconds(lit(1700000000L) + (r % 864000))
        case FDate => date_add(lit(java.sql.Date.valueOf("2024-01-01")), (r % 365).cast("int"))
        case _ => concat(lit(f.name + "_"), (r % 1000).cast("string"))
      }
      df.withColumn(f.name, c)
    }
    val withTs = view.eventTimestamp.fold(withCols)(ts =>
      withCols.withColumn(ts.name, timestamp_seconds(lit(1700000000L) + (col("__row") % 864000))))
    withTs.drop("__row")
  }
}

// --- composite / virtual sources (batch_data_source.py:793-1457) ---

/** predicate applied at scan; Catalyst pushes it into the file scan. */
final case class FilteredSource(inner: BatchSource, predicate: Column) extends BatchSource {
  def read(spark: SparkSession): DataFrame = inner.read(spark).filter(predicate)
}

/** equi-join of two sources (JoinDataSource, batch_data_source.py:1341-1457). */
final case class JoinSource(left: BatchSource, right: BatchSource, keys: Seq[String], how: String = "inner")
    extends BatchSource {
  def read(spark: SparkSession): DataFrame = left.read(spark).join(right.read(spark), keys, how)
}

/** as-of join of two sources (JoinAsofDataSource, batch_data_source.py:1016-1146). */
final case class JoinAsofSource(
    left: BatchSource, right: BatchSource,
    leftTs: String, rightTs: String, by: Seq[String]) extends BatchSource {
  def read(spark: SparkSession): DataFrame =
    graft.ops.Joins.asofJoin(left.read(spark), right.read(spark), leftTs, rightTs, by)
}

/** UNION ALL with optional provenance column (StackSource,
  * batch_data_source.py:1149-1285; StackJob retrieval_job.py:1742-1792). */
final case class StackSource(
    top: BatchSource, bottom: BatchSource,
    provenanceColumn: Option[String] = None,
    topName: String = "top", bottomName: String = "bottom") extends BatchSource {
  def read(spark: SparkSession): DataFrame = {
    val (t0, b0) = (top.read(spark), bottom.read(spark))
    val (t, b) = provenanceColumn match {
      case Some(p) => (t0.withColumn(p, lit(topName)), b0.withColumn(p, lit(bottomName)))
      case None => (t0, b0)
    }
    t.unionByName(b.select(t.columns.map(col): _*))
  }
}

/** wall-clock load timestamp (LoadedAtSource, batch_data_source.py:1288-1338).
  * `clock` pins the stamp for reproducible runs/backfills and makes the
  * source oracle-gateable (q243); None = wall clock, the production
  * default. current_timestamp() is per-QUERY constant in Spark, so even
  * the wall-clock form stamps one instant per load, not per row. */
final case class LoadedAtSource(inner: BatchSource, column: String = "loaded_at",
    clock: Option[java.sql.Timestamp] = None) extends BatchSource {
  def read(spark: SparkSession): DataFrame = inner.read(spark)
    .withColumn(column, clock.map(lit(_)).getOrElse(current_timestamp()))
}

/** arbitrary DataFrame→DataFrame function over a source (TransformSource,
  * batch_data_source.py:515-574). */
final case class TransformSource(inner: BatchSource, f: DataFrame => DataFrame) extends BatchSource {
  def read(spark: SparkSession): DataFrame = f(inner.read(spark))
}

/** fully custom callable source (CustomMethodDataSource, batch_data_source.py:577-790). */
final case class CustomSource(f: SparkSession => DataFrame) extends BatchSource {
  def read(spark: SparkSession): DataFrame = f(spark)
}

/** another view used as a source, including its derived features
  * (FeatureViewReferenceSource, schemas/feature_view.py:292). Resolved lazily
  * through the store to allow forward references. */
final case class ViewReferenceSource(store: () => graft.store.ContractStore, viewName: String)
    extends BatchSource {
  def read(spark: SparkSession): DataFrame = store().view(viewName).all(spark)
}

/** Raw file bytes (reference: StorageFileSource, sources/local.py:1058-1085):
  * one row per file with path, length, modificationTime, content — Spark's
  * binaryFile format. `pathGlob` limits the files read. */
final case class StorageSource(path: String, pathGlob: Option[String] = None) extends BatchSource {
  def read(spark: SparkSession): DataFrame = {
    var r = spark.read.format("binaryFile")
    pathGlob.foreach(g => r = r.option("pathGlobFilter", g))
    r.load(path)
  }
}

/** JDBC table source (reference psql/redshift sources, sources/psql.py) —
  * filter/column pushdown comes free via the JDBC connector. */
final case class JdbcSource(url: String, table: String, props: Map[String, String] = Map.empty)
    extends BatchSource {
  def read(spark: SparkSession): DataFrame = {
    val p = new java.util.Properties(); props.foreach { case (k, v) => p.put(k, v) }
    spark.read.jdbc(url, table, p)
  }
}
