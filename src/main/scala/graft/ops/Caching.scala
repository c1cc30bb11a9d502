package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, struct, when}

/** Caching / materialization / iteration plumbing (SURVEY §2.13).
  */
object Caching {

  /** Write-through file cache (FileCachedJob / cached_at,
    * retrieval_job.py:2775-2817): if the cache path exists and is younger than
    * maxAge, read it; otherwise compute, write, and read back. Reading back
    * (rather than returning the computed frame) pins downstream plans to the
    * materialized files, like the reference. */
  def fileCached(spark: SparkSession, path: String,
      maxAge: Option[java.time.Duration] = None)(compute: => DataFrame): DataFrame = {
    val (fs, p) = graft.sources.PathProbe.resolve(spark, path)
    val fresh = fs.exists(p) && maxAge.forall { age =>
      System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime < age.toMillis
    }
    if (!fresh) {
      compute.write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  /** Bucketed materialization for co-located joins: persist as a bucketed
    * table (`bucketBy` requires the table catalog, not a bare path). Two
    * tables bucketed on the same keys with the same bucket count join with
    * ZERO exchange on either side — the shuffle is paid once at write time,
    * which is the right trade for a 100 TB fact table joined repeatedly on
    * its entity key (SURVEY scale notes; materialized_source analog with a
    * physical-layout contract). Sorting within buckets makes the join a
    * merge join without a sort step. */
  def materializeBucketed(df: DataFrame, table: String, bucketKeys: Seq[String],
      numBuckets: Int = 32, sortWithinBuckets: Boolean = true): DataFrame = {
    var w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketKeys.head, bucketKeys.tail: _*)
    if (sortWithinBuckets) w = w.sortBy(bucketKeys.head, bucketKeys.tail: _*)
    w.saveAsTable(table)
    df.sparkSession.table(table)
  }

  /** Small-files COMPACTION: rewrite a dataset into ~`targetRecordsPerFile`
    * row files, range-clustered on `clusterBy` so min/max column statistics
    * become selective (parquet row-group + file skipping — the poor man's
    * Z-order on one key prefix). A 100 TB table accreted by streaming or
    * per-batch upserts degenerates into millions of KB-files whose open/
    * footer costs dominate scans; periodic compaction is the standard fix
    * (OPTIMIZE in Delta terms — this is the bare-parquet form). */
  def compact(df: DataFrame, outPath: String, targetRecordsPerFile: Long,
      clusterBy: Seq[String] = Nil): Unit = {
    // cache before counting: the frame is read three times (count, range
    // sampling, write) — and IN-PLACE compaction (outPath == the input's
    // path) must not lazily re-read the files the overwrite deletes, so the
    // write goes to a SIBLING staging dir that is swapped in afterwards.
    // (Path(parent, name+suffix), never string concat: a trailing-slash
    // outPath would nest the staging dir INSIDE dest, and the recursive
    // delete would destroy both copies.) Don't evict a cache the caller
    // already established.
    val wasCached = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!wasCached) df.persist()
    try {
      val rows = df.count()
      val files = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      val arranged =
        if (clusterBy.nonEmpty) df.repartitionByRange(files, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
        else df.repartition(files)
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val dest = new org.apache.hadoop.fs.Path(outPath)
      // the path's OWN filesystem, not the default one — outPath may live on
      // s3a:// while fs.defaultFS is hdfs://
      val fs = dest.getFileSystem(conf)
      val staging = new org.apache.hadoop.fs.Path(
        dest.getParent, dest.getName + "__graft_compact_tmp")
      arranged.write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", targetRecordsPerFile)
        .parquet(staging.toString)
      fs.delete(dest, true)
      if (!fs.rename(staging, dest))
        throw new java.io.IOException(s"compact: rename $staging -> $dest failed")
    } finally if (!wasCached) { df.unpersist(); () }
  }

  /** Chunked iteration that streams partitions to the driver without
    * collecting the whole frame (DataLoaderJob, retrieval_job.py:2653-2688).
    * Each chunk is at most `chunkSize` rows. */
  def chunked(df: DataFrame, chunkSize: Int): Iterator[Seq[Row]] =
    df.toLocalIterator().asScala.grouped(chunkSize)

  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  /** Wall-clock metric logging around an action (TimeMetricLoggerJob,
    * retrieval_job.py:2843-2862). */
  def timed[T](label: String, onDone: (String, Double) => Unit = (l, s) => ())(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    onDone(label, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** SNAPSHOT DIFF: row-level added/removed/changed/unchanged between two
    * materializations of one view — the audit that runs before promoting a
    * rebuilt table (did the pipeline change touch only what it should?).
    * One full outer join on the entity keys; change detection is null-safe
    * struct equality over `compareCols` (portable — no engine-specific row
    * hashing), so at scale the join is the only exchange and AQE handles
    * skew. Returns (keys…, diff_status). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val oldS = oldDf.select(keys.map(col) :+
      struct(compareCols.map(col): _*).as("__old"): _*)
    val newS = newDf.select(keys.map(col) :+
      struct(compareCols.map(col): _*).as("__new"): _*)
    oldS.join(newS, keys, "full")
      .withColumn("diff_status",
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(col("__old") <=> col("__new"), "unchanged")
          .otherwise("changed"))
      .select(keys.map(col) :+ col("diff_status"): _*)
  }
}
