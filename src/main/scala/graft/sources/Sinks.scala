package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Output-layout helpers — the write side of the 100 TB contract.
  *
  * The reference pipeline writes per-match CSVs from a driver loop; at
  * scale the equivalents are (a) a date-partitioned columnar layout that
  * later scans can partition-prune, and (b) bucketed fact tables
  * ([[Tables.writeBucketed]]) that later joins need not shuffle.
  */
object Sinks {

  /** THE day-partition derivation — single definition shared by the batch
    * sink and `EventStream.writePartitionedStream`, so the two estates
    * can never silently write incompatible `day=` layouts. */
  def withDay(events: DataFrame): DataFrame =
    events.withColumn("day", to_date(col("ts")))

  /** Write events partitioned by day: `path/day=YYYY-MM-DD/part-*.parquet`.
    *
    * Day is derived once at write time; readers filtering on `day` prune
    * whole directories before any IO (PartitionFilters, asserted in
    * `SinksSpec`). `maxRecordsPerFile` bounds file sizes so a hot day
    * still splits across executors. */
  def writePartitionedByDay(events: DataFrame, path: String,
                            maxRecordsPerFile: Long = 5000000L): Unit =
    withDay(events)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("day")
      .parquet(path)

  /** The list-keyed index layout — `path/<col>=N/part-*.parquet`. On
    * the raw embeddings' `label` it is the IVF index layout: an
    * `AnnOps.annIvf` probe over it reads only the probed lists'
    * directories — the probe set is a broadcast joined on the partition
    * column, so dynamic partition pruning turns "scan the corpus" into
    * "scan nProbe/nLists of it" (PartitionFilters carries the
    * dynamicpruning subquery — asserted in `SinksSpec`; the §2-60 claim
    * made physical). The IVF-PQ code table writes through it on the
    * LEARNED `list_id` (`AnnOps.pqIvfIndex`), so a `pqSearchIvfIndex`
    * probe dynamic-partition-prunes the code directories the same way. */
  def writePartitionedBy(df: DataFrame, path: String, partitionCol: String,
                         maxRecordsPerFile: Long = 5000000L): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Compact a flat parquet directory's small files into
    * ⌈totalBytes / targetFileBytes⌉ right-sized ones, written to
    * `outPath` (write-to-new-then-swap is the atomic deployment move —
    * never rewrite a layout in place while readers hold its file list).
    *
    * Small files are the silent 100 TB killer: a streaming sink or a
    * 1000-task job writing a 128 MB-row-group format in 200 KB pieces
    * turns every later scan into metadata chatter (one footer read +
    * seek per file, open-file caps on the NameNode/object store). One
    * shuffle, sized by actual BYTES (from the filesystem, not a row
    * guess), restores scan-sized files. Returns the target file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    requireDistinctPaths(spark, inPath, outPath)
    val p = new Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
    Tables.parquet(spark, inPath)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Partition-preserving compaction for a `col=value` layout: shuffle
    * on the partition column so each partition's rows land in one task
    * → ONE data file per partition directory (bounded above by
    * `maxRecordsPerFile` when a partition is hot, so a skewed day still
    * splits rather than producing one monster file). The layout contract
    * (pruning via PartitionFilters) is unchanged — only the file count
    * inside each directory drops. */
  def compactPartitioned(spark: SparkSession, inPath: String,
                         outPath: String, partitionCol: String,
                         maxRecordsPerFile: Long = 5000000L): Unit = {
    requireDistinctPaths(spark, inPath, outPath)
    Tables.parquet(spark, inPath)
      .repartition(col(partitionCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(outPath)
  }

  /** Write a frame as a GLOBALLY ordered parquet layout without a global
    * sort: `repartitionByRange(orderCol)` range-partitions rows (sampled
    * split points, one shuffle), `sortWithinPartitions` orders each part
    * locally, and zero-padded part file numbering makes lexicographic
    * file order = global row order. This is the scale consumer of
    * [[graft.operators.CorpusOps.epochOrder]]'s `pos`: a trainer reads
    * part files in name order and sees the exact epoch ordering, yet no
    * single task ever held more than one range (the `orderBy` in the
    * query itself is only the harness's deterministic-output contract).
    * `nFiles` sizes the ranges (a 100 TB epoch wants thousands). */
  def writeOrdered(df: DataFrame, path: String, orderCol: String,
                   nFiles: Int = 32): Unit =
    df.repartitionByRange(nFiles, col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode("overwrite").parquet(path)

  /** MERGE (SCD-1 upsert) an updates frame into an existing partitioned
    * parquet layout by key, rewriting ONLY the partitions the updates
    * touch — the incremental-corpus-maintenance primitive (a new drop
    * revises some documents of some sources; the other 99% of the layout
    * is untouched bytes).
    *
    * TABLE-FORMAT NOTE (round 18, adjudicated in SURVEY §5): this is
    * exactly the operation a lakehouse table format gives for free —
    * `MERGE INTO` with snapshot isolation on Iceberg/Delta subsumes the
    * staged-temp-path + partition-rename protocol below. The offline
    * classpath carries no connector jar, so the estate ships the parquet
    * protocol; on a cluster with the connector, swap this call for MERGE
    * INTO and keep the partitioning semantics unchanged (the sink faces
    * here use only the standard DataFrameWriter surface both connectors
    * implement).
    *
    * Semantics: within every partition value present in `updates`, rows
    * whose `keyCol` appears in `updates` are REPLACED, other rows are
    * kept, new keys are appended. Partitions absent from `updates` are
    * neither read nor written; the layout's file index still lists every
    * partition directory.
    *
    * One evaluation of `updates`: it is persisted (MEMORY_AND_DISK) for
    * the call and unpersisted afterwards, unless the caller already had
    * it cached, in which case that cache is used and left alone. One
    * collected aggregate over it yields both the duplicate-key verdict
    * and the touched partition values; the same evaluation then feeds
    * the key anti-join and the landed rows. A non-deterministic batch
    * therefore cannot land a row in a partition the merge did not read.
    *
    * Two-phase by construction: the merged touched-partition rows are
    * written once, to a SIBLING staging directory; then each staged
    * `col=value` directory replaces the layout's directory of that name
    * (delete, then rename — the commit Spark's dynamic partition
    * overwrite runs) and the staging directory is removed. Never
    * read-and-overwrite the same files in one job — the lazy scan's file
    * list would be deleted mid-job by its own write (the
    * [[requireDistinctPaths]] hazard, here made structurally impossible
    * instead of just guarded). A failed rename throws `IOException`.
    *
    * Scale: cost ∝ touched partitions' bytes, not the corpus. The
    * touched values prune the layout read statically (a literal,
    * null-safe partition filter); the replace is a broadcast key
    * anti-join inside those partitions only. Returns the number of
    * partition values rewritten.
    *
    * The layout is read with the partition column typed as in `updates`,
    * not inferred from the directory names, so a string value that looks
    * numeric (`007`) is merged into its own directory, not into `7`.
    *
    * Caller contract: `updates` carries ONE row per key (this is a
    * MERGE, not an append — two update rows for the same key would both
    * land). Enforced: duplicate keys in `updates` fail before any write.
    *
    * Caller contract 2: keys are PARTITION-STABLE — an update must carry
    * the key's existing partition value. A key that MOVES partitions
    * (old partition untouched by this batch) would leave its stale row
    * alive there: detecting that case requires reading every untouched
    * partition, exactly the cost this primitive exists to avoid, so it
    * cannot be an always-on check. Moves BETWEEN touched partitions are
    * handled correctly (the key anti-join spans all touched partitions).
    * `auditKeyMoves = true` opts into the full-layout audit: the write
    * fails if any update key still exists outside the touched set —
    * run it on low-traffic batches or after schema/partitioning changes,
    * at the documented price of one key-column scan of the layout. */
  def upsertPartitioned(spark: SparkSession, updates: DataFrame, path: String,
                        partitionCol: String, keyCol: String,
                        maxRecordsPerFile: Long = 5000000L,
                        auditKeyMoves: Boolean = false): Long = {
    val staging = path.stripSuffix("/") + ".upsert-staging"
    requireDistinctPaths(spark, path, staging)
    val callerCached = updates.storageLevel != StorageLevel.NONE
    if (!callerCached) updates.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // per touched partition: the most rows any one key has there, and
      // that key (a key's rows are counted in its smallest partition)
      val perPartition = updates
        .groupBy(col(keyCol).as("upsert_key"))
        .agg(count(lit(1)).as("upsert_rows"), min(col(partitionCol)).as("upsert_part"))
        .groupBy("upsert_part")
        .agg(max("upsert_rows"), max_by(col("upsert_key"), col("upsert_rows")))
        .collect()
      val dup = perPartition.find(_.getLong(1) > 1)
      require(dup.isEmpty,
        s"upsert: updates carry duplicate $keyCol ${dup.map(_.get(2)).orNull} " +
          "— a merge takes one row per key")
      val touchedValues = perPartition.map(_.get(0))
      val part = col(partitionCol)
      val nullTouched = if (touchedValues.contains(null)) part.isNull else lit(false)
      val touched = coalesce(part.isin(touchedValues.filter(_ != null).toIndexedSeq: _*) ||
        nullTouched, lit(false))
      val keys = broadcast(updates.select(keyCol))
      val partitionSchema =
        Some(StructType(Seq(updates.schema(partitionCol).copy(nullable = true))))
      def layout = Tables.parquet(spark, path, partitionSchema)
      if (auditKeyMoves) {
        // opt-in full-layout check (reads key+partition columns only):
        // an update key alive OUTSIDE the touched partitions is a moved
        // key whose stale row this merge would strand
        val stale = layout.filter(!touched)
          .join(keys, Seq(keyCol), "left_semi")
          .select(col(keyCol), part)
          .limit(1).collect()
        require(stale.isEmpty,
          s"upsert: key ${stale.headOption.map(_.get(0))} moved partitions — " +
            s"its stale row lives in untouched $partitionCol=" +
            s"${stale.headOption.map(_.get(1))}; include that partition's " +
            "rows in the update batch or delete the old row first")
      }
      val existing = layout.filter(touched)
      existing.join(keys, Seq(keyCol), "left_anti")
        .unionByName(updates.select(existing.columns.map(col).toIndexedSeq: _*))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partitionCol).parquet(staging)
      val nTouched = commitStaged(spark, staging, path, partitionCol)
      spark.catalog.refreshByPath(path)
      nTouched
    } finally if (!callerCached) updates.unpersist()
  }

  /** Move each staged `<escaped col>=value` directory into `path` in
    * place of the directory of that name, as Spark's dynamic partition
    * overwrite commits (`HadoopMapReduceCommitProtocol.commitJob`), then
    * delete the staging directory. Returns the number of directories
    * moved. */
  private def commitStaged(spark: SparkSession, staging: String, path: String,
                           partitionCol: String): Long = {
    val sp = new Path(staging)
    val root = new Path(path)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirPrefix = ExternalCatalogUtils.escapePathName(partitionCol) + "="
    val staged = fs.listStatus(sp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(dirPrefix))
    for (s <- staged) {
      val dest = new Path(root, s.getPath.getName)
      fs.delete(dest, true) // false when dest is a new partition
      if (!fs.rename(s.getPath, dest))
        throw new IOException(s"upsert: failed to rename ${s.getPath} to $dest")
    }
    fs.delete(sp, true)
    staged.length.toLong
  }

  /** Both compactors read `inPath` LAZILY while overwriting `outPath`;
    * called with the same (canonicalized) path they would clobber their
    * own input mid-scan. Enforce the write-to-new-then-swap contract. */
  private def requireDistinctPaths(spark: SparkSession, inPath: String,
                                   outPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new Path(inPath)
    val out = new Path(outPath)
    val inQ = in.getFileSystem(conf).makeQualified(in)
    val outQ = out.getFileSystem(conf).makeQualified(out)
    require(inQ != outQ,
      s"compact: outPath must differ from inPath ($inQ) — " +
        "write to a new location, then swap")
  }
}
