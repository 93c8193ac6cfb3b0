package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table contract (see /root/repo/TESTDATA.md).
  *
  * One parquet file-or-directory per table under a scale-factor dir. At
  * cluster scale the same contract holds with partitioned directories —
  * `spark.read.parquet` handles both, and Catalyst prunes partitions/columns
  * from the declarative plan, so nothing here changes at 100 TB.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Generic accessor — routes `events` through its typed reader (the raw
    * parquet stores INT64 TIMESTAMP(NANOS), which the default reader
    * rejects; see [[events]]), everything else reads directly. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else raw(spark, dir, name)

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread a SMALL scan across the cluster before per-row-heavy work —
    * the guide-§2.5 input-skew fix (round 20). A scan whose split count
    * is below the session's default parallelism (one tiny file, a
    * single parquet row group, a small incremental delta) runs its
    * whole fused map stage on ONE task while every other core idles;
    * measured at sf0.1 the per-row-heavy queries spent 85-95% of their
    * wall time in that single-task stage (every test table is a
    * one-row-group file). Hash-repartitioning by the frame's unique key
    * spreads the downstream work over every core.
    *
    * Scale-honest by construction: a 100 TB scan has orders of
    * magnitude more splits than cores, so the condition is false and
    * the frame passes through UNTOUCHED — no added exchange in the
    * big-data plan. When it does fire, the shuffle carries only the
    * columns the caller has already projected (call it AFTER the narrow
    * select), and the key is a real unique column — hash partitioning
    * is deterministic under task retry, unlike round-robin
    * `repartition(n)` over a non-deterministic source (SPARK-38388),
    * and pays no sort-before-repartition. */
  def spread(df: DataFrame, key: String = "doc_id"): DataFrame = {
    // streaming frames have no static split count (and micro-batch
    // parallelism is the source's business) — pass through untouched.
    // SPARK_GRAFT_NO_SPREAD is the measurement kill-switch: one binary
    // serves both sides of an A/B (and dumps the unspread plan).
    if (df.isStreaming || sys.env.contains("SPARK_GRAFT_NO_SPREAD")) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanSplitCount(df).exists(_ < target))
      df.repartition(target, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** Estimated split count of the frame's file scan, WITHOUT planning the
    * query (round 21, ADVICE r20). The previous gate probed
    * `df.rdd.getNumPartitions`, which physically plans the query a second
    * time just to decide a no-op — and, because AQE is on by default, it
    * eagerly RUNS shuffle stages whenever the wrapped plan already holds
    * an exchange. This walks the ANALYZED plan only (no optimizer, no
    * physical planning, no jobs) and replays Spark's own
    * `FilePartition.maxSplitBytes` + bin-packing arithmetic over the
    * FileIndex's (driver-cached) listing.
    *
    * Returns None — spread then passes through untouched — unless the
    * plan is a narrow chain (Project/Filter/alias) over file scans: the
    * documented spread contract is "wrap raw scan projections", and a
    * frame that already carries a repartition/aggregate/join upstream
    * either is already spread or parallelizes itself at the exchange. */
  private[graft] def scanSplitCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.internal.SQLConf
    val session = df.sparkSession
    var fileSizes = List.empty[Long]
    var scans = 0
    var narrow = true
    def walk(p: LogicalPlan): Unit = p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          scans += 1
          fileSizes = fs.location.listFiles(Nil, Nil)
            .flatMap(_.files.map(_.getLen)).toList ::: fileSizes
        case _ => narrow = false
      }
      case _: Project | _: Filter | _: SubqueryAlias =>
        p.children.foreach(walk)
      case _ => narrow = false
    }
    walk(df.queryExecution.analyzed)
    if (!narrow || scans == 0) return None
    // FilePartition.maxSplitBytes: min(maxPartitionBytes,
    //   max(openCostInBytes, (totalBytes incl. open costs) / minPartitionNum)),
    // minPartitionNum = spark.sql.files.minPartitionNum, else
    // spark.sql.leafNodeDefaultParallelism, else defaultParallelism
    val conf = session.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val maxPB = conf.filesMaxPartitionBytes
    val minPartitionNum = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(session.sparkContext.defaultParallelism))
    val totalBytes = fileSizes.map(_ + openCost).sum
    val maxSplit =
      math.min(maxPB, math.max(openCost, totalBytes / minPartitionNum))
    // split each file, then bin-pack descending — FilePartition's exact
    // close-when-over rule (parquet is splitable; all spread sources are)
    val splits = fileSizes.flatMap { len =>
      (0L until len by math.max(1L, maxSplit))
        .map(off => math.min(maxSplit, len - off))
    }.sortBy(-_)
    var partitions = 0L
    var currentSize = 0L
    splits.foreach { len =>
      if (currentSize + len > maxSplit && currentSize > 0) {
        partitions += 1
        currentSize = 0L
      }
      currentSize += len + openCost
    }
    if (currentSize > 0) partitions += 1
    Some(partitions)
  }

  /** Persist a fact table bucketed (and sorted) by its join key.
    *
    * Two tables bucketed by the same key into the same bucket count join
    * with NO Exchange (and no Sort if sortBy matches) — at 100 TB this is
    * the difference between re-shuffling the fact table per query and
    * paying the shuffle once at ingest. See `BucketedJoinSpec` for the
    * asserted plan. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 32, moreKeys: Seq[String] = Nil): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .saveAsTable(table)

  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  /** `events.parquet` stores `ts` as naive micros (TIMESTAMP_NTZ) in the
    * current testdata layout; earlier layouts used INT64 TIMESTAMP(NANOS)
    * (which Spark's vectorized reader rejects) or UTC-adjusted
    * TIMESTAMP(MICROS). Normalize all three to TIMESTAMP_NTZ — the exact
    * type DuckDB's naive TIMESTAMP has, so oracle values match without any
    * session-timezone dependence. The current layout passes through
    * UNTOUCHED: `ts` stays the stored column, so time-range predicates on
    * it push down to the parquet scan (row-group/page skipping). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = raw(spark, dir, "events")
    df.schema("ts").dataType match {
      case TimestampNTZType => df
      case LongType =>
        // nanos-as-long: truncate ns→us with exact integer division (DIV,
        // not `/` — nanos-since-2024 ≈ 1.7e18 exceeds double's 53-bit
        // mantissa), then rebuild the naive timestamp with pure integer
        // arithmetic (timezone never enters).
        df.withColumn("ts", expr(
          "timestampadd(MICROSECOND, ts DIV 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
      case TimestampType =>
        // UTC-adjusted micros: unix_micros extracts the instant's epoch
        // micros (timezone-independent), timestampadd rebuilds NTZ.
        df.withColumn("ts", expr(
          "timestampadd(MICROSECOND, unix_micros(ts), TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
      case other =>
        throw new IllegalStateException(s"events.ts: unexpected type $other")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
