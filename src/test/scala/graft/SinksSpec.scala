package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{EventOps, StatsOps}
import graft.sources.{Sinks, Tables}

/** Write-side layout + approximate-aggregate scale paths. */
class SinksSpec extends SparkSpec {

  test("day-partitioned layout prunes partitions on read") {
    val out = SparkSpec.tempDir("graft_part").toFile.getAbsolutePath
    val events = Tables.events(spark, sfDir)
    Sinks.writePartitionedByDay(events, out)
    val back = Tables.parquet(spark, out)
    assert(back.count() == events.count())
    val pruned = back.filter(col("day") === "2024-01-05")
    val p = pruned.queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters"), p)
    assert(p.linesIterator.find(_.contains("PartitionFilters")).get
      .contains("day"), p)
    // partition column filter never becomes a data filter
    assert(pruned.count() ==
      events.filter(to_date(col("ts")) === "2024-01-05").count())
  }

  test("annIvf over the label-partitioned layout: probe scan is dynamically partition-pruned") {
    import graft.operators.AnnOps
    val out = SparkSpec.tempDir("graft_ivf").toFile.getAbsolutePath
    val embs = Tables.embeddings(spark, sfDir)
    Sinks.writePartitionedBy(embs, out, "label")
    val back = spark.read.parquet(out)
    val df = AnnOps.annIvf(back)
    val p = df.queryExecution.explainString(FormattedMode)
    // the candidate-fetch scan must carry a dynamicpruning subquery in
    // its PartitionFilters — the probed-list broadcast prunes label
    // directories BEFORE IO, so a query touches nProbe/nLists of the
    // data (SURVEY §2-60's scale claim, plan-asserted)
    val pruned = p.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(pruned.exists(_.toLowerCase.contains("dynamicpruning")),
      s"no dynamic partition pruning on the probe scan:\n$p")
    // identical results to the flat single-file layout
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(rows(df) == rows(AnnOps.annIvf(embs)))
  }

  test("pqSearchIvfIndex: persisted list-partitioned codes are dynamically pruned, search is bit-identical") {
    import graft.operators.AnnOps
    val dir = SparkSpec.tempDir("graft_ivfpq").toFile.getAbsolutePath
    val embs = Tables.embeddings(spark, sfDir)
    // build once, persist the three artifacts (codes list_id-partitioned)
    val (codes, codebook, centroids) = AnnOps.pqIvfIndex(embs)
    Sinks.writePartitionedBy(codes, s"$dir/codes", "list_id")
    codebook.write.parquet(s"$dir/codebook")
    centroids.write.parquet(s"$dir/centroids")
    // search reads ONLY the persisted artifacts + the query row
    val df = AnnOps.pqSearchIvfIndex(
      spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/centroids"),
      embs)
    // the probed-list broadcast must prune list_id= directories BEFORE
    // IO: the code scan's PartitionFilters carries a dynamicpruning
    // subquery (the annIvf proof extended to the PQ family)
    val p = df.queryExecution.explainString(FormattedMode)
    val pruned = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pruned.nonEmpty, s"no PartitionFilters on the code scan:\n$p")
    assert(pruned.exists(_.toLowerCase.contains("dynamicpruning")),
      s"no dynamic partition pruning on the code scan:\n$p")
    // bit-identical to the inline-fit pqSearchIvf on the same corpus
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(df) == rows(AnnOps.pqSearchIvf(embs)))
    // the persisted index genuinely landed as one directory per list
    val lists = new java.io.File(s"$dir/codes").listFiles
      .filter(_.getName.startsWith("list_id=")).map(_.getName).toSet
    assert(lists.size == 10, s"expected 10 list dirs, got $lists")
  }

  test("summaryApprox: single pass, no Expand, within HLL error of exact") {
    val events = Tables.events(spark, sfDir)
    val approx = EventOps.summaryApprox(events)
    val p = approx.queryExecution.explainString(FormattedMode)
    assert(!p.contains("Expand"), p) // exact countDistinct would Expand
    val row = approx.collect().head
    val exactUsers = events.select("user_id").distinct().count()
    val gotUsers = row.getAs[Long]("n_users_approx")
    assert(math.abs(gotUsers - exactUsers).toDouble / exactUsers < 0.1,
      s"approx $gotUsers vs exact $exactUsers")
  }

  test("compact: many small files become the byte-sized count, rows exact") {
    val events = Tables.events(spark, sfDir)
    val in = SparkSpec.tempDir("graft_compact_in")
      .toFile.getAbsolutePath
    val out = SparkSpec.tempDir("graft_compact_out")
      .toFile.getAbsolutePath
    // simulate a chatty writer: many tiny files
    events.repartition(64).write.mode("overwrite").parquet(in)
    def dataFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet"))
    assert(dataFiles(in).size == 64)
    val target = 256L * 1024
    val n = Sinks.compact(spark, in, out, targetFileBytes = target)
    val outFiles = dataFiles(out)
    assert(outFiles.size == n, s"${outFiles.size} files, planned $n")
    assert(outFiles.size < 64)
    // byte-sizing: planned count = ceil(inputBytes / target)
    val inBytes = dataFiles(in).map(_.length).sum
    assert(n == (inBytes + target - 1) / target)
    // no rows lost or duplicated
    val back = spark.read.parquet(out)
    assert(back.exceptAll(events).count() == 0)
    assert(events.exceptAll(back).count() == 0)
  }

  test("writeOrdered: epoch order survives as file order, with NO global sort") {
    import graft.operators.CorpusOps
    val docs = Tables.documents(spark, sfDir)
    val epoch = CorpusOps.epochOrder(docs)
    val out = SparkSpec.tempDir("graft_ordered")
      .toFile.getAbsolutePath
    Sinks.writeOrdered(epoch, out, "pos", nFiles = 8)
    // reading part files ONE AT A TIME in name order reproduces the
    // exact global ordering the query's own orderBy states
    val files = new java.io.File(out).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.size > 1, "want multiple ranges to make the claim real")
    val concatenated = files.flatMap(f =>
      spark.read.parquet(f.getAbsolutePath)
        .select("pos").collect().map(_.getLong(0)))
    assert(concatenated == concatenated.sorted, "file order != global order")
    assert(concatenated.size == docs.count())
    // the write plan range-partitions; it must NOT collapse to a global
    // single-partition sort (the thing writeOrdered exists to avoid)
    val p = epoch.repartitionByRange(8, col("pos"))
      .sortWithinPartitions("pos")
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("rangepartitioning(pos"), p)
    // every Sort on pos is LOCAL (global=false): the query's own
    // presentational orderBy is superseded by the range repartition, so
    // no stage ever holds the whole epoch in one task. (The plan's one
    // SinglePartition exchange is epochOrder's 1-row histogram agg.)
    val sortArgs = p.linesIterator
      .filter(l => l.contains("Arguments: [pos") && l.contains("ASC"))
      .toSeq
    assert(sortArgs.nonEmpty, p)
    sortArgs.foreach(l => assert(l.contains("], false, 0"), s"global sort: $l"))
  }

  test("compact refuses inPath == outPath (would clobber its own input)") {
    val dir = SparkSpec.tempDir("graft_compact_same")
      .toFile.getAbsolutePath
    spark.range(10).write.mode("overwrite").parquet(dir)
    // equal after canonicalization too: a trailing slash must not fool it
    intercept[IllegalArgumentException] { Sinks.compact(spark, dir, dir + "/") }
    intercept[IllegalArgumentException] {
      Sinks.compactPartitioned(spark, dir, dir, "id")
    }
    // input untouched by the refusal
    assert(spark.read.parquet(dir).count() == 10)
  }

  test("compactPartitioned: one file per day directory, layout preserved") {
    val events = Tables.events(spark, sfDir)
    val in = SparkSpec.tempDir("graft_cp_in")
      .toFile.getAbsolutePath
    val out = SparkSpec.tempDir("graft_cp_out")
      .toFile.getAbsolutePath
    // a fragmented day layout: several files inside each day directory
    Sinks.withDay(events.repartition(8)).write.mode("overwrite")
      .partitionBy("day").parquet(in)
    def dayDirs(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("day="))
    assert(dayDirs(in).exists(
      _.listFiles().count(_.getName.endsWith(".parquet")) > 1))
    Sinks.compactPartitioned(spark, in, out, "day")
    val outDays = dayDirs(out)
    assert(outDays.map(_.getName).sorted == dayDirs(in).map(_.getName).sorted)
    assert(outDays.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    val back = spark.read.parquet(out).drop("day")
    val orig = spark.read.parquet(in).drop("day")
    assert(back.exceptAll(orig).count() == 0)
    assert(orig.exceptAll(back).count() == 0)
  }

  test("upsertPartitioned rewrites only touched partitions and merges by key") {
    import spark.implicits._
    val path = SparkSpec.tempDir("graft_upsert")
      .toFile.getAbsolutePath
    val base = Seq[(Long, String, String)](
      (1L, "one", "s0"), (2L, "two", "s0"),
      (3L, "three", "s1"), (4L, "four", "s1"), (8L, "eight", null),
      (10L, "ten", null)
    ).toDF("doc_id", "text", "source")
    Sinks.writePartitionedBy(base, path, "source")
    def filesOf(part: String): Set[String] =
      new java.io.File(s"$path/source=$part").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val s1Before = filesOf("s1")
    // replace doc 1, add doc 5 in s0; replace doc 8 in the null
    // partition, where doc 10 must survive; add doc 9 in s2, new to the
    // layout; s1 untouched
    val updates = Seq[(Long, String, String)]((1L, "one-v2", "s0"), (5L, "five", "s0"),
      (8L, "eight-v2", null), (9L, "nine", "s2"))
      .toDF("doc_id", "text", "source").persist()
    val touched = Sinks.upsertPartitioned(spark, updates, path, "source", "doc_id")
    assert(touched == 3L)
    // the caller's cache is the caller's: still there afterwards
    assert(updates.storageLevel != StorageLevel.NONE)
    updates.unpersist()
    val after = spark.read.schema("doc_id LONG, text STRING, source STRING")
      .parquet(path).as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(after == Seq((1L, "one-v2", "s0"), (2L, "two", "s0"),
      (3L, "three", "s1"), (4L, "four", "s1"), (5L, "five", "s0"),
      (8L, "eight-v2", null), (9L, "nine", "s2"), (10L, "ten", null)))
    assert(new java.io.File(path).list().filter(_.startsWith("source=")).toSet ==
      Set("source=s0", "source=s1", "source=s2", "source=__HIVE_DEFAULT_PARTITION__"))
    // the commit left the untouched partition's FILES alone
    assert(filesOf("s1") == s1Before, "s1 must not be rewritten")
    // staging is cleaned up
    assert(!new java.io.File(path + ".upsert-staging").exists())
    // a merge takes one row per key: duplicate update keys fail loudly,
    // before any write, and the batch the call persisted is released
    val dupUpdates = Seq((7L, "seven", "s0"), (7L, "seven-again", "s0"))
      .toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertPartitioned(spark, dupUpdates, path, "source", "doc_id")
    }
    assert(e.getMessage.contains("duplicate doc_id 7"), e.getMessage)
    assert(dupUpdates.storageLevel == StorageLevel.NONE)
    assert(!new java.io.File(path + ".upsert-staging").exists())
  }

  test("upsertPartitioned evaluates a non-deterministic update batch once") {
    import spark.implicits._
    val path = SparkSpec.tempDir("graft_upsert_nd")
      .toFile.getAbsolutePath
    Sinks.writePartitionedBy(Seq(
      (1L, "one", "s0"), (2L, "two", "s0"), (3L, "three", "s1"), (4L, "four", "s1")
    ).toDF("doc_id", "text", "source"), path, "source")
    // s0 on the first call, s1 after: an upsert that evaluated the batch
    // twice could read one partition and land doc 5 in the other,
    // replacing that partition's rows with doc 5 alone
    SinksSpec.sourceCalls.set(0)
    val source = udf { () =>
      if (SinksSpec.sourceCalls.getAndIncrement() == 0) "s0" else "s1"
    }.asNondeterministic()
    // a scan, not a local relation, so the UDF runs in tasks whenever a
    // job evaluates the batch rather than once per optimizer pass
    val updates = spark.range(5, 6)
      .select(col("id").as("doc_id"), lit("five").as("text"), source().as("source"))
    val touched = Sinks.upsertPartitioned(spark, updates, path, "source", "doc_id")
    val docs = spark.read.parquet(path).select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs == Seq(1L, 2L, 3L, 4L, 5L))
    assert(touched == 1L)
    assert(SinksSpec.sourceCalls.get == 1)
    assert(updates.storageLevel == StorageLevel.NONE)
  }

  test("upsertPartitioned keeps string partition values that look numeric") {
    import spark.implicits._
    val path = SparkSpec.tempDir("graft_upsert_str")
      .toFile.getAbsolutePath
    Sinks.writePartitionedBy(Seq(
      (1L, "one", "007"), (2L, "two", "007"), (3L, "three", "010")
    ).toDF("doc_id", "text", "source"), path, "source")
    val updates = Seq((1L, "one-v2", "007"), (5L, "five", "007"))
      .toDF("doc_id", "text", "source")
    assert(Sinks.upsertPartitioned(spark, updates, path, "source", "doc_id") == 1L)
    assert(new java.io.File(path).list().filter(_.startsWith("source=")).toSet ==
      Set("source=007", "source=010"))
    val after = spark.read.schema("doc_id LONG, text STRING, source STRING")
      .parquet(path).as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(after == Seq((1L, "one-v2", "007"), (2L, "two", "007"),
      (3L, "three", "010"), (5L, "five", "007")))
  }

  test("upsertPartitioned counts the partitions of a column whose name is escaped") {
    import spark.implicits._
    val path = SparkSpec.tempDir("graft_upsert_esc")
      .toFile.getAbsolutePath
    Sinks.writePartitionedBy(Seq((1L, "a", "x"), (2L, "b", "y"))
      .toDF("doc_id", "text", "src:id"), path, "src:id")
    assert(new java.io.File(path).list().toSet.contains("src%3Aid=x"))
    val updates = Seq((1L, "a2", "x"), (3L, "c", "z"))
      .toDF("doc_id", "text", "src:id")
    assert(Sinks.upsertPartitioned(spark, updates, path, "src:id", "doc_id") == 2L)
  }

  test("upsertPartitioned auditKeyMoves catches a key moving partitions") {
    import spark.implicits._
    val path = SparkSpec.tempDir("graft_upsert_mv")
      .toFile.getAbsolutePath
    Sinks.writePartitionedBy(Seq(
      (1L, "one", "s0"), (3L, "three", "s1")
    ).toDF("doc_id", "text", "source"), path, "source")
    // doc 3 lives in s1; this update claims it for s0 (s1 untouched) —
    // the audited merge must refuse (the stale s1 row would survive)
    val moving = Seq((3L, "three-v2", "s0")).toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertPartitioned(spark, moving, path, "source", "doc_id",
        auditKeyMoves = true)
    }
    assert(e.getMessage.contains("moved partitions"), e.getMessage)
    // partition-stable updates pass the same audit
    val stable = Seq((1L, "one-v2", "s0")).toDF("doc_id", "text", "source")
    assert(Sinks.upsertPartitioned(spark, stable, path, "source", "doc_id",
      auditKeyMoves = true) == 1L)
    val after = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    assert(after == Map(1L -> "one-v2", 3L -> "three"))
  }

  test("percentileApprox quantiles are flat scalar columns, ordered") {
    val events = Tables.events(spark, sfDir)
    val df = StatsOps.percentileApprox(events)
    // flat cells only — no array/struct columns (driver compare + BI tools)
    assert(df.schema.fields.forall(f =>
      f.dataType.typeName != "array" && f.dataType.typeName != "struct"),
      df.schema.treeString)
    assert(df.columns.toSeq == Seq("p50", "p90", "p99", "n"))
    val r = df.collect().head
    val (p50, p90, p99) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(p50 <= p90 && p90 <= p99)
    assert(p50 > 0.0)
  }
}

object SinksSpec {
  /** Calls of the non-deterministic spec's UDF; specs run `local`, so
    * tasks and the driver share it. */
  val sourceCalls = new java.util.concurrent.atomic.AtomicInteger
}
