package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}

import graft.sources.{Sinks, Tables}

/** `Tables.parquet`, the one parquet read site: the schema it takes from
  * one footer equals the schema Spark infers, and building the frame
  * starts no Spark job. */
class ParquetReaderSpec extends SparkSpec {

  test("parquet reads appear in src/main only in Tables") {
    val reads = """read\.parquet\(|\.read\.schema\(.*\)\.parquet\("""
    val reader = Paths.get("src/main/scala/graft/sources/Tables.scala")
    val sources = SourceScan.files("src/main")
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    assert(Files.exists(reader) && SourceScan.sites(Seq(reader), reads).nonEmpty)
    val elsewhere = SourceScan.sites(sources.filterNot(_.endsWith(reader)), reads)
    assert(elsewhere.isEmpty, elsewhere.mkString("\n"))
  }

  test("every test table: footer schema equals inference, and no job") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); name <- Tables.names) {
      val path = s"${Paths.get(sfDir).resolveSibling(sf)}/$name.parquet"
      val (df, jobs) = SparkSpec.jobsDuring(Tables.parquet(spark, path))
      assert(jobs == 0, s"$sf/$name: $jobs jobs")
      assert(df.schema == spark.read.parquet(path).schema, s"$sf/$name")
    }
  }

  test("day-partitioned layout: day is the last column, typed date, no job") {
    val out = SparkSpec.tempDir("graft_reader_day").toFile.getAbsolutePath
    val events = Tables.events(spark, sfDir)
    Sinks.writePartitionedByDay(events, out)
    val (df, jobs) = SparkSpec.jobsDuring(Tables.parquet(spark, out))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(out).schema)
    assert(df.schema.last.name == "day" && df.schema.last.dataType == DateType)
    assert(df.count() == events.count())
  }

  test("_SUCCESS, .crc and other hidden files are skipped") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_reader_hidden")
    val out = dir.resolve("t").toFile.getAbsolutePath
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(out)
    val names = new java.io.File(out).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    // junk that sorts before every data file; opening it as parquet throws
    Files.write(Paths.get(out, "_aaa"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(out, ".aaa"), Array[Byte](1, 2, 3))
    val (df, jobs) = SparkSpec.jobsDuring(Tables.parquet(spark, out))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(out).schema)
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("mergeSchema = true falls back to inference and merges every file") {
    import spark.implicits._
    val out = SparkSpec.tempDir("graft_reader_merge").toFile.getAbsolutePath
    Seq((1L, 1.0)).toDF("id", "x").write.parquet(s"$out/k=1")
    Seq((2L, "y")).toDF("id", "y").write.parquet(s"$out/k=2")
    // one footer: the first file's columns only, as inference reads it
    val (single, noJobs) = SparkSpec.jobsDuring(Tables.parquet(spark, out))
    assert(noJobs == 0)
    assert(single.schema == spark.read.parquet(out).schema)
    assert(single.columns.toSeq == Seq("id", "x", "k"))
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val (merged, jobs) = SparkSpec.jobsDuring(Tables.parquet(spark, out))
      assert(jobs >= 1)
      assert(merged.columns.toSeq == Seq("id", "x", "y", "k"))
      assert(merged.filter(col("k") === 2).select("y").as[String].collect()
        .toSeq == Seq("y"))
      // a given partition type still wins over the merged inference
      val typed = Tables.parquet(spark, out,
        Some(StructType(Seq(StructField("k", StringType)))))
      assert(typed.schema ==
        StructType(merged.schema.fields.init :+ StructField("k", StringType)))
    } finally spark.conf.unset(key)
  }

  test("a missing path fails as spark.read.parquet does") {
    val missing = SparkSpec.tempDir("graft_reader_missing")
      .resolve("absent").toFile.getAbsolutePath
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.parquet(spark, missing)
    }
    assert(e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("does not exist"), e.getMessage)
  }
}
