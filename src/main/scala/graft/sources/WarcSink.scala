package graft.sources

import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WET-style WARC WRITER — the other half of the crawl loop's container
  * story: [[WarcSource]] reads a crawl's raw records, this emits the
  * extracted-text corpus back OUT in the same container (the Common
  * Crawl WET layout: `conversion` records, one gzip MEMBER per record,
  * concatenated into per-partition `.warc.gz` segment files) so any
  * WARC-consuming tool — including [[WarcSource]] itself — can read the
  * pipeline's output.
  *
  * Scale shape mirrors the reader: one output file PER PARTITION
  * (repartition upstream to size segments), each task streams its rows
  * straight into its gzip members — per-task memory is one record, no
  * collect, no driver involvement. Files appear atomically: tasks write
  * a dot-prefixed in-progress name (which [[WarcSource.read]]'s listing
  * skips) and rename on completion, so a killed task never leaves a
  * half-readable segment visible.
  *
  * Determinism discipline: record ids are md5(url) URNs and WARC-Date
  * comes from the `fetch_date` COLUMN (falling back to the epoch when
  * absent) — nothing derives from wall clock or randomness, so a re-run
  * writes byte-identical members. */
object WarcSink {

  /** Write `(url, text[, fetch_date])` rows as WET conversion records
    * under `dir`, one `part-NNNNN.warc.gz` per non-empty partition —
    * each with a `part-NNNNN.cdx` SIDECAR (round 19, the Common Crawl
    * companion-file practice): one tab-separated line per record —
    * url, date, COMPRESSED member offset, member length, record id —
    * captured for free off the output stream's position as each gzip
    * member closes, so a consumer can range-fetch any record with
    * [[WarcSource.readAtMember]] without ever scanning the segment
    * ([[readCdxSidecars]] is the frame face; the sidecar is what
    * [[WarcSource.cdxIndex]] would recompute by reading the segment —
    * writer-side, it costs nothing). Re-runs write byte-identical
    * sidecars (same determinism contract as the members). */
  def writeWet(docs: DataFrame, dir: String): Unit =
    writeSegments(docs.select(col("url"), col("text").as("body"),
      docs.columns.filter(_ == "fetch_date").map(col)
        .headOption.getOrElse(lit(null)).as("fetch_date")),
      dir, warcType = "conversion", contentType = "text/plain")

  /** WAT-style metadata sink (round 20) — the third artifact of the
    * Common Crawl trio (WARC/WAT/WET): per-capture METADATA as WARC
    * `metadata` records with JSON bodies, so the extraction frames the
    * estate already computes (linksOf / metaOf / jsonLdOf — composed by
    * the caller into one JSON column, e.g. `to_json(struct(...))`) ship
    * in the container every WARC-consuming tool reads. Input:
    * `(url, metadata_json[, fetch_date])`. Same machinery, same
    * contracts as [[writeWet]]: one gzip member per record, atomic
    * per-partition segments, byte-identical re-runs, CDX sidecars.
    * (Parquet frames remain the estate's PRIMARY metadata surface —
    * columnar, pushdown-friendly; the WAT face exists for
    * interoperability with WARC-native consumers.) */
  def writeWat(meta: DataFrame, dir: String): Unit =
    writeSegments(meta.select(col("url"), col("metadata_json").as("body"),
      meta.columns.filter(_ == "fetch_date").map(col)
        .headOption.getOrElse(lit(null)).as("fetch_date")),
      dir, warcType = "metadata", contentType = "application/json")

  private def writeSegments(rows: DataFrame, dir: String,
                            warcType: String, contentType: String): Unit = {
    val spark = rows.sparkSession
    val confBc = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sparkContext.hadoopConfiguration))
    rows
      .select(col("url").cast("string"), col("body").cast("string"),
        coalesce(col("fetch_date").cast("string"),
          lit("1970-01-01T00:00:00Z")).as("fetch_date"))
      // shuffle REDUCE-side row order is fetch-order nondeterministic —
      // a task-local sort (no exchange) pins each member's position so
      // the byte-identical re-run contract actually holds
      .sortWithinPartitions("url")
      .rdd.foreachPartition { it =>
        if (it.hasNext) {
          val part = TaskContext.getPartitionId()
          // attempt-keyed temp name: a speculative or retried attempt must
          // never interleave bytes with a zombie first attempt's stream
          // (the FileOutputCommitter convention) — rename on commit is the
          // only cross-attempt rendezvous
          val attempt = Option(TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val finalPath = new Path(dir, f"part-$part%05d.warc.gz")
          val tmpPath = new Path(dir,
            f".part-$part%05d-attempt-$attempt.warc.gz.inprogress")
          val cdxFinal = new Path(dir, f"part-$part%05d.cdx")
          val cdxTmp = new Path(dir,
            f".part-$part%05d-attempt-$attempt.cdx.inprogress")
          val fs = finalPath.getFileSystem(confBc.value.value)
          val out = fs.create(tmpPath, true)
          val cdxOut = fs.create(cdxTmp, true)
          try {
            // close-shield: gz.close() per record releases the member's
            // native Deflater immediately (finish() alone leaves it to the
            // GC Cleaner — millions of records per partition would exhaust
            // off-heap memory) without closing the partition stream
            val shield = new java.io.FilterOutputStream(out) {
              override def write(b: Array[Byte], off: Int, len: Int): Unit =
                this.out.write(b, off, len)
              override def close(): Unit = flush()
            }
            val md = java.security.MessageDigest.getInstance("MD5")
            it.foreach { r =>
              // CR/LF inside a header VALUE would let one hostile url
              // forge record framing, and a TAB would corrupt the
              // tab-separated CDX sidecar line (readCdxSidecars' field
              // count would silently drop the record) — strip all three
              // before either artifact is built, so the sidecar url and
              // the WARC header url stay equal (RFC 3986 forbids raw
              // whitespace in a URI anyway)
              val url = r.getString(0).replaceAll("[\\r\\n\\t]", "")
              val text = Option(r.getString(1)).getOrElse("")
              val when = r.getString(2).replaceAll("[\\r\\n\\t]", "")
              val payload = text.getBytes("UTF-8")
              md.reset()
              val id = md.digest(url.getBytes("UTF-8"))
                .map(b => f"$b%02x").mkString
              val hdr = ("WARC/1.0\r\n" +
                s"WARC-Type: $warcType\r\n" +
                s"WARC-Record-ID: <urn:md5:$id>\r\n" +
                s"WARC-Target-URI: $url\r\n" +
                s"WARC-Date: $when\r\n" +
                s"Content-Type: $contentType\r\n" +
                s"Content-Length: ${payload.length}\r\n\r\n")
                .getBytes("UTF-8") // non-ASCII URIs survive (ASCII superset;
                                   // WarcSource's readLine re-decodes UTF-8)
              // one gzip member per record (the CC layout WarcSource's
              // member-aware walk decompresses end-to-end)
              val memberStart = out.getPos
              val gz = new GZIPOutputStream(shield, 64 << 10)
              gz.write(hdr)
              gz.write(payload)
              gz.write("\r\n\r\n".getBytes("US-ASCII"))
              gz.close() // finish the member AND end() its Deflater
              // the sidecar line: compressed coordinates off the stream
              // position (gz.close flushed the member through the shield)
              cdxOut.write((url + "\t" + when + "\t" + memberStart + "\t" +
                (out.getPos - memberStart) + "\t<urn:md5:" + id + ">\n")
                .getBytes("UTF-8"))
            }
          } finally {
            // each stream closes in its own finally: an out.close()
            // throw (e.g. an HDFS flush failure) must not leak the
            // sidecar handle for the task attempt
            try out.close() finally cdxOut.close()
          }
          // rename never overwrites on Hadoop filesystems — drop a
          // previous run's segment first (re-runs are byte-identical
          // anyway, see the determinism contract)
          if (fs.exists(finalPath)) fs.delete(finalPath, false)
          if (!fs.rename(tmpPath, finalPath))
            throw new java.io.IOException(s"rename failed: $finalPath")
          if (fs.exists(cdxFinal)) fs.delete(cdxFinal, false)
          if (!fs.rename(cdxTmp, cdxFinal))
            throw new java.io.IOException(s"rename failed: $cdxFinal")
        }
      }
  }

  /** The CDX sidecars under `dir` as a frame: (file, canon-ready url,
    * warc_date, member_offset, member_length, record_id) — `file` is
    * the sibling `.warc.gz` path, so a row feeds
    * [[WarcSource.readAtMember]] directly. One text scan, no WARC
    * bytes touched. */
  def readCdxSidecars(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    val lines = spark.read.text(new Path(dir, "*.cdx").toString)
    lines
      .select(regexp_replace(input_file_name(), "\\.cdx$", ".warc.gz")
        .as("file"),
        split(col("value"), "\t").as("f"))
      .filter(size(col("f")) === 5)
      .select(col("file"),
        col("f").getItem(0).as("url"),
        // the same sort key cdxIndex derives (round 20) — surt over the
        // CANONICAL url (cdxIndex keys surt on canonIdn(target_uri); a
        // raw-url surt would split an IDN domain across two prefix
        // ranges and break the contiguity the key exists for) — so a
        // sidecar frame persisted by surt serves domain range queries
        // without ever re-reading the WARC bytes
        graft.operators.UrlOps.surt(
          graft.operators.UrlOps.canonIdn(col("f").getItem(0))).as("surt"),
        col("f").getItem(1).as("warc_date"),
        col("f").getItem(2).cast("long").as("member_offset"),
        col("f").getItem(3).cast("long").as("member_length"),
        col("f").getItem(4).as("record_id"))
  }
}
