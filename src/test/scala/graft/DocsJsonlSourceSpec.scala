package graft

import java.nio.file.Files

import graft.sources.DocsJsonlSource

/** Corrupt-tolerant JSONL ingest: quarantine routing (SURVEY §2-C). */
class DocsJsonlSourceSpec extends SparkSpec {

  test("split routes syntax breakage AND schema drift to quarantine, keeps clean rows") {
    val dir = SparkSpec.tempDir("graft_jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "good one", "lang": "en", "source": "s0", "n_chars": 8}""",
      """{"doc_id": 2, "text": "good two", "lang": "fr", "source": "s1", "n_chars": 8}""",
      """{"doc_id": 3, "text": "truncated""", // syntax breakage
      """{"text": "no key here", "lang": "en", "source": "s0", "n_chars": 11}""" // drift
    )
    Files.write(dir.resolve("drop.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val (clean, bad) = DocsJsonlSource.split(
      DocsJsonlSource.read(spark, dir.toString))
    val cleanRows = clean.collect()
    assert(cleanRows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    assert(clean.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    val badRows = bad.collect()
    assert(badRows.length == 2, badRows.mkString("; "))
    // the raw-line ledger carries enough to re-scrape: the broken line
    // verbatim, the drifted line as its parsed-back JSON
    assert(badRows.exists(_.getAs[String]("raw").contains("truncated")))
    assert(badRows.exists(_.getAs[String]("raw").contains("no key here")))
    assert(badRows.forall(_.getAs[String]("input_file").endsWith("drop.jsonl")))
  }
}
