package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** No main code without a caller. Every non-`override` `def` in
  * `src/main` is referenced elsewhere in `src/main` or `perfbench/src`,
  * or it is on [[SourceScanSpec.SpecOnly]] next to the SURVEY §2 row it
  * implements. The scan matches BY NAME, not by symbol: a def counts as
  * called when any identifier in those trees shares its name, so an
  * uncalled overload of a called name passes. */
class SourceScanSpec extends AnyFunSuite {
  import SourceScanSpec._

  test("every def in src/main has a caller there or in perfbench, or is on the allowlist") {
    val uncalled =
      SourceScan.defsWithoutCaller(Seq("src/main"), Seq("perfbench/src"))
    val unlisted = uncalled.keySet -- SpecOnly.keySet
    assert(unlisted.isEmpty,
      "defs with no caller outside the specs; call them from main code, " +
        "delete them, or list them with their SURVEY §2 row: " +
        unlisted.toSeq.sorted.map(n => s"$n (${uncalled(n)})").mkString(", "))
    val stale = SpecOnly.keySet -- uncalled.keySet
    assert(stale.isEmpty, "allowlisted defs that are gone or now have a " +
      s"main caller: ${stale.toSeq.sorted}")
  }

  test("every allowlist entry names a SURVEY §2 row") {
    val survey = Files.readString(Paths.get("SURVEY.md"))
    val section2 = survey.substring(survey.indexOf("\n## §2 "),
      survey.indexOf("\n## §3 "))
    // a row's key cell is its first cell holding a backticked name: the
    // query key in the numbered tables, the component in §2-C
    val rows = section2.linesIterator.filter(_.startsWith("| ")).flatMap { row =>
      row.split('|').find(_.contains('`')).toSeq
        .flatMap("`([^`]+)`".r.findAllMatchIn(_).map(_.group(1)))
    }.toSet
    val missing = SpecOnly.filter { case (_, row) => !rows(row) }
    assert(missing.isEmpty, s"allowlist rows not in SURVEY §2: $missing")
  }

  test("stripComments keeps literals whole and drops nested block comments") {
    val src = "val u = \"http://x\" // gone\nval c = '\"' /* a /* b */ c */ + '/'\n"
    assert(SourceScan.stripComments(src) ==
      "val u = \"http://x\" \nval c = '\"'   + '/'\n")
    assert(SourceScan.stripComments("a /* x\ny */ b") == "a \n  b")
  }
}

object SourceScanSpec {

  /** The defs in `src/main` that only specs call, each with the SURVEY
    * §2 row (query key or §2-C component) it implements. */
  val SpecOnly: Map[String, String] = Map(
    // graft.operators.AnnOps
    "pqCodebook" -> "graft.operators.AnnOps.pqSearch",
    "pqSearchIndex" -> "graft.operators.AnnOps.pqSearch",
    "pqSearchIvf" -> "graft.operators.AnnOps.pqSearchIvf",
    "pqIvfIndex" -> "graft.operators.AnnOps.pqIvfIndex",
    "pqSearchIvfIndex" -> "graft.operators.AnnOps.pqIvfIndex",
    // graft.operators.AviOps
    "videoFrames" -> "graft.operators.Multimodal.decodeBatches",
    "videoDedupStream" -> "graft.operators.AviOps.videoDhashIncremental",
    // graft.operators.CrawlOps
    "rulesOf" -> "q_robots_parse",
    "sitemapUrlOf" -> "q_robots_parse",
    "crawlDelayOf" -> "q_robots_parse",
    "robotsStatusOf" -> "q_robots_filter",
    "sniffedTypesOf" -> "q_mime_sniff",
    "feedSeedsOf" -> "q_feeds",
    "crawlScheduleOf" -> "graft.operators.CrawlOps.frontierOf",
    "sitemapSeedsOf" -> "graft.operators.CrawlOps.sitemapSeedsOf",
    "recrawlOf" -> "graft.operators.CrawlOps.recrawlOf",
    "etagChanged" -> "graft.operators.CrawlOps.etagSignalsFrom",
    "frontierBudgeted" -> "graft.operators.CrawlOps.frontierBudgeted",
    "frontierBudgetedBy" -> "graft.operators.CrawlOps.crawlTrapsBy",
    "crawlScheduleDamped" -> "graft.operators.CrawlOps.crawlScheduleDamped",
    "frontierStream" -> "graft.operators.CrawlOps.frontierStream",
    "scheduleStream" -> "graft.operators.CrawlOps.scheduleStream",
    "recrawlStream" -> "graft.operators.CrawlOps.recrawlStream",
    // graft.operators.HtmlOps
    "revisitsOf" -> "graft.operators.HtmlOps.revisitsOf",
    "revisitChurn" -> "graft.operators.HtmlOps.revisitsOf",
    "linksOf" -> "graft.operators.HtmlOps.linksOf",
    "anchorStateMerge" -> "graft.operators.HtmlOps.anchorState",
    "anchorTextOf" -> "q_anchor_text",
    "metaOf" -> "q_meta_og",
    "watOf" -> "graft.sources.WarcSink.writeWet",
    "robotsDirectivesOf" -> "q_noindex",
    "paginationCyclesOf" -> "q_pagination",
    "jsonLdOf" -> "q_jsonld",
    "imagePairsStream" -> "graft.operators.HtmlOps.imagePairsStream",
    "imageDatasetOf" -> "graft.operators.HtmlOps.imageDatasetOf",
    // graft.operators.{Mp3Ops, Mp4Ops, MultimodalOps, StatsOps, TextOps}
    "mp3MetaOfRecords" -> "q_mp3_meta",
    "mp4MetaOfRecords" -> "q_mp4_meta",
    "mp4MetaOfWithInit" -> "graft.operators.Mp4Ops.mp4MetaOfWithInit",
    "decodeBatches" -> "graft.operators.Multimodal.decodeBatches",
    "imageDhashPairs" -> "graft.operators.MultimodalOps.imageDhash",
    "imageDedupStream" -> "graft.operators.MultimodalOps.imageDhash",
    "audioDedupStream" -> "q_audio_dedup_representative",
    "userMoments" -> "graft.streaming.EventStream.anomalyStream",
    "hashEmbedDense" -> "graft.operators.TextOps.hashEmbedDense",
    // graft.operators.StatsBombOps: the source paper's readers and binners
    "readProfile" -> "graft.operators.StatsBombOps",
    "withMatchMeta" -> "graft.operators.StatsBombOps",
    "progressiveReceptions" -> "graft.operators.StatsBombOps",
    "pressuresAfterLoss" -> "graft.operators.StatsBombOps",
    "teamTotalXg" -> "graft.operators.StatsBombOps",
    "minutesPlayed" -> "graft.operators.StatsBombOps",
    "lineupPositions" -> "graft.operators.StatsBombOps",
    "positionFrequency" -> "graft.operators.StatsBombOps",
    "scatterPpVsPc" -> "graft.operators.StatsBombOps",
    "heatmapBins" -> "graft.operators.StatsBombOps",
    // graft.sources
    "writePartitionedBy" -> "q_ann_ivf",
    "compactPartitioned" -> "graft.sources.Sinks.compact",
    "writeOrdered" -> "graft.sources.Sinks.writeOrdered",
    "writeBucketed" -> "graft.sources.Sinks",
    "writeWet" -> "graft.sources.WarcSink.writeWet",
    "writeWat" -> "graft.sources.WarcSink.writeWet",
    "readCdxSidecars" -> "graft.sources.WarcSink.writeWet",
    "parseFile" -> "graft.sources.WarcSource",
    "cdxIndex" -> "graft.sources.WarcSource.cdxIndex",
    "readAtMember" -> "graft.sources.WarcSource.cdxIndex",
    "readMembers" -> "graft.sources.WarcSource.cdxIndex",
    // graft.streaming.EventStream: the §2-C streaming faces
    "windowedCounts" -> "graft.streaming.EventStream.windowedCounts",
    "sessionWindowStream" -> "graft.streaming.EventStream.sessionWindowStream",
    "anomalyStream" -> "graft.streaming.EventStream.anomalyStream",
    "profileStream" -> "graft.streaming.EventStream.profileStream",
    "dedupIncrementalStream" -> "graft.streaming.EventStream.dedupIncrementalStream",
    "dedupEmbeddingIncrementalStream" ->
      "graft.streaming.EventStream.dedupEmbeddingIncrementalStream",
    "curateStream" -> "graft.streaming.EventStream.curateStream",
    "contaminationBloomStream" -> "graft.streaming.EventStream.contaminationBloomStream",
    "annSearchStream" -> "graft.streaming.EventStream.annSearchStream",
    "warcToCorpusStream" -> "graft.streaming.EventStream.warcToCorpusStream",
    "mediaInventoryStream" -> "graft.operators.MediaOps.mediaInventoryOf",
    "streamStreamUnmatched" -> "graft.streaming.EventStream.streamStreamUnmatched",
    "classifyStream" -> "graft.streaming.EventStream.classifyStream",
    "enrichStream" -> "graft.streaming.EventStream.enrichStream",
    "tokenizeStream" -> "graft.streaming.EventStream.tokenizeStream",
    "writePartitionedStream" -> "graft.streaming.EventStream.writePartitionedStream",
  )
}
