package graft

/** Constructing a query's DataFrame runs no Spark job, except for the
  * keys below, whose operators run jobs while they build: iterative
  * loops, checkpoints, and driver-side collects of a fitted model or a
  * small statistic. Each is pinned to its exact build-job count at
  * sf0.001, so a change that adds a job to construction fails here, and
  * one that removes jobs shrinks the list. */
class ConstructionSpec extends SparkSpec {

  private val buildJobs: Map[String, Int] = Map(
    "q_ann_ivf_q8" -> 1, "q_audio_dedup_representative" -> 8, "q_bm25" -> 1,
    "q_bm25_multi" -> 3, "q_bpe_encode" -> 63, "q_bpe_train" -> 63,
    "q_classifier_filter" -> 2, "q_classifier_score" -> 2,
    "q_classifier_train" -> 2, "q_contamination_video" -> 5,
    "q_cooccurrence" -> 2, "q_crawl_schedule" -> 1, "q_curate_full" -> 1,
    "q_dedup_clusters" -> 5, "q_dedup_embedding_clusters" -> 8,
    "q_dedup_embedding_representative" -> 12, "q_dedup_minhash_wide" -> 1,
    "q_dedup_ngram" -> 3, "q_dedup_representative" -> 5,
    "q_dedup_simhash_pairs" -> 1, "q_dup_inflation" -> 5,
    "q_epub_text" -> 1, "q_extract_clean" -> 1, "q_feeds" -> 2,
    "q_frontier" -> 1, "q_hreflang" -> 7, "q_image_dataset" -> 3,
    "q_image_dedup_representative" -> 8, "q_kmeans" -> 12,
    "q_knn_graph_rp" -> 1, "q_media_dataset" -> 3, "q_pagerank" -> 36,
    "q_pagination" -> 2, "q_pdf_text" -> 1, "q_pipeline" -> 3, "q_pq" -> 6,
    "q_pq_search" -> 6, "q_recrawl" -> 2, "q_redirects" -> 1,
    "q_robots_filter" -> 1, "q_robots_parse" -> 1, "q_sitemap" -> 2,
    "q_source_divergence" -> 2, "q_source_overlap" -> 2,
    "q_split_divergence" -> 3, "q_tfidf" -> 1, "q_video_dataset" -> 3,
    "q_video_dedup_representative" -> 12)

  test("building a query's DataFrame runs no job outside the allowlist") {
    assert(buildJobs.keySet.subsetOf(SparkEntry.queries.keySet),
      buildJobs.keySet -- SparkEntry.queries.keySet)
    val wrong = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (key, q) =>
      val (_, jobs) = SparkSpec.jobsDuring(q(spark, sfDir))
      val expected = buildJobs.getOrElse(key, 0)
      if (jobs == expected) None else Some(s"$key: $jobs build jobs, expected $expected")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
