package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Semantic invariants for the LLM-data-pipeline operators (sf0.001). */
class PipelineOpsSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir)
  private def embs = Tables.embeddings(spark, sfDir)

  test("dedupSubstring finds a shared passage regardless of offset") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog near the river bank"
    val planted = Seq(
      (0L, s"alpha beta gamma delta $passage epsilon zeta"),
      (1L, s"unrelated opening phrase entirely distinct here $passage plus trailing tail"),
      (2L, "no shared runs in this body at all whatsoever for anybody today"),
      (3L, "another fully separate text corpus with its own tokens only")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.dedupSubstring(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 64-char passage sits at DIFFERENT offsets in 0 and 1 —
    // content-defined selection still pairs them
    assert(pairs.contains((0L, 1L)), s"got $pairs")
    assert(pairs.forall { case (a, b) => !Set(a, b).exists(Set(2L, 3L)) })
  }

  test("substringExcise cuts the shared passage from the LATER doc only") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog near the river bank"
    val prefix = "unrelated opening phrase entirely distinct here "
    val suffix = " plus trailing original tail with words of its own"
    val planted = Seq(
      (0L, s"alpha beta gamma delta $passage epsilon zeta"),
      (1L, prefix + passage + suffix),
      (2L, "no shared runs in this body at all whatsoever for anybody today"))
      .toDF("doc_id", "text")
    val acct = DedupOps.substringExcise(planted).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("cut_chars"),
        r.getAs[Long]("kept_chars"), r.getAs[Long]("n_spans")))).toMap
    // the OWNER (min doc_id) keeps everything; the clean doc too
    assert(acct(0L) == ((0L, planted.collect()(0).getString(1).length.toLong, 0L)),
      acct.toString)
    assert(acct(2L)._1 == 0L)
    // the later doc loses ONE contiguous span ≈ the shared run — the
    // passage PLUS its flanking spaces (both docs surround it with a
    // space, so the common run is len+2): winnowing selection can
    // shave up to W-1 = 7 gram positions per edge
    val common = passage.length + 2
    val (cut, kept, spans) = acct(1L)
    assert(spans == 1L, acct.toString)
    assert(cut >= common - 2 * (DedupOps.WinnowW - 1) && cut <= common,
      s"cut=$cut vs common run $common")
    assert(kept == (prefix + passage + suffix).length - cut)
    // the TEXT face: prefix/suffix survive, the passage core is gone,
    // and the kept length matches the accounting
    val texts = DedupOps.substringExciseText(planted).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("kept_text")).toMap
    assert(texts(0L) == planted.collect()(0).getString(1))
    val keptText = texts(1L)
    assert(keptText.startsWith(prefix.trim.take(20)))
    assert(keptText.endsWith(suffix.takeRight(20)))
    assert(!keptText.contains(passage.substring(8, passage.length - 8)),
      s"passage core must be excised: <$keptText>")
    assert(keptText.length.toLong == kept)
  }

  test("contaminationBloom never misses an exact hit; wider bitmap only narrows") {
    import spark.implicits._
    val exact = CorpusOps.contaminationNgram(docs)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val flagged4 = CorpusOps.contaminationBloom(docs)
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(flagged4), s"bloom missed: ${exact -- flagged4}")
    // hexChars=5 positions refine hexChars=4 prefixes, so the flag set is
    // monotone: anything flagged at 5 hex chars is flagged at 4
    val flagged5 = CorpusOps.contaminationBloom(docs,
      CorpusOps.Probes.toDF("probe"), hexChars = 5)
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(flagged5))
    assert(flagged5.subsetOf(flagged4))
  }

  test("bloom expressions: membership, forced false positives, geometry guard") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val items = (1 to 8).map(i => s"item $i").toDF("s")
    items.createOrReplaceTempView("bloom_items")
    // every inserted item is contained (no false negatives, any geometry)
    val fn = spark.sql(
      """SELECT count(*) AS n FROM bloom_items,
        |  (SELECT bloom_agg(s) AS b FROM bloom_items)
        |WHERE NOT bloom_contains(b, s)""".stripMargin)
      .collect().head.getLong(0)
    assert(fn == 0)
    // at hexChars=1 (16-bit bitmap) 8 items set most bits: false
    // positives are guaranteed and deterministic
    val probes = (1 to 50).map(i => s"absent $i").toDF("p")
    probes.createOrReplaceTempView("bloom_probes")
    val fp = spark.sql(
      """SELECT count(*) AS n FROM bloom_probes,
        |  (SELECT bloom_agg(s, 1) AS b FROM bloom_items)
        |WHERE bloom_contains(b, p, 1)""".stripMargin)
      .collect().head.getLong(0)
    assert(fp > 0, "16-bit bloom over 8 items must false-positive")
    // build/probe geometry mismatch is a hard error, not a wrong answer
    val err = intercept[Exception] {
      spark.sql(
        """SELECT bloom_contains(b, 'x', 5)
          |FROM (SELECT bloom_agg(s, 4) AS b FROM bloom_items)""".stripMargin)
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("dedupRepresentative agrees with a window-argmax over dedupClusters") {
    import org.apache.spark.sql.expressions.Window
    val clusters = DedupOps.dedupClusters(docs)
    val q = docs.select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("q"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("q").desc, col("doc_id").asc)
    val expected = clusters.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_members"),
        col("doc_id").as("rep_doc_id"), col("q").as("rep_quality"))
    val got = DedupOps.dedupRepresentative(docs)
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
    // the fixture corpus has real near-dup families, so the argmax is
    // exercised on multi-member clusters, not just singletons
    assert(got.filter(col("n_members") > 1).count() > 0)
    assert(got.count() == clusters.select("cluster_id").distinct().count())
  }

  test("dedupEmbeddingRepresentative picks the centroid-nearest member per rp cluster") {
    val clusters = DedupOps.dedupEmbeddingClusters(embs)
    val got = DedupOps.dedupEmbeddingRepresentative(embs)
    // one row per cluster; members cover the corpus (all vectors pass the
    // guard in the fixture), reps are members of their own cluster
    assert(got.count() == clusters.select("cluster_id").distinct().count())
    assert(got.agg(sum("n_members")).collect().head.getLong(0) == embs.count())
    val repCluster = got.select(col("rep_vec_id").as("vec_id"),
      col("cluster_id").as("rep_cl"))
    val misplaced = repCluster.join(clusters, "vec_id")
      .filter(col("rep_cl") =!= col("cluster_id")).count()
    assert(misplaced == 0)
    // exercised on real multi-member clusters, and the rep genuinely
    // minimizes the exact integer distance: recompute per-member dists
    // the slow way and compare the argmin
    assert(got.filter(col("n_members") > 1).count() > 0)
    val q6 = embs.select(col("vec_id"), expr(
      "transform(embedding, v -> cast(round(cast(v as double) * 1e6) as bigint))")
      .as("q6s"))
    val m = clusters.join(q6, "vec_id")
    val cent = m
      .select(col("cluster_id"), posexplode(col("q6s")).as(Seq("pos", "v")))
      .groupBy("cluster_id", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("cq", expr(
        "if(s >= 0, (2*s + n) div (2*n), -((2*(-s) + n) div (2*n)))"))
      .groupBy("cluster_id")
      .agg(expr("transform(sort_array(collect_list(struct(pos, cq))), x -> x.cq)")
        .as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      .orderBy(col("dist").asc, col("vec_id").asc)
    val expected = m.join(cent, "cluster_id")
      .select(col("cluster_id"), col("vec_id"), expr(
        "aggregate(zip_with(q6s, c, (a, b) -> (a - b) * (a - b)), " +
          "cast(0 as bigint), (acc, x) -> acc + x)").as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("vec_id").as("rep_vec_id"),
        col("dist").as("rep_dist"))
    val gotSlim = got.select("cluster_id", "rep_vec_id", "rep_dist")
    assert(gotSlim.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(gotSlim).count() == 0)
    // singletons represent themselves at distance zero
    val singletonBad = got.filter(col("n_members") === 1)
      .filter(col("rep_dist") =!= 0L || col("rep_vec_id") =!= col("cluster_id"))
    assert(singletonBad.count() == 0)
  }

  test("dedupExact: representatives cover all docs, n_copies sums to corpus") {
    val df = DedupOps.dedupExact(docs)
    assert(df.agg(sum("n_copies")).collect().head.getLong(0) == docs.count())
  }

  test("dedupMinhash: candidate pairs include the near-identical planted pairs") {
    val cands = DedupOps.dedupMinhash(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = DedupOps.dedupNgram(docs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH with 3 bands of 2 at j≈0.99 detects with prob ~1-1e-7
    assert(truth.subsetOf(cands), s"missing: ${truth -- cands}")
    assert(cands.forall { case (a, b) => a < b })
  }

  test("minhashPairs at production K=128/B=32 recalls planted Jaccard-0.8 pairs") {
    import spark.implicits._
    // deterministic token soup: each doc is 40 seven-char tokens; its twin
    // rewrites the last 5 tokens, putting char-8-gram Jaccard near 0.8
    // (the exact value is computed per pair below — the assertion is
    // against measured J, not the construction's intent)
    var seed = 7L
    def tok(): String = {
      val sb = new StringBuilder
      for (_ <- 0 until 7) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        sb.append(('a' + ((seed >>> 33) % 26).toInt).toChar)
      }
      sb.toString
    }
    val nPairs = 100
    val base = (0 until nPairs).map(i =>
      (i.toLong, (0 until 40).map(_ => tok()).mkString(" ")))
    val twins = base.map { case (i, t) =>
      val toks = t.split(" ")
      (i + 10000L, (toks.dropRight(5) ++ Seq.fill(5)(tok())).mkString(" "))
    }
    def shingles(t: String): Set[String] =
      (0 to t.length - 8).map(p => t.substring(p, p + 8)).toSet
    val planted = base.zip(twins).map { case ((i, a), (j, b)) =>
      val (sa, sb) = (shingles(a), shingles(b))
      (i, j, (sa & sb).size.toDouble / (sa | sb).size)
    }
    val moderate = planted.filter { case (_, _, jac) => jac >= 0.7 && jac <= 0.9 }
    assert(moderate.size >= nPairs * 4 / 5,
      s"construction drifted: only ${moderate.size} pairs landed in J [0.7, 0.9]")
    val docs = (base ++ twins).toDF("doc_id", "text")
    // wide config: P[detect | J=0.7] = 1-(1-0.7^4)^32 ≈ 0.99985
    val wide = DedupOps.minhashPairs(docs, k = 128, bands = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = moderate.count { case (i, j, _) => wide.contains((i, j)) }
    assert(recalled.toDouble / moderate.size >= 0.99,
      s"wide recall $recalled/${moderate.size}")
    // the narrow default (K=4, B=2: P[detect | J=0.8] ≈ 0.87) exists for
    // the ≈0.99-Jaccard planted-dup contract, NOT this threshold — it
    // should visibly miss here (P[all ${moderate.size} found] ≈ 1e-6)
    val narrow = DedupOps.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrowRecalled = moderate.count { case (i, j, _) => narrow.contains((i, j)) }
    assert(narrowRecalled < moderate.size,
      s"narrow config unexpectedly recalled all ${moderate.size} — spec can't discriminate")
  }

  test("dedupClusters and splitLeakage run the production (k, bands) pair graph") {
    import spark.implicits._
    // the two pair-graph CONSUMERS previously hard-wired the fixture
    // K=4/B=2; this pins that the wide production config threads all the
    // way through both of them. Same token-soup construction as the
    // minhashPairs wide test: 40-token docs, twins rewrite the last 5.
    var seed = 11L
    def tok(): String = {
      val sb = new StringBuilder
      for (_ <- 0 until 7) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        sb.append(('a' + ((seed >>> 33) % 26).toInt).toChar)
      }
      sb.toString
    }
    val nPairs = 60
    val base = (0 until nPairs).map(i =>
      (i.toLong, (0 until 40).map(_ => tok()).mkString(" ")))
    val twins = base.map { case (i, t) =>
      val toks = t.split(" ")
      (i + 10000L, (toks.dropRight(5) ++ Seq.fill(5)(tok())).mkString(" "))
    }
    val soup = (base ++ twins).toDF("doc_id", "text")
    val allIds = (base ++ twins).map(_._1)
    val wide = DedupOps.minhashPairs(soup, k = 128, bands = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.size >= nPairs * 9 / 10, s"fixture drifted: only ${wide.size} pairs")

    // expected clusters = test-side union-find over the SAME wide graph
    // (min id as representative, like the operator's min-label contract)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    wide.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectedClusters = allIds.map(id => id -> find(id)).toMap
    val got = DedupOps.dedupClusters(soup, k = 128, bands = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expectedClusters)

    // splitLeakage at the wide config audits EXACTLY the cross-split
    // slice of the same band-collision universe
    val splits = soup.select(col("doc_id"),
        CorpusOps.splitOf(col("doc_id")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expectedLeaks = wide.flatMap { case (a, b) =>
      (splits(a), splits(b)) match {
        case ("train", e) if e != "train" => Some((b, a))
        case (e, "train") if e != "train" => Some((a, b))
        case _ => None
      }
    }
    assert(expectedLeaks.nonEmpty, "fixture drifted: no cross-split planted pair")
    val leaks = CorpusOps.splitLeakage(soup, k = 128, bands = 32)
      .select("doc_eval", "doc_train")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(leaks == expectedLeaks)
  }

  /** `body` with `dir` as the context's checkpoint directory, so every
    * [[graft.Materialize]] inside it checkpoints reliably. The previous
    * directory (none) comes back in `finally`: every suite shares one
    * SparkContext. */
  private def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try body
    finally org.apache.spark.CheckpointDirBridge.set(sc, previous)
  }

  /** `body` (which must collect its results) under a fresh checkpoint
    * directory, asserting it was durable throughout: no stage named
    * `localCheckpoint at …` ran, no RDD was persisted (a local
    * checkpoint persists its blocks, lazily or not), and checkpoint
    * files landed in the directory. The directory is deleted after. */
  private def reliably[T](body: => T): T = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo.name)
    }
    org.apache.spark.GraftBridge.drainListeners(sc)
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      val result = withCheckpointDir(dir.toString)(body)
      org.apache.spark.GraftBridge.drainListeners(sc)
      val local = stages.asScala.filter(_.startsWith("localCheckpoint at"))
      assert(local.isEmpty, s"local checkpoint stages: $local")
      val persisted = sc.getPersistentRDDs.keySet -- persistedBefore
      assert(persisted.isEmpty, s"RDDs persisted in reliable mode: $persisted")
      val walk = java.nio.file.Files.walk(dir)
      val files = try walk.iterator.asScala
        .count(_.getFileName.toString.startsWith("part-"))
      finally walk.close()
      assert(files > 0, s"no checkpoint files under $dir")
      result
    } finally {
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("connectedComponents: reliable-checkpoint path matches the local path on both cluster queries") {
    // localCheckpoint blocks die with their executor — a multi-hour
    // 100 TB CC job needs the reliable path; results must be identical
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val localDocs = collect(DedupOps.dedupClusters(docs))
    assert(reliably(collect(DedupOps.dedupClusters(docs))) == localDocs)
    val localEmb = collect(DedupOps.dedupEmbeddingClusters(embs))
    assert(reliably(collect(DedupOps.dedupEmbeddingClusters(embs))) == localEmb)
    // these fixtures are small enough for the driver-side finish, so
    // the runs above never reach a distributed round: run the same
    // graphs again with the finish disabled
    def distributed(vertices: org.apache.spark.sql.DataFrame,
                    pairs: org.apache.spark.sql.DataFrame) =
      reliably(collect(DedupOps.ccWithRounds(vertices, pairs, maxIters = 50,
        localFinishEdges = 0)._1))
    assert(distributed(docs.select("doc_id"), DedupOps.minhashPairs(docs)) ==
      localDocs)
    assert(distributed(embs.select(col("vec_id").as("doc_id")),
      DedupOps.embeddingClusterPairs(embs, 0.4, graft.plans.RpLsh.Bands,
        graft.plans.RpLsh.BitsPerBand)) == localEmb)
  }

  test("kmeans/pq fits: reliable-checkpoint path matches the local path") {
    // per-round localCheckpoint blocks die with their executor, so a
    // multi-hour 100 TB training needs the reliable path; the
    // trajectory must be bit-identical through both
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(reliably(rows(AnnOps.kmeans(embs))) == rows(AnnOps.kmeans(embs)))
    assert(reliably(rows(AnnOps.pqEncode(embs))) == rows(AnnOps.pqEncode(embs)))
    assert(reliably(rows(AnnOps.pqSearchIvf(embs))) ==
      rows(AnnOps.pqSearchIvf(embs)))
  }

  test("BPE train, embedding representative, PageRank: reliable path matches the local path") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(reliably(rows(BpeOps.train(docs, merges = 8))) ==
      rows(BpeOps.train(docs, merges = 8)))
    assert(reliably(rows(DedupOps.dedupEmbeddingRepresentative(embs))) ==
      rows(DedupOps.dedupEmbeddingRepresentative(embs)))
    assert(reliably(rows(GraphOps.pagerank(docs))) ==
      rows(GraphOps.pagerank(docs)))
  }

  /** First-stage names (the action call sites) of every job a CC run
    * on a `n`-node chain schedules, plus the rounds it reports. AQE off
    * so every Dataset action is exactly one scheduler job (with AQE each
    * exchange materializes as its own stage-job and the accounting
    * measures shuffle count, not action count). Broadcast futures can
    * still fire their own 1-stage jobs on a fixture this small, which
    * is why callers key on stage NAMES, not raw job totals. */
  private def ccChainJobs(n: Long, localFinishEdges: Int)
      : (Seq[String], Int) = {
    import spark.implicits._
    val verts = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val group = s"cc-job-spec-$localFinishEdges"
    val jobStages =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
          group == js.properties.getProperty("spark.jobGroup.id"))
          jobStages.add(js.stageInfos.map(_.name).toSeq)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup(group, "cc job spec")
    val rounds = try {
      DedupOps.ccWithRounds(verts, pairs, maxIters = 50,
        localFinishEdges = localFinishEdges)._2
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    Thread.sleep(2000) // listener bus is async
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (jobStages.asScala.toSeq.map(_.headOption.getOrElse("")), rounds)
  }

  test("CC convergence count rides the checkpoint job (no per-round count job)") {
    // chain graph, distributed path pinned (finish disabled): several
    // pointer-jumping rounds, so a reintroduced per-round count() job
    // would show up multiplied by the round count
    val (actions, rounds) = ccChainJobs(32L, localFinishEdges = 0)
    val checkpoints = actions.count(_.toLowerCase.contains("checkpoint"))
    val counts = actions.count(_.startsWith("count at"))
    // 2 one-off materializations (exploded symmetric edges, initial
    // labels — round 21 fused the former pairs+edges pair of checkpoints
    // into one) + ONE checkpoint action per round, which carries the
    // observe() metrics the loop reads `changed` from — and NO count()
    // action anywhere: a reintroduced per-round convergence count would
    // show up as `rounds` "count at" jobs.
    assert(checkpoints == 2 + rounds,
      s"$checkpoints checkpoint actions for $rounds rounds (want ${2 + rounds}): $actions")
    assert(counts == 0,
      s"$counts count() jobs — the convergence count is a separate job again: $actions")
  }

  test("CC round-0 finish: one edge checkpoint, one collect, no rounds") {
    // the same chain under the default bound: the edge count rides the
    // edge checkpoint, the edges cross to the driver in one collect, and
    // the union-find replaces every round — exactly two jobs
    val (actions, rounds) = ccChainJobs(32L, DedupOps.LocalFinishEdges)
    assert(rounds == 0, s"$rounds distributed rounds ran: $actions")
    assert(actions.count(_.toLowerCase.contains("checkpoint")) == 1, actions)
    assert(actions.count(_.startsWith("collect at")) == 1, actions)
    assert(actions.size == 2, s"${actions.size} jobs: $actions")
  }

  test("CC: round-0 and all-distributed finishes give identical labels") {
    import spark.implicits._
    def labelsOf(verts: org.apache.spark.sql.DataFrame,
                 pairs: org.apache.spark.sql.DataFrame, bound: Int) = {
      val (df, rounds) = DedupOps.ccWithRounds(verts, pairs, maxIters = 50,
        localFinishEdges = bound)
      (df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, rounds)
    }
    def agree(verts: org.apache.spark.sql.DataFrame,
              pairs: org.apache.spark.sql.DataFrame,
              expected: Set[(Long, Long)]): Unit = {
      val (round0, r0) = labelsOf(verts, pairs, DedupOps.LocalFinishEdges)
      val (dist, rDist) = labelsOf(verts, pairs, 0)
      assert(dist == expected)
      assert(round0 == dist, s"round-0 finish: ${round0 -- dist} vs ${dist -- round0}")
      assert(r0 == 0 && rDist >= 1, s"round-0 $r0 rounds, distributed $rDist")
    }
    // the 33-node chain (diameter 32)
    agree((0L to 32L).toDF("doc_id"),
      (0L until 32L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
      (0L to 32L).map(_ -> 0L).toSet)
    // several components with non-minimal entry points (a reversed
    // chain, a star around a high id, a clique, one pair) plus isolated
    // vertices that appear in no pair
    val chain = (20L until 30L).map(i => (i + 1, i))
    val star = (41L to 47L).map(i => (50L, i))
    val clique = for (a <- 60L to 64L; b <- a + 1 to 64L) yield (b, a)
    val pairList = chain ++ star ++ clique :+ ((80L, 70L))
    val isolated = Seq(1L, 2L, 35L, 99L)
    val ids = (pairList.flatMap { case (a, b) => Seq(a, b) } ++ isolated).distinct
    val expected = ids.map { id =>
      id -> (if (id >= 20 && id <= 30) 20L
        else if (id >= 41 && id <= 50) 41L
        else if (id >= 60 && id <= 64) 60L
        else if (id == 70 || id == 80) 70L
        else id)
    }.toSet
    agree(ids.toDF("doc_id"), pairList.toDF("doc_a", "doc_b"), expected)
  }

  test("CC: non-integral ids skip the driver finish and keep the rounds") {
    import spark.implicits._
    // the driver finish round-trips ids through Long; string ids must
    // take the distributed rounds, under the default bound, and still
    // label every vertex with its component minimum
    val verts = Seq("a", "b", "c", "d", "e").toDF("doc_id")
    val pairs = Seq(("c", "b"), ("b", "a"), ("e", "d")).toDF("doc_a", "doc_b")
    val (labels, rounds) = DedupOps.ccWithRounds(verts, pairs, maxIters = 50)
    assert(rounds >= 1, "string ids reached the driver finish")
    assert(labels.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d"))
  }

  test("dedupIncremental: exactly the cross-set restriction of the full pair universe, via a broadcast probe") {
    val full = DedupOps.minhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val m = DedupOps.IncrementalDeltaMod
    // orient every full pair with exactly one delta-side doc as (new, corpus)
    val expected = full.flatMap { case (a, b) =>
      (a % m == 0, b % m == 0) match {
        case (true, false) => Some((a, b))
        case (false, true) => Some((b, a))
        case _             => None
      }
    }.toSet
    val inc = DedupOps.dedupIncremental(docs)
    val got = inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
    // the delta side is a broadcast probe of the corpus band index —
    // never a corpus reshuffle (no sort-merge join anywhere in the plan)
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // backfill path (broadcastDelta = false — a history re-ingest's delta
    // is NOT broadcastable): identical rows, hint actually dropped from
    // the logical plan (the PHYSICAL join is then the planner's choice —
    // at this fixture scale AQE may still auto-broadcast on measured
    // size, which is exactly the point of dropping the hint: size-based,
    // not hard-wired)
    val backfill = DedupOps.dedupIncremental(docs, broadcastDelta = false)
    assert(backfill.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == expected)
    assert(!backfill.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
    assert(inc.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
  }

  test("excise-then-curate: kept_text feeds the wide manifest (the row-143 composition)") {
    import spark.implicits._
    // a mostly-original doc quoting a big passage verbatim from an
    // earlier doc: whole-doc dropping loses it; excision keeps it
    val passage = "this exact shared passage is long enough to carry " +
      "several winnowing fingerprints across both documents entirely"
    val original = (1 to 6).map(i =>
      s"the big$i be cat$i to dog$i of owl$i and fox$i that hen$i " +
        s"have pig$i with ram$i").mkString(" ")
    val docs3 = Seq(
      (1L, "src0", s"$passage and a short original tail here"),
      (2L, "src0", s"$original $passage" + graft.operators.TextOps.C4Good))
      .toDF("doc_id", "source", "text")
    val excised = DedupOps.substringExciseText(docs3)
      .select(col("doc_id"), col("kept_text").as("text"))
      .join(docs3.select(col("doc_id"), col("source")), Seq("doc_id"))
    val keptText = excised.filter(col("doc_id") === 2L)
      .collect().head.getAs[String]("text")
    assert(!keptText.contains("shared passage"),
      s"the quoted run must be cut: $keptText")
    assert(keptText.contains("big1"), "the original prose survives")
    // the excised doc then flows through the manifest as any doc would
    // (the lm band wide open — two docs train a toy model)
    val kept = CorpusOps.curateFullOf(excised, lmBandP6 = (0L, 1000000L))
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(2L), s"excised doc 2 survives curation: $kept")
  }

  test("substringExciseIncremental: corpus-owned passages cut from the delta only") {
    import spark.implicits._
    val p1 = "this exact shared passage is long enough to carry several " +
      "winnowing fingerprints across both documents entirely"
    val p2 = "a different run of duplicated text that lives only inside " +
      "the arriving batch and never in the standing corpus"
    val planted = Seq(
      (1L, s"corpus original holding $p1 and some corpus-side tail"),
      (2L, "an unrelated corpus document with nothing shared at all here"),
      (10L, s"delta doc quoting $p1 plus its own fresh reporting text"),
      (20L, s"first delta twin containing $p2 and original words"),
      (30L, s"second delta twin also containing $p2 differently framed"))
      .toDF("doc_id", "text")
    val got = DedupOps.substringExciseIncremental(planted)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(4)))).toMap
    assert(got.keySet == Set(10L, 20L, 30L), s"delta docs only: $got")
    assert(got(10L)._1 > 0 && got(10L)._2 >= 1,
      s"the corpus-owned passage must cut: ${got(10L)}")
    // delta-delta duplication is the NEXT batch's intra-batch problem
    // (the batch face over the delta alone); the incremental face cuts
    // only what the standing corpus owns
    assert(got(20L)._1 == 0 && got(30L)._1 == 0, got.toString)
    // the TEXT face rebuilds the kept prose — the column a continuous
    // ingest feeds to curation in place of text
    val kept = DedupOps.substringExciseIncrementalText(planted)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!kept(10L).contains("shared passage") &&
      kept(10L).contains("fresh reporting"), kept(10L))
    assert(kept(20L).contains("lives only inside"), kept(20L))
  }

  test("dedupSubstringIncremental: the cross-set restriction of the passage pair universe") {
    val m = DedupOps.IncrementalDeltaMod
    // cap wide open on BOTH faces: the batch cap counts delta docs in a
    // posting list, the incremental cap counts corpus docs only — the
    // universes (and the per-pair shared-fingerprint counts) agree
    // exactly where the cap does not bind
    val full = DedupOps.dedupSubstring(docs, dfCap = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = full.flatMap { case (a, b, n) =>
      (a % m == 0, b % m == 0) match {
        case (true, false) => Some(((a, b), n))
        case (false, true) => Some(((b, a), n))
        case _             => None
      }
    }.toMap
    val inc = DedupOps.dedupSubstringIncremental(docs, dfCap = 100000)
    val got = inc.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == expected,
      s"extra=${got.keySet -- expected.keySet} missing=${expected.keySet -- got.keySet}")
    // delta probes the corpus fingerprint index map-side — never a
    // corpus reshuffle
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // backfill path: identical rows with the hint dropped
    val backfill = DedupOps.dedupSubstringIncremental(docs,
      dfCap = 100000, broadcastDelta = false)
    assert(backfill.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap == got)
    assert(!backfill.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
  }

  test("dedupEmbeddingIncremental: the cross-set restriction of the rp pair universe") {
    val m = DedupOps.IncrementalDeltaMod
    // full rp pairs are (a < b)-ordered; orient every pair with exactly
    // one delta-side vector as (new, corpus)
    val expected = DedupOps.dedupEmbeddingRp(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, cos) =>
        (a % m == 0, b % m == 0) match {
          case (true, false) => Some((a, b, cos))
          case (false, true) => Some((b, a, cos))
          case _             => None
        }
      }.toSet
    val inc = DedupOps.dedupEmbeddingIncremental(embs)
    val got = inc.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "fixture has no cross-set rp near-dup pair")
    assert(got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
    // delta side is a broadcast probe; backfill path drops the hint but
    // keeps the rows
    assert(inc.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
    val backfill = DedupOps.dedupEmbeddingIncremental(embs,
      broadcastDelta = false)
    assert(backfill.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == expected)
    assert(!backfill.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"))
  }

  test("dedupSimhash: one 16-bit fingerprint per doc") {
    val df = DedupOps.dedupSimhash(docs).cache()
    assert(df.count() == docs.count())
    assert(df.filter(col("simhash") < 0 || col("simhash") > 0xffffL).count() == 0)
  }

  test("dedupNgram: jaccard within (0,1], pairs ordered") {
    val rows = DedupOps.dedupNgram(docs).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0))
  }

  test("dedupNgram df-cap: planted near-dups survive, boilerplate candidates collapse") {
    import spark.implicits._
    // 100 docs share one boilerplate trigram (df=100 ≫ cap) but are
    // otherwise unique; docs 200/201 are a planted near-dup pair whose
    // shingles are all rare (df ≤ 2)
    val boiler = "all rights reserved"
    val corpus = (1L to 100L).map(i =>
      (i, s"$boiler unique$i content$i word$i more$i")) ++ Seq(
      (200L, "the planted duplicate document body stays identical across copies one"),
      (201L, "the planted duplicate document body stays identical across copies two"))
    val synth = corpus.toDF("doc_id", "text")
    // candidate volume = Σ C(|posting list|, 2): the boilerplate shingle
    // alone contributes C(100,2) = 4950 without the cap
    def candidates(cap: Int): Long =
      DedupOps.ngramIndex(synth, cap)
        .select((size(col("ds")).cast("long") *
          (size(col("ds")) - 1) / 2).cast("long").as("c"))
        .agg(sum(col("c"))).collect().head.getLong(0)
    val uncapped = candidates(0)
    val capped = candidates(DedupOps.NgramDfCap)
    assert(uncapped >= 4950, s"uncapped=$uncapped")
    assert(capped * 10 <= uncapped,
      s"df-cap barely prunes: capped=$capped uncapped=$uncapped")
    // the planted pair surfaces under the cap, and — its shingles all
    // being rare — with the SAME jaccard the uncapped universe gives it
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val got = pairs(DedupOps.dedupNgram(synth))
    val unc = pairs(DedupOps.dedupNgram(synth, dfCap = 0))
    assert(got.contains((200L, 201L)), s"planted pair lost: $got")
    assert(got((200L, 201L)) == unc((200L, 201L)))
    // no false pairs from the boilerplate group
    assert(got.keySet == Set((200L, 201L)), got.keySet)
  }

  test("dedupNgram df-cap boundary: a pair sharing ONLY df>cap shingles is undetectable by design") {
    import spark.implicits._
    // 40 exact clones of one template push every template trigram's df to
    // 42; docs 500/501 are the template plus distinct short tails — their
    // ONLY shared shingles are the template's, all above the cap
    val template = (1 to 60).map(i => s"tmpl$i").mkString(" ")
    val corpus = (1L to 40L).map(i => (i, template)) ++ Seq(
      (500L, s"$template gecko"),
      (501L, s"$template lynx"))
    val synth = corpus.toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the documented false-negative: capped at 32, the pair vanishes —
    // every shared shingle is boilerplate by the cap's own definition
    assert(!pairs(DedupOps.dedupNgram(synth)).contains((500L, 501L)))
    // it IS a real near-dup: the uncapped universe finds it…
    assert(pairs(DedupOps.dedupNgram(synth, dfCap = 0)).contains((500L, 501L)))
    // …and so does raising the cap above the clone count (the contract:
    // template-heavy corpora need the cap sized above legitimate
    // duplication, or a shingle-free complementary signal)
    assert(pairs(DedupOps.dedupNgram(synth, dfCap = 64)).contains((500L, 501L)))
    // SimHash is that complementary signal here: 1 token of 61 differs,
    // and a differing bit needs the template's 60-token ±1 bit-sum to be
    // exactly 0 — for THIS tail pair the fingerprints differ by 1 bit
    // (deterministic; tail words chosen so the distance is within the
    // pigeonhole threshold, since ~6 of 64 sums are zero in expectation)
    assert(pairs(DedupOps.dedupSimhashPairs(synth)).contains((500L, 501L)))
  }

  test("connectedComponents converges in O(log diameter) rounds on a chain") {
    import spark.implicits._
    // worst-case shape for plain label propagation: a 33-node chain
    // (diameter 32) — neighbor-min alone needs ~32 rounds; pointer
    // jumping must close it in ~log2(32)+c
    val diameter = 32
    val verts = (0L to diameter.toLong).toDF("doc_id")
    val pairs = (0L until diameter.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // the distributed path (finish disabled) — the one this bound is for
    val (labels, rounds) = DedupOps.ccWithRounds(verts, pairs, maxIters = 50,
      localFinishEdges = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == diameter + 1 && got.values.forall(_ == 0L), got)
    // log2(32) = 5 propagation-doubling rounds, +1 fixpoint probe, +2
    // slack for the off-by-one of combined hop+jump distance growth
    val bound = (math.log(diameter) / math.log(2)).ceil.toInt + 3
    assert(rounds <= bound, s"$rounds rounds > bound $bound — pointer jumping broken?")
  }

  test("dedupEmbedding: cos >= tau and only intra-label pairs") {
    val pairs = DedupOps.dedupEmbedding(embs, 0.3)
    val labels = embs.select("vec_id", "label")
    val joined = pairs
      .join(labels.withColumnRenamed("vec_id", "vec_a").withColumnRenamed("label", "la"), "vec_a")
      .join(labels.withColumnRenamed("vec_id", "vec_b").withColumnRenamed("label", "lb"), "vec_b")
    assert(joined.filter(col("la") =!= col("lb")).count() == 0)
  }

  test("dedupEmbeddingLsh: exact band-collision ∧ cosine contract, label-free") {
    // brute-force twin in plain Scala: same band keys, same sequential
    // double-fold cosine, same HALF_UP 6-dp rounding as Spark's round()
    val rows = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def keys(v: Array[Float]): Seq[Int] =
      DedupOps.embeddingBandDims.map(dims =>
        dims.zipWithIndex.map { case (d, i) => if (v(d) > 0f) 1 << i else 0 }.sum)
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val keyed = rows.map { case (id, v) => (id, keys(v), v) }
    val expected = (for {
      (a, ka, va) <- keyed; (b, kb, vb) <- keyed if a < b
      if ka.zip(kb).exists { case (x, y) => x == y }
      c = cos6(va, vb) if c >= 0.4
    } yield (a, b, c)).toSet
    val got = DedupOps.dedupEmbeddingLsh(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.nonEmpty)
  }

  test("dedupEmbeddingLsh: candidate volume is a small fraction of n(n-1)/2") {
    val n = embs.count()
    val allPairs = n * (n - 1) / 2
    val cands = DedupOps.embeddingLshCandidates(embs).count()
    // measured 5.7% on this corpus; assert an order-of-magnitude margin
    // under the unblocked quadratic
    assert(cands * 10 <= allPairs,
      s"candidates=$cands vs all pairs=$allPairs — banding isn't pruning")
    assert(cands > 0)
  }

  test("dedupEmbeddingLsh: planted near-dup pairs are recalled without labels") {
    import spark.implicits._
    // deterministic pseudo-random base vectors (LCG), each with a planted
    // near-twin: 90% base + 10% fresh noise, renormalized — cos ≈ 0.99;
    // NO label column anywhere
    var seed = 42L
    def nextF(): Float = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33).toInt % 1000) / 1000.0f
    }
    def vec(): Array[Float] = Array.fill(DedupOps.EmbDims)(nextF() - 0.5f)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val twins = base.map { case (i, v) =>
      val noise = vec()
      (i + 1000L, v.zip(noise).map { case (x, e) => 0.9f * x + 0.1f * e })
    }
    val synth = (base ++ twins).toDF("vec_id", "embedding")
    val found = DedupOps.dedupEmbeddingLsh(synth, tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = base.map { case (i, _) => (i, i + 1000L) }.toSet
    val missed = planted -- found
    assert(missed.isEmpty, s"planted near-twins missed: $missed")
  }

  test("dedupEmbeddingRp: exact band-collision ∧ cosine contract on real embeddings") {
    import graft.plans.RpLsh
    // brute-force twin in plain Scala: quantize, dot against the shared
    // coefficient table, pigeonhole on any equal band key, verify cosine
    val rows = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def q6(v: Float): Long = java.math.BigDecimal.valueOf(v.toDouble * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    def keys(v: Array[Float]): Seq[Int] = {
      val qv = v.map(q6)
      (0 until RpLsh.Bands).map { b =>
        (0 until RpLsh.BitsPerBand).map { i =>
          val c = RpLsh.planes(b * RpLsh.BitsPerBand + i)
          if (qv.indices.map(d => c(d) * qv(d)).sum > 0) 1 << i else 0
        }.sum
      }
    }
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val keyed = rows.map { case (id, v) => (id, keys(v), v) }
    val expected = (for {
      (a, ka, va) <- keyed; (b, kb, vb) <- keyed if a < b
      if ka.zip(kb).exists { case (x, y) => x == y }
      c = cos6(va, vb) if c >= 0.4
    } yield (a, b, c)).toSet
    val got = DedupOps.dedupEmbeddingRp(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.nonEmpty)
  }

  test("dedupEmbeddingRp: independent hyperplanes hold the formula recall floor; the tiled bands don't") {
    import spark.implicits._
    // planted pairs at EXACTLY cos 0.9: v = 0.9·u + √(1−0.81)·z with z a
    // unit vector Gram-Schmidt-orthogonalized against u — so the
    // independence prediction P = 1−(1−p⁸)¹⁶, p = 1−acos(0.9)/π ≈ 0.856,
    // applies per pair with no angle slack
    val rnd = new java.util.Random(7L)
    def unit(): Array[Double] = {
      val v = Array.fill(DedupOps.EmbDims)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val nPairs = 400
    val planted = (0 until nPairs).map { j =>
      val u = unit()
      val w = unit()
      val d = u.indices.map(i => u(i) * w(i)).sum
      val zRaw = u.indices.map(i => w(i) - d * u(i)).toArray
      val zn = math.sqrt(zRaw.map(x => x * x).sum)
      val v = u.indices.map(i => 0.9 * u(i) + math.sqrt(1 - 0.81) * zRaw(i) / zn)
      (2L * j, u.map(_.toFloat), 2L * j + 1, v.map(_.toFloat).toArray)
    }
    val df = planted.flatMap { case (ia, va, ib, vb) =>
      Seq((ia, va), (ib, vb)) }.toDF("vec_id", "embedding")
    def detected(cands: org.apache.spark.sql.DataFrame): Int = {
      val got = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      planted.count { case (ia, _, ib, _) => got.contains((ia, ib)) }
    }
    val rpRecall = detected(DedupOps.embeddingRpCandidates(df)).toDouble / nPairs
    val tiledRecall = detected(DedupOps.embeddingLshCandidates(df)).toDouble / nPairs
    val p = 1.0 - math.acos(0.9) / math.Pi
    val formula = 1.0 - math.pow(1.0 - math.pow(p, 8), 16)
    // the headline claim of §2-63: independent projections measure AT OR
    // ABOVE the formula on this fixture, the correlated tiling BELOW it —
    // the gap the VERDICT-4 hardening item asked to close
    assert(rpRecall >= formula,
      f"rp recall $rpRecall%.4f fell below the independence formula $formula%.4f")
    assert(tiledRecall < formula,
      f"tiled recall $tiledRecall%.4f not below the formula $formula%.4f — fixture no longer demonstrates the correlation penalty")
    assert(rpRecall > tiledRecall,
      f"rp $rpRecall%.4f vs tiled $tiledRecall%.4f")
  }

  test("rp band geometry is the corpus-size knob: wider bands collapse random collisions, recall holds") {
    import spark.implicits._
    // a corpus of mutually-random unit vectors (cos ≈ 0 pairwise): every
    // band collision is a FALSE candidate, so candidate volume isolates
    // the n²/2^(bits+1) collision law from true-pair structure…
    val rnd = new java.util.Random(11L)
    def unit(): Array[Float] = {
      val v = Array.fill(DedupOps.EmbDims)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val n = 1500
    val df = (0 until n).map(i => (i.toLong, unit())).toDF("vec_id", "embedding")
    val narrow = DedupOps.embeddingRpCandidates(df, bands = 16, bits = 8).count()
    val wide = DedupOps.embeddingRpCandidates(df, bands = 64, bits = 16).count()
    // 16 bands × 256 buckets vs 64 bands × 65536 buckets: expected false
    // candidates drop ~(65536/256)/(64/16) = 64×; require a loose 10×
    assert(wide * 10 <= narrow,
      s"wide-geometry candidates $wide not ≪ narrow $narrow")
    // …while planted cos-0.9 pairs keep a ≥99% recall floor at the wide
    // geometry: 1−(1−p¹⁶)⁶⁴ ≈ 0.996 under independence
    val planted = (0 until 200).map { j =>
      val u = unit().map(_.toDouble)
      val w = unit().map(_.toDouble)
      val d = u.indices.map(i => u(i) * w(i)).sum
      val zRaw = u.indices.map(i => w(i) - d * u(i)).toArray
      val zn = math.sqrt(zRaw.map(x => x * x).sum)
      val v = u.indices.map(i => 0.9 * u(i) + math.sqrt(1 - 0.81) * zRaw(i) / zn)
      (10000L + 2 * j, u.map(_.toFloat), 10001L + 2 * j,
        v.map(_.toFloat).toArray)
    }
    val pdf = planted.flatMap { case (ia, va, ib, vb) =>
      Seq((ia, va), (ib, vb)) }.toDF("vec_id", "embedding")
    val got = DedupOps.embeddingRpCandidates(pdf, bands = 64, bits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = planted.count { case (ia, _, ib, _) => got.contains((ia, ib)) }
    val p = 1.0 - math.acos(0.9) / math.Pi
    val formula = 1.0 - math.pow(1.0 - math.pow(p, 16), 64)
    assert(hit.toDouble / planted.size >= formula - 0.03,
      f"wide-geometry recall ${hit.toDouble / planted.size}%.3f below ${formula}%.3f - 3%%")
  }

  test("dedupEmbeddingClusters: transitive closure glues chains the pair threshold can't") {
    import spark.implicits._
    // 2-D subspace geometry: B at 0°, A at +50°, C at −50° — the adjacent
    // pairs sit at cos 50° ≈ 0.64 ≥ τ=0.4, but cos(A, C) = cos 100° < τ;
    // D points the other way (no edges at all)
    val c50 = math.cos(math.toRadians(50)).toFloat
    val s50 = math.sin(math.toRadians(50)).toFloat
    def v(x: Float, y: Float): Array[Float] =
      Array.fill(DedupOps.EmbDims)(0.0f).updated(0, x).updated(1, y)
    // vec 5 is the ZERO vector: cosine to anything is 0/0 = NaN, and
    // Spark (NaN-greatest) vs DuckDB (NULL) disagree on NaN >= τ — the
    // operators exclude zero norms from the pair universe by contract,
    // so it must emit NO pairs and come out a singleton cluster
    val synth = Seq(
      (1L, v(c50, s50)), (2L, v(1.0f, 0.0f)), (3L, v(c50, -s50)),
      (4L, v(-1.0f, 0.0f)), (5L, v(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = DedupOps.dedupEmbeddingLsh(synth).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) &&
      !pairs.contains((1L, 3L)), pairs)
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), pairs)
    val clusters = DedupOps.dedupEmbeddingClusters(synth).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L), clusters)
  }

  test("tokenBudgetSample: budget boundary, one-doc overshoot cap, per-source independence") {
    import spark.implicits._
    // source 'a': 10 docs × 4 tokens, budget 10 → keep while tokens-before
    // < 10 (before ∈ {0,4,8}): exactly 3 docs, a one-doc overshoot.
    // source 'b': 2 docs × 5 tokens → both fit, budget not exhausted.
    val docs = ((1L to 10L).map(i => (i, "a", "t1 t2 t3 t4")) ++
      Seq((21L, "b", "u1 u2 u3 u4 u5"), (22L, "b", "v1 v2 v3 v4 v5")))
      .toDF("doc_id", "source", "text")
    val got = CorpusOps.tokenBudgetSample(docs, budget = 10L).collect()
    val bySource = got.groupBy(_.getString(1))
    assert(bySource("a").length == 3, bySource.view.mapValues(_.length).toMap)
    assert(bySource("b").length == 2)
    // every kept doc STARTS inside the budget
    assert(got.forall(r => r.getLong(3) - r.getLong(2) < 10L))
    // exact boundary: tokens-before == budget is OUT (third 5-token doc
    // starts exactly at 10)
    val exact = Seq((31L, "c", "w1 w2 w3 w4 w5"), (32L, "c", "x1 x2 x3 x4 x5"),
      (33L, "c", "y1 y2 y3 y4 y5")).toDF("doc_id", "source", "text")
    assert(CorpusOps.tokenBudgetSample(exact, budget = 10L).count() == 2)
    // rerun-stable draw
    val again = CorpusOps.tokenBudgetSample(docs, budget = 10L).collect()
    assert(got.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("tokenBudgetSampleWeighted: per-source budgets bite independently, default covers the rest") {
    import spark.implicits._
    // 10 docs × 4 tokens per source; a→4 (1 doc), b→12 (3 docs),
    // c unmapped → default 8 (2 docs)
    val docs = (for (s <- Seq("a", "b", "c"); i <- 1 to 10) yield
      (s(0).toLong * 100 + i, s, "t1 t2 t3 t4")).toDF("doc_id", "source", "text")
    val got = CorpusOps.tokenBudgetSampleWeighted(docs,
      budgets = Map("a" -> 4L, "b" -> 12L), defaultBudget = 8L).collect()
    val by = got.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(by == Map("a" -> 1, "b" -> 3, "c" -> 2), by)
    // weights only move the cutoff — the hash draw ORDER is the uniform
    // sampler's, so a weighted mix is reproducible from the same shuffle
    val uniform = CorpusOps.tokenBudgetSample(docs, budget = 12L).collect()
      .filter(_.getString(1) == "b").map(_.getLong(0)).toSeq
    assert(got.filter(_.getString(1) == "b").map(_.getLong(0)).toSeq == uniform)
  }

  test("quantize: int8 range, widest component pins to ±127, reconstruction within half a step") {
    val q = AnnOps.quantize(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(q.nonEmpty)
    assert(q.forall { case (_, _, qv, _) => qv >= -127 && qv <= 127 })
    val orig = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    q.groupBy(_._1).foreach { case (id, rows) =>
      val v = orig(id)
      val scale6 = rows.head._4.toDouble
      // the widest component maps to exactly ±127…
      assert(rows.map(_._3.abs).max == 127, s"vec $id")
      // …and every component reconstructs within half a quantization
      // step (+ the 6-dp input rounding)
      rows.foreach { case (_, pos, qv, _) =>
        val recon = qv * scale6 / (127 * 1e6)
        val step = scale6 / (127 * 1e6)
        assert(math.abs(v(pos) - recon) <= step / 2 + 1e-6,
          s"vec $id pos $pos: ${v(pos)} vs $recon (step $step)")
      }
    }
    // zero shuffle: the plan has no Exchange except the presentation sort
    val plan = AnnOps.quantize(embs).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("annTopK: scores descend and exclude the query") {
    val rows = AnnOps.annTopK(embs).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getLong(0) != 0L))
    val scores = rows.map(_.getDouble(2))
    assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("annLsh results are a subset of brute-force ranking restricted to the bucket") {
    val lsh = AnnOps.annLsh(embs).collect()
    assert(lsh.forall(_.getLong(0) != 0L))
    // every LSH hit shares the query's bucket by construction
    val buckets = lsh.map(_.getAs[Int]("bucket")).toSet
    assert(buckets.size <= 1)
  }

  test("dedupSimhashPairs: pigeonhole blocking finds exactly the Hamming<=3 pairs") {
    val fps = DedupOps.simhashFingerprints(docs,
        bits = DedupOps.SimhashPairBits).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      (a, fa) <- fps.toSeq; (b, fb) <- fps.toSeq if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    val got = DedupOps.dedupSimhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("64-bit/16-bit-piece blocking is far sparser than the 32-bit/8-bit scheme") {
    // candidate volume = block-join pairs BEFORE the Hamming verify — the
    // quantity that scales ~n²/2^pieceBits; widening the pieces from 8 to
    // 16 bits should collapse it (random-fingerprint expectation: 256×;
    // a real shared-vocab corpus clusters, so assert a conservative 8×)
    def candidates(bits: Int): Long =
      DedupOps.simhashBlockCandidates(
        DedupOps.simhashFingerprints(docs, bits), pieceBits = bits / 4).count()
    val c32 = candidates(32)
    val c64 = candidates(64)
    assert(c64 * 8 <= c32, s"64-bit candidates=$c64 vs 32-bit=$c32")
  }

  test("centroid: exact decimal sums agree with float averaging, full shape") {
    val c = AnnOps.centroid(embs).collect()
    val dims = embs.select(size(col("embedding"))).head().getInt(0)
    val labels = embs.select("label").distinct().count()
    assert(c.length == labels * dims)
    // n is the label's row count for every dim
    val counts = embs.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    c.foreach { r =>
      assert(r.getAs[Long]("n") == counts(r.getAs[Int]("label")))
    }
    // mean from exact sums ≈ naive float avg (within float-summation slack)
    val avg0 = embs.filter(col("label") === 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .filter(col("pos") === 0).agg(avg(col("v"))).head().getDouble(0)
    val got = c.find(r => r.getAs[Int]("label") == 0 && r.getAs[Int]("pos") == 0)
      .get.getAs[Double]("mean_val")
    assert(math.abs(got - avg0) < 1e-5, s"$got vs $avg0")
  }

  test("annIvf: hits come from probed lists and overlap brute-force top-k") {
    val ivf = AnnOps.annIvf(embs, k = 5, nProbe = 10) // all lists probed
    val brute = AnnOps.annTopK(embs, k = 5)
    // with every list probed, IVF must equal brute force exactly
    assert(ivf.collect().map(_.getLong(0)).toSeq ==
      brute.limit(5).collect().map(_.getLong(0)).toSeq)
    val narrow = AnnOps.annIvf(embs, k = 5, nProbe = 2).collect()
    assert(narrow.nonEmpty && narrow.forall(_.getLong(0) != 0L))
  }

  test("annIvfQ8 searches the persisted int8 index and recalls the float top-k") {
    // the index is genuinely int8 at rest: tinyint components, persisted
    // WITHOUT the float column, searched from the parquet round-trip
    val dir = java.nio.file.Files.createTempDirectory("graft_q8_idx").toString
    AnnOps.quantizedVectors(embs).write.mode("overwrite").parquet(dir)
    val idx = spark.read.parquet(dir)
    assert(idx.schema("qvs").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.ByteType)
    assert(!idx.columns.contains("embedding"))
    // quantization error ≤ scale/2 per component barely moves cosine:
    // with all lists probed, the q8 ranking must recall the exact float
    // top-k almost perfectly — and the scores must agree to ~1e-2
    val k = 10
    val floatTop = AnnOps.annTopK(embs, k = k).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val q8Top = AnnOps.annIvfQ8(idx, k = k, nProbe = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val overlap = floatTop.keySet & q8Top.keySet
    assert(overlap.size >= k - 1,
      s"q8 recalled only ${overlap.size}/$k of the float top-$k")
    overlap.foreach { id =>
      assert(math.abs(floatTop(id) - q8Top(id)) < 0.02,
        s"vec $id: float ${floatTop(id)} vs q8 ${q8Top(id)}")
    }
    // narrow probe still returns k hits, never the query itself
    val narrow = AnnOps.annIvfQ8(idx, k = 5, nProbe = 2).collect()
    assert(narrow.length == 5 && narrow.forall(_.getLong(0) != 0L))
    // dequantization identity: qv/127*scale reconstructs each component
    // to within scale/2 (the quantize contract, via the packed layout)
    val row = idx.filter(col("vec_id") === 7L)
      .select("qvs", "scale6").head()
    val qvs = row.getSeq[Byte](0)
    val scale6 = row.getLong(1)
    val orig = embs.filter(col("vec_id") === 7L)
      .select("embedding").head().getSeq[Float](0)
    qvs.zip(orig).foreach { case (qv, v) =>
      val rec = qv.toDouble * scale6 / 127.0 / 1e6
      assert(math.abs(rec - v) <= scale6 / 127.0 / 1e6 / 2 + 1e-9,
        s"reconstruction off: $rec vs $v")
    }
  }

  test("annIvfQ8Multi: an indexed vector as external query reproduces annIvfQ8; batch answers all queries") {
    import spark.implicits._
    val index = AnnOps.quantizedVectors(embs)
    // query table = raw embeddings of two indexed vectors, re-quantized
    // through the serving path from floats
    val qrows = embs.filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("q_id"), col("embedding"))
    val multi = AnnOps.annIvfQ8Multi(index, qrows, k = 6, nProbe = 2)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1))).toMap
    assert(multi.keySet == Set(0L, 7L))
    for (qid <- Seq(0L, 7L)) {
      val rows = multi(qid)
      assert(rows.length == 6, s"q$qid returned ${rows.length} rows")
      // modulo the self row (recalled only when the query's OWN list is
      // among the probed ones — geometry-dependent), the ranking IS the
      // single-query search's: same probe set, same scores, same order
      val rest = rows.filter(_.getLong(2) != qid)
        .map(r => (r.getLong(2), r.getInt(3), r.getDouble(4))).toSeq
      val single = AnnOps.annIvfQ8(index, queryId = qid, k = 6)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(rest == single.take(rest.length), s"q$qid: $rest != $single")
      // any self row scores ~1 (ulp off exact 1.0: sqrt(ss)^2 != ss)
      rows.find(_.getLong(2) == qid)
        .foreach(r => assert(r.getDouble(4) > 0.999))
    }
  }

  test("kmeans: partitions the corpus, seeds self-assign at iters=0, Lloyd's improves") {
    val k = 10
    val a0 = AnnOps.kmeans(embs, k = k, iters = 0).cache()
    val a2 = AnnOps.kmeans(embs, k = k, iters = 2).cache()
    val n = embs.count() // fixture vectors are all finite and |v| <= 100
    for (a <- Seq(a0, a2)) {
      assert(a.count() == n)
      assert(a.select("vec_id").distinct().count() == n)
      val lists = a.select("list_id").distinct().collect().map(_.getInt(0))
      assert(lists.forall(l => l >= 0 && l < k))
    }
    // at iters=0 each of the k seeds is its own centroid: k distinct
    // lists each contain a dist-0 member (the seed itself)
    val seedLists = a0.filter(col("dist") === 0L)
      .select("list_id").distinct().count()
    assert(seedLists == k, s"only $seedLists/$k seed lists have a dist-0 member")
    // Lloyd's guarantee survives the integer-rounded centroids: two
    // update rounds never worsen the total within-cluster distance
    val d0 = a0.agg(sum("dist")).head().getLong(0)
    val d2 = a2.agg(sum("dist")).head().getLong(0)
    assert(d2 <= d0, s"iters=2 total dist $d2 > iters=0 $d0")
  }

  test("kmeans trains the IVF lists: full-probe annIvf over learned cells equals brute force") {
    // the composition the operator exists for — the learned assignment
    // becomes the `label` list layout annIvf searches; probing ALL lists
    // must reproduce the brute-force ranking exactly (the list layout
    // changes what is PRUNED, never what is scored)
    val relabeled = embs.drop("label").join(
      AnnOps.kmeans(embs, k = 10, iters = 2)
        .select(col("vec_id"), col("list_id").cast("int").as("label")), "vec_id")
    val brute = AnnOps.annTopK(embs, k = 5).collect().map(_.getLong(0)).toSeq
    val full = AnnOps.annIvf(relabeled, k = 5, nProbe = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute, s"full-probe $full != brute $brute")
    // a narrow probe prunes but still returns k hits from probed lists only
    val probed = AnnOps.annIvf(relabeled, k = 5, nProbe = 2).collect()
    val lists = relabeled.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probedLists = probed.map(r => lists(r.getLong(0))).toSet
    assert(probed.length == 5 && probedLists.size <= 2)
  }

  test("pqEncode: one code per (vector, subspace), codes in range, Lloyd improves") {
    val m = 8
    val n = embs.count()
    val e0 = AnnOps.pqEncode(embs, iters = 0).cache()
    val e1 = AnnOps.pqEncode(embs, iters = 1).cache()
    for (e <- Seq(e0, e1)) {
      assert(e.count() == n * m)
      assert(e.select("vec_id", "sub").distinct().count() == n * m)
      val codes = e.select("code").distinct().collect().map(_.getInt(0))
      assert(codes.forall(c => c >= 0 && c < 16))
    }
    val d0 = e0.agg(sum("dist")).head().getLong(0)
    val d1 = e1.agg(sum("dist")).head().getLong(0)
    assert(d1 <= d0, s"iters=1 total dist $d1 > iters=0 $d0")
  }

  test("pqSearch: ADC equals the exact distance to the reconstruction; an exact twin ranks first") {
    // plant an exact copy of the query vector: its codes equal the
    // query's own encoding, so its ADC distance is the query's own
    // quantization error — the planted twin must rank top-1
    val twinId = 900001L
    val qEmb = embs.filter(col("vec_id") === 0L).select("embedding", "label")
    val planted = embs.unionByName(
      qEmb.select(lit(twinId).as("vec_id"), col("embedding"), col("label")))
    val top = AnnOps.pqSearch(planted, topK = 10).collect()
    assert(top.head.getLong(0) == twinId,
      s"planted exact twin not top-1: ${top.take(3).mkString(", ")}")
    // the ADC identity, verified off-plan: codebook + codes collected and
    // the table-lookup sum recomputed per result row
    val cb = AnnOps.pqCodebook(planted).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toArray).toMap
    val codes = AnnOps.pqEncode(planted).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val q6 = qEmb.select("embedding").head().getSeq[Float](0)
      .map(v => math.round(v.toDouble * 1e6)).toArray
    val w = q6.length / 8
    top.foreach { r =>
      val id = r.getLong(0)
      val expected = (0 until 8).map { s =>
        val c = cb((s, codes((id, s))))
        val qs = q6.slice(s * w, (s + 1) * w)
        qs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(r.getLong(1) == expected,
        s"vec $id: adc ${r.getLong(1)} != reconstruction distance $expected")
    }
    // deployment shape: codes + codebook round-trip through parquet and
    // the persisted-index search matches the inline fit bit for bit
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    AnnOps.pqEncode(planted).write.mode("overwrite").parquet(s"$dir/codes")
    AnnOps.pqCodebook(planted).write.mode("overwrite").parquet(s"$dir/cb")
    val fromDisk = AnnOps.pqSearchIndex(
      spark.read.parquet(s"$dir/codes"), spark.read.parquet(s"$dir/cb"),
      planted, topK = 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fromDisk == top.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("pqSearchIvf: probing all lists equals flat pqSearch; narrow probe prunes to probed lists") {
    val flat = AnnOps.pqSearch(embs, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = AnnOps.pqSearchIvf(embs, topK = 10, nProbe = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == flat, s"full-probe IVF-PQ diverged from flat ADC:\n$full\n$flat")
    // narrow probe: every hit's list is one of the nProbe nearest to the
    // query — recompute membership from the kmeans assignment
    val narrow = AnnOps.pqSearchIvf(embs, topK = 10, nProbe = 2).collect()
    assert(narrow.nonEmpty && narrow.forall(_.getLong(0) != 0L))
    val lists = AnnOps.kmeans(embs).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hitLists = narrow.map(r => lists(r.getLong(0))).toSet
    assert(hitLists.size <= 2, s"hits from ${hitLists.size} lists at nProbe=2")
    // flat ADC scores are preserved: the pruned ranking is a sub-ranking
    val flatMap = flat.toMap
    narrow.foreach { r =>
      flatMap.get(r.getLong(0)).foreach(d => assert(d == r.getLong(1)))
    }
  }

  test("hashEmbed: linear in token counts, slots in range, token-collision consistency") {
    import spark.implicits._
    val one = Seq((1L, "zebra quark lattice", "s")).toDF("doc_id", "text", "source")
    val two = Seq((1L, "zebra quark lattice zebra quark lattice", "s"))
      .toDF("doc_id", "text", "source")
    val v1 = TextOps.hashEmbed(one).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    val v2 = TextOps.hashEmbed(two).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    // the hashing trick is linear: doubling every token doubles the vector
    assert(v2 == v1.map { case (s, v) => s -> v * 2 },
      s"hashEmbed(text||text) $v2 != 2 * $v1")
    // corpus run: slots within [0, 64), every doc with tokens represented,
    // and per-doc sum of |v| never exceeds its token count
    val he = TextOps.hashEmbed(docs).cache()
    assert(he.select("slot").distinct().collect()
      .forall(r => r.getInt(0) >= 0 && r.getInt(0) < 64))
    val mass = he.groupBy("doc_id")
      .agg(sum(abs(col("v"))).as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = TextOps.tokenCounts(docs).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    mass.foreach { case (id, m) => assert(m <= toks(id), s"doc $id: $m > ${toks(id)}") }
    assert(mass.keySet == toks.keySet)
  }

  test("hashEmbed bridges documents to the index estate: a planted near-dup ranks top-1 through kmeans-trained IVF and PQ") {
    import spark.implicits._
    // two twin docs sharing all but one token, on top of the real corpus
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val twins = Seq(
      (9001L, s"$body alpha", "s"),
      (9002L, s"$body omega", "s")).toDF("doc_id", "text", "source")
    val corpus = docs.select("doc_id", "text", "source").union(twins)
    // documents → dense hashed vectors → LEARNED IVF cells
    val dense = TextOps.hashEmbedDense(corpus)
    assert(dense.count() == corpus.count(), "densify lost docs")
    val listed = dense.drop("label")
      .join(AnnOps.kmeans(dense)
        .select(col("vec_id"), col("list_id").as("label")), "vec_id")
    // twin A's vector as the query: twin B must rank top-1 through the
    // pruned IVF search over the learned cells
    val ivfTop = AnnOps.annIvf(listed, queryId = 9001L, k = 1)
      .collect().head
    assert(ivfTop.getLong(0) == 9002L, s"IVF top-1 was $ivfTop")
    // and through the PQ/ADC path over the same hashed vectors
    val pqTop = AnnOps.pqSearch(dense, queryId = 9001L, topK = 1)
      .collect().head
    assert(pqTop.getLong(0) == 9002L, s"PQ top-1 was $pqTop")
  }

  test("langId: prediction is one of the marker languages") {
    val langs = TextOps.Markers.map(_._1).toSet
    val df = TextOps.langId(docs).cache()
    assert(df.count() == docs.count())
    assert(df.select("pred_lang").distinct().collect()
      .forall(r => langs.contains(r.getString(0))))
  }

  test("quality: score within [0, 1]") {
    val df = TextOps.quality(docs)
    assert(df.filter(col("quality_score") < 0.0 || col("quality_score") > 1.0).count() == 0)
  }

  test("tokenCounts: bpe tokens >= ws tokens for space-free words") {
    val df = TextOps.tokenCounts(docs)
    assert(df.filter(col("n_bpe_tokens") < col("n_ws_tokens")).count() == 0)
  }

  test("fingerprint: deterministic across runs") {
    val a = TextOps.fingerprint(docs).collect().map(_.toString).toSeq
    val b = TextOps.fingerprint(docs).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("frameSample keeps every Nth fixed-size frame, declaratively") {
    val withPayload = docs.withColumn("payload", col("text").cast("binary"))
    val frames = MultimodalOps.frameSample(withPayload,
      frameBytes = 32, everyNth = 4).cache()
    assert(frames.count() > 0)
    assert(frames.filter(col("frame_idx") % 4 =!= 0).count() == 0)
    assert(frames.filter(org.apache.spark.sql.functions
      .octet_length(col("frame")) =!= 32).count() == 0)
    // no Generate beyond the single frame explode, no shuffle at all
    val p = frames.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange"), p)
  }

  test("frameSample emits no rows for payloads shorter than one frame") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "short"),                  // 5 bytes < 32 → zero frames
      (2L, ""),                       // empty payload → zero frames
      (3L, "x" * 64)                  // exactly 2 frames → frame 0 kept
    ).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val frames = MultimodalOps.frameSample(tiny, frameBytes = 32, everyNth = 4)
      .collect()
    assert(frames.forall(_.getAs[Long]("doc_id") == 3L),
      frames.mkString(", "))
    assert(frames.length == 1)
    assert(frames.head.getAs[Array[Byte]]("frame").length == 32)
  }

  test("decodeBatches really decodes PPM P6 payloads: header, comments, pixel stats") {
    import spark.implicits._
    def ppm(header: String, pixels: Array[Int]): Array[Byte] =
      header.getBytes("US-ASCII") ++ pixels.map(_.toByte)
    // 2×2 RGB: red, green, blue, white — plus a header comment line
    val px = Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255)
    val img = ppm("P6\n# fixture image\n2 2\n255\n", px)
    val txt = "not an image".getBytes("US-ASCII")
    val df = Seq((1L, "image/ppm", img), (2L, "text/plain", txt))
      .toDF("doc_id", "mime", "payload")
    val out = MultimodalOps.decodeBatches(df, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    val f = out(1L)
    assert(f(0) == 2f && f(1) == 2f, f)            // width, height
    // channel means: R = (255+0+0+255)/4/255, same for G and B
    assert(f(2) == 0.5f && f(3) == 0.5f && f(4) == 0.5f, f)
    assert(f(5) == 0f && f(8) == 1f, f)            // min/max of R
    assert(f.drop(11).forall(_ == 0f), f)          // padding to dim
    // non-PPM payloads take the stub path (byte 0 scaled)
    assert(out(2L)(0) == 'n'.toInt / 256f)
    // malformed P6 must NOT decode: truncated pixel plane, bad maxval
    assert(MultimodalOps.decodePpm(
      ppm("P6\n2 2\n255\n", px.take(6)), 16).isEmpty)
    assert(MultimodalOps.decodePpm(
      ppm("P6\n2 2\n65535\n", px), 16).isEmpty)
    // absurd declared dims must not wrap the n*3 byte-count guard into
    // fabricated stats (Long overflow), nor 10+-digit ints wrap Int
    assert(MultimodalOps.decodePpm(
      ppm("P6\n2147483647 2147483647\n255\n", px), 16).isEmpty)
    assert(MultimodalOps.decodePpm(
      ppm("P6\n99999999999 2\n255\n", px), 16).isEmpty)
  }

  test("decodeBatches really decodes WAV/PCM payloads: chunk walk, 8/16-bit, per-channel stats") {
    import spark.implicits._
    def u16le(v: Int): Seq[Byte] =
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def u32le(v: Int): Seq[Byte] =
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // frames = per-frame per-channel RAW samples (16-bit signed /
    // 8-bit unsigned); extraChunk prepends a LIST chunk so the test
    // exercises the chunk WALK, not a fixed layout
    def wav(bits: Int, nch: Int, rate: Int, frames: Seq[Seq[Int]],
            fmtCode: Int = 1, extraChunk: Boolean = false): Array[Byte] = {
      val data = frames.flatMap(fr => fr.flatMap(s =>
        if (bits == 16) u16le(s & 0xffff) else Seq((s & 0xff).toByte)))
      val fmt = u16le(fmtCode) ++ u16le(nch) ++ u32le(rate) ++
        u32le(rate * nch * bits / 8) ++ u16le(nch * bits / 8) ++ u16le(bits)
      val chunks =
        (if (extraChunk)
          "LIST".getBytes("US-ASCII").toSeq ++ u32le(4) ++
            "INFO".getBytes("US-ASCII").toSeq
        else Seq.empty[Byte]) ++
          "fmt ".getBytes("US-ASCII").toSeq ++ u32le(16) ++ fmt ++
          "data".getBytes("US-ASCII").toSeq ++ u32le(data.length) ++ data
      ("RIFF".getBytes("US-ASCII").toSeq ++ u32le(4 + chunks.length) ++
        "WAVE".getBytes("US-ASCII").toSeq ++ chunks).toArray
    }
    // 16-bit stereo behind a LIST chunk: ch0 = ±0.25, ch1 = 0.5 constant
    val stereo = wav(16, 2, 44100,
      Seq(Seq(8192, 16384), Seq(-8192, 16384)), extraChunk = true)
    val f = MultimodalOps.decodeWav(stereo, 16).get
    assert(f(0) == 2f && f(1) == 44100f && f(2) == 2f, f.toSeq) // nch, rate, frames
    assert(f(3) == 0f && f(4) == 0.5f, f.toSeq)                 // means
    assert(f(5) == -0.25f && f(7) == 0.25f, f.toSeq)            // ch0 min/max
    assert(f(6) == 0.5f && f(8) == 0.5f, f.toSeq)               // ch1 min/max
    assert(f(9) == 0.25f && f(10) == 0.5f, f.toSeq)             // rms (exact here)
    // 8-bit mono: samples {0, +0.5, -0.5}
    val mono = wav(8, 1, 8000, Seq(Seq(128), Seq(192), Seq(64)))
    val g = MultimodalOps.decodeWav(mono, 16).get
    assert(g(0) == 1f && g(1) == 8000f && g(2) == 3f, g.toSeq)
    assert(g(3) == 0f && g(5) == -0.5f && g(7) == 0.5f, g.toSeq)
    assert(g(4) == 0f && g(6) == 0f && g(8) == 0f, g.toSeq)     // no ch1
    assert(math.abs(g(9) - math.sqrt(1.0 / 6)) < 1e-6, g.toSeq)
    // rejects: truncated data chunk, non-PCM encoding, not RIFF at all
    assert(MultimodalOps.decodeWav(stereo.dropRight(1), 16).isEmpty)
    assert(MultimodalOps.decodeWav(
      wav(16, 2, 44100, Seq(Seq(1, 2)), fmtCode = 3), 16).isEmpty)
    assert(MultimodalOps.decodeWav("not audio".getBytes("US-ASCII"), 16).isEmpty)
    // end-to-end through decodeBatches: format SNIFFED from magic bytes,
    // the (untrustworthy) mime label ignored
    val df = Seq((1L, "application/octet-stream", stereo))
      .toDF("doc_id", "mime", "payload")
    val out = MultimodalOps.decodeBatches(df, dim = 16).collect().head
    assert(out.getSeq[Float](3)(1) == 44100f)
  }

  test("decodeWav expands G.711 mu-law and A-law to exact linear samples") {
    def u16le(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def u32le(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def g711wav(fmtCode: Int, codes: Seq[Int]): Array[Byte] = {
      val data = codes.map(_.toByte)
      val fmt = u16le(fmtCode) ++ u16le(1) ++ u32le(8000) ++
        u32le(8000) ++ u16le(1) ++ u16le(8)
      ("RIFF".getBytes("US-ASCII").toSeq ++ u32le(4 + 16 + 8 + 8 + data.length) ++
        "WAVE".getBytes("US-ASCII").toSeq ++
        "fmt ".getBytes("US-ASCII").toSeq ++ u32le(16) ++ fmt ++
        "data".getBytes("US-ASCII").toSeq ++ u32le(data.length) ++ data).toArray
    }
    // mu-law (fmt 7): 0xFF = 0, 0x80 = +32124, 0x00 = -32124 (G.711 table ends)
    val mu = MultimodalOps.decodeWav(g711wav(7, Seq(0xff, 0x80, 0x00)), 16).get
    assert(mu(0) == 1f && mu(1) == 8000f && mu(2) == 3f, mu.toSeq)
    assert(mu(5) == -32124f / 32768 && mu(7) == 32124f / 32768, mu.toSeq)
    assert(mu(3) == 0f, mu.toSeq) // +32124 and -32124 cancel; 0 is 0
    // A-law (fmt 6): 0x55 = -8, 0xD5 = +8, 0x2A = -32256 (the table's min)
    val al = MultimodalOps.decodeWav(g711wav(6, Seq(0x55, 0xd5, 0x2a)), 16).get
    assert(al(5) == -32256f / 32768 && al(7) == 8f / 32768, al.toSeq)
    // 16-bit G.711 is malformed (the codecs are 8-bit by definition)
    val bad = {
      val w = g711wav(7, Seq(0, 0))
      // patch bits-per-sample to 16
      w(34 + 0) = 16.toByte; w
    }
    assert(MultimodalOps.decodeWav(bad, 16).isEmpty)
  }

  test("decodeBmp: real 24bpp bottom-up pixels with row padding; rejects junk") {
    import spark.implicits._
    // 2×2 image — top row (red, green), bottom row (blue, white) —
    // stored bottom-up, BGR, rows padded from 6 to 8 bytes
    def u16(v: Int): Seq[Int] = Seq(v & 0xff, (v >> 8) & 0xff)
    def u32(v: Int): Seq[Int] =
      Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    val header =
      Seq('B'.toInt, 'M'.toInt) ++ u32(54 + 16) ++ u32(0) ++ u32(54) ++ // file header
        u32(40) ++ u32(2) ++ u32(2) ++ u16(1) ++ u16(24) ++ u32(0) ++   // info header
        u32(16) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
    val pixels =
      Seq(255, 0, 0, 255, 255, 255, 0, 0) ++ // bottom: blue, white, pad
        Seq(0, 0, 255, 0, 255, 0, 0, 0)      // top: red, green, pad
    val bmp = (header ++ pixels).map(_.toByte).toArray
    val f = MultimodalOps.decodeBmp(bmp, 16).get
    assert(f(0) == 2f && f(1) == 2f, f.toSeq)                    // w, h
    assert(f(2) == 0.5f && f(3) == 0.5f && f(4) == 0.5f, f.toSeq) // means
    assert(f(5) == 0f && f(6) == 0f && f(7) == 0f, f.toSeq)      // mins
    assert(f(8) == 1f && f(9) == 1f && f(10) == 1f, f.toSeq)     // maxs
    // rejects: truncated pixel plane, compressed, not BM at all
    assert(MultimodalOps.decodeBmp(bmp.dropRight(9), 16).isEmpty)
    val compressed = bmp.clone(); compressed(30) = 1.toByte // BI_RLE8
    assert(MultimodalOps.decodeBmp(compressed, 16).isEmpty)
    assert(MultimodalOps.decodeBmp("not an image".getBytes("US-ASCII"), 16).isEmpty)
    // sniffed through decodeBatches despite a lying mime label
    val df = Seq((1L, "audio/wav", bmp)).toDF("doc_id", "mime", "payload")
    val out = MultimodalOps.decodeBatches(df, dim = 16).collect().head
    assert(out.getSeq[Float](3)(0) == 2f && out.getSeq[Float](3)(2) == 0.5f)
  }

  test("decodeQoi: all six opcodes decode streaming; rejects junk and bombs") {
    import spark.implicits._
    def header(w: Int, h: Int, ch: Int = 3): Seq[Int] =
      Seq('q'.toInt, 'o'.toInt, 'i'.toInt, 'f'.toInt,
        w >> 24, (w >> 16) & 0xff, (w >> 8) & 0xff, w & 0xff,
        h >> 24, (h >> 16) & 0xff, (h >> 8) & 0xff, h & 0xff, ch, 0)
    // 2×4 image, every opcode: RGB literal, RUN×2, DIFF, LUMA, INDEX
    // (back to px1's slot), RGBA literal, RUN×1
    val chunks = Seq(
      0xfe, 10, 20, 30, // OP_RGB            → (10,20,30)
      0xc0 | 1, // OP_RUN 2                  → ×2
      (1 << 6) | (3 << 4) | (2 << 2) | 1, // OP_DIFF +1,0,-1 → (11,20,29)
      0x80 | 37, (9 << 4) | 7, // OP_LUMA dg=5, dr=6, db=4    → (17,25,33)
      0x09, // OP_INDEX slot 9 = hash(10,20,30,255)           → (10,20,30)
      0xff, 100, 110, 120, 128, // OP_RGBA   → (100,110,120)
      0xc0) // OP_RUN 1                      → ×1
    val end = Seq(0, 0, 0, 0, 0, 0, 0, 1)
    val qoi = (header(2, 4) ++ chunks ++ end).map(_.toByte).toArray
    val f = MultimodalOps.decodeQoi(qoi, 16).get
    assert(f(0) == 2f && f(1) == 4f, f.toSeq)
    // sums over the 8 pixels: r=268, g=345, b=422 (hand-derived)
    assert(f(2) == (268.0 / 8 / 255).toFloat, f.toSeq)
    assert(f(3) == (345.0 / 8 / 255).toFloat, f.toSeq)
    assert(f(4) == (422.0 / 8 / 255).toFloat, f.toSeq)
    assert(f(5) == 10 / 255f && f(6) == 20 / 255f && f(7) == 29 / 255f, f.toSeq)
    assert(f(8) == 100 / 255f && f(9) == 110 / 255f && f(10) == 120 / 255f, f.toSeq)
    // rejects: truncated stream, run overshooting the pixel count,
    // geometry bomb, wrong magic
    assert(MultimodalOps.decodeQoi(qoi.dropRight(end.length + 2), 16).isEmpty)
    val overshoot = (header(2, 4) ++ Seq(0xfe, 1, 2, 3, 0xc0 | 61) ++ end)
      .map(_.toByte).toArray // 1 + 62 pixels promised 8
    assert(MultimodalOps.decodeQoi(overshoot, 16).isEmpty)
    val bomb = (header(0x7fffff, 0x7fffff) ++ chunks ++ end).map(_.toByte).toArray
    assert(MultimodalOps.decodeQoi(bomb, 16).isEmpty)
    assert(MultimodalOps.decodeQoi("qoij not this".getBytes("US-ASCII"), 16).isEmpty)
    // sniffed through decodeBatches despite a lying mime label
    val df = Seq((1L, "text/plain", qoi)).toDF("doc_id", "mime", "payload")
    val out = MultimodalOps.decodeBatches(df, dim = 16).collect().head
    assert(out.getSeq[Float](3)(0) == 2f && out.getSeq[Float](3)(1) == 4f)
  }

  test("decodePng: real zlib-compressed pixels through all five filters; rejects junk") {
    import spark.implicits._
    def u32be(v: Long): Seq[Byte] =
      Seq(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val body = typ.getBytes("US-ASCII") ++ data
      crc.update(body)
      (u32be(data.length) ++ body ++ u32be(crc.getValue)).toArray
    }
    // filtered = scanlines WITH their per-row filter bytes, pre-filtered
    // by the test (so the decoder's reconstruction is what's under test)
    def png(w: Int, h: Int, colorType: Int, filtered: Array[Byte],
            bitDepth: Int = 8, interlace: Int = 0,
            splitIdat: Boolean = false,
            plte: Array[Byte] = null): Array[Byte] = {
      val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte)
      val ihdr = (u32be(w) ++ u32be(h) ++
        Seq(bitDepth.toByte, colorType.toByte, 0.toByte, 0.toByte,
          interlace.toByte)).toArray
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(filtered); deflater.finish()
      val buf = new Array[Byte](filtered.length * 2 + 64)
      val n = deflater.deflate(buf); deflater.end()
      val z = buf.take(n)
      // two IDAT chunks when asked — the spec REQUIRES decoders to
      // concatenate IDAT data into one zlib stream
      val idats =
        if (splitIdat && z.length > 2)
          chunk("IDAT", z.take(2)) ++ chunk("IDAT", z.drop(2))
        else chunk("IDAT", z)
      val plteChunk =
        if (plte != null) chunk("PLTE", plte) else Array.empty[Byte]
      sig ++ chunk("IHDR", ihdr) ++ plteChunk ++ idats ++
        chunk("IEND", Array.empty)
    }
    // 2×2 RGB — top (red, green), bottom (blue, white) — same image as
    // the PPM and BMP fixtures, filter None on both rows
    val rgbRaw = Array[Int](
      0, 255, 0, 0, 0, 255, 0,
      0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val f = MultimodalOps.decodePng(png(2, 2, 2, rgbRaw, splitIdat = true), 16).get
    assert(f(0) == 2f && f(1) == 2f, f.toSeq)                     // w, h
    assert(f(2) == 0.5f && f(3) == 0.5f && f(4) == 0.5f, f.toSeq) // means
    assert(f(5) == 0f && f(6) == 0f && f(7) == 0f, f.toSeq)       // mins
    assert(f(8) == 1f && f(9) == 1f && f(10) == 1f, f.toSeq)      // maxs
    // filter gauntlet: a 3×5 gray image, pixel value = 10*y + x heads
    // through Sub, Up, Average, Paeth (and None) — one filter per row,
    // each filter byte chosen so reconstruction must actually run
    val w3 = 3
    val gray = Array.tabulate(5, w3)((y, x) => 10 * y + x)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val rows = Seq(
      0.toByte +: gray(0).map(_.toByte), // None
      1.toByte +: gray(1).zipWithIndex.map { case (v, x) =>
        ((v - (if (x > 0) gray(1)(x - 1) else 0)) & 0xff).toByte }, // Sub
      2.toByte +: gray(2).zipWithIndex.map { case (v, x) =>
        ((v - gray(1)(x)) & 0xff).toByte },                         // Up
      3.toByte +: gray(3).zipWithIndex.map { case (v, x) =>
        ((v - ((if (x > 0) gray(3)(x - 1) else 0) + gray(2)(x)) / 2) & 0xff)
          .toByte },                                                // Average
      4.toByte +: gray(4).zipWithIndex.map { case (v, x) =>
        ((v - paeth(if (x > 0) gray(4)(x - 1) else 0, gray(3)(x),
          if (x > 0) gray(3)(x - 1) else 0)) & 0xff).toByte })      // Paeth
    val g = MultimodalOps.decodePng(png(w3, 5, 0, rows.flatten.toArray), 16).get
    assert(g(0) == 3f && g(1) == 5f, g.toSeq)
    val mean = gray.flatten.sum.toDouble / 15 / 255
    assert(math.abs(g(2) - mean) < 1e-6 && g(2) == g(3) && g(3) == g(4), g.toSeq)
    assert(g(5) == 0f && g(8) == 42f / 255f, g.toSeq) // min 0, max 42
    // RGBA: alpha ignored in stats — same stats as the RGB fixture
    val rgbaRaw = Array[Int](
      0, 255, 0, 0, 7, 0, 255, 0, 9,
      0, 0, 0, 255, 11, 255, 255, 255, 13).map(_.toByte)
    val fa = MultimodalOps.decodePng(png(2, 2, 6, rgbaRaw), 16).get
    assert(fa.toSeq == f.toSeq)
    // PALETTED (round 13): same 2×2 image through PLTE indices — stats
    // must equal the truecolor fixture's exactly
    val palette = Array[Int](255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255)
      .map(_.toByte)
    val palRaw = Array[Int](0, 0, 1, 0, 2, 3).map(_.toByte) // filter+idx rows
    val fp = MultimodalOps.decodePng(
      png(2, 2, 3, palRaw, plte = palette), 16).get
    assert(fp.toSeq == f.toSeq, fp.toSeq)
    // ADAM7 (round 13): the same 2×2 image laid out in interlace pass
    // order (p1: (0,0); p6: (1,0); p7: (0,1),(1,1)) — stats must equal
    // the sequential fixture's exactly (interlace-invariance)
    val adamRaw = Array[Int](
      0, 255, 0, 0, // pass 1: red
      0, 0, 255, 0, // pass 6: green
      0, 0, 0, 255, 255, 255, 255 // pass 7: blue, white
    ).map(_.toByte)
    val fi = MultimodalOps.decodePng(
      png(2, 2, 2, adamRaw, interlace = 1), 16).get
    assert(fi.toSeq == f.toSeq, fi.toSeq)
    // paletted + Adam7 compose (same pass order, index stream)
    val adamPal = Array[Int](0, 0, 0, 1, 0, 2, 3).map(_.toByte)
    val fip = MultimodalOps.decodePng(
      png(2, 2, 3, adamPal, interlace = 1, plte = palette), 16).get
    assert(fip.toSeq == f.toSeq, fip.toSeq)
    // rejects: 16-bit depth, palette WITHOUT a PLTE, index past the
    // palette, oversized/ragged PLTE, short pixel stream, junk
    assert(MultimodalOps.decodePng(
      png(2, 2, 2, rgbRaw, bitDepth = 16), 16).isEmpty)
    assert(MultimodalOps.decodePng(png(2, 2, 3, rgbRaw), 16).isEmpty)
    assert(MultimodalOps.decodePng(
      png(2, 2, 3, Array[Int](0, 0, 1, 0, 2, 9).map(_.toByte),
        plte = palette), 16).isEmpty, "index 9 past a 4-entry palette")
    assert(MultimodalOps.decodePng(
      png(2, 2, 3, palRaw, plte = palette.take(11)), 16).isEmpty,
      "PLTE length must be a multiple of 3")
    assert(MultimodalOps.decodePng(
      png(4, 4, 2, rgbRaw), 16).isEmpty) // declared 4×4, pixels for 2×2
    assert(MultimodalOps.decodePng(
      "not an image".getBytes("US-ASCII"), 16).isEmpty)
    // sniffed through decodeBatches despite a lying mime label — the
    // fixture mime generator labels docs image/png (multimodalMeta), and
    // now those payloads really decode as PNG
    val df = Seq((1L, "audio/wav", png(2, 2, 2, rgbRaw)))
      .toDF("doc_id", "mime", "payload")
    val out = MultimodalOps.decodeBatches(df, dim = 16).collect().head
    assert(out.getSeq[Float](3)(0) == 2f && out.getSeq[Float](3)(2) == 0.5f)
  }

  test("JDK-encoded palette PNG (TYPE_BYTE_INDEXED) decodes with exact stats") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    val W = 37; val H = 23 // odd sizes: no alignment luck
    val img = new BufferedImage(W, H, BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until H; x <- 0 until W) {
      val v = (x * 6 + y * 5) % 250
      img.setRGB(x, y, (v << 16) | ((v * 3 % 250) << 8) | (v * 7 % 250))
    }
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    // the JDK really wrote an 8-bit colorType-3 (palette) PNG
    assert((bytes(24) & 0xff) == 8 && (bytes(25) & 0xff) == 3,
      s"fixture not a palette png: depth=${bytes(24)} color=${bytes(25)}")
    val f = MultimodalOps.decodePng(bytes, 16).get
    assert(f(0) == W.toFloat && f(1) == H.toFloat, f.toSeq)
    // exact truth from the JDK's own decode of the same bytes (the
    // indexed write quantizes to its palette — read-back is the truth)
    val jdk = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val px = for (y <- 0 until H; x <- 0 until W) yield jdk.getRGB(x, y)
    def ch(shift: Int): Seq[Int] = px.map(p => (p >> shift) & 0xff)
    val (rs, gs, bs) = (ch(16), ch(8), ch(0))
    assert(f(2) == (rs.sum.toDouble / (W * H) / 255).toFloat, f.toSeq)
    assert(f(3) == (gs.sum.toDouble / (W * H) / 255).toFloat, f.toSeq)
    assert(f(4) == (bs.sum.toDouble / (W * H) / 255).toFloat, f.toSeq)
    assert(f(5) == rs.min / 255f && f(6) == gs.min / 255f &&
      f(7) == bs.min / 255f, f.toSeq)
    assert(f(8) == rs.max / 255f && f(9) == gs.max / 255f &&
      f(10) == bs.max / 255f, f.toSeq)
  }

  test("Adam7 PNG: a 9×9 gradient decodes identically interlaced and sequential") {
    // 9×9 exercises every Adam7 pass with non-trivial extents AND odd
    // tails; pixel = unique value per (x, y) so any scatter mistake
    // moves a stat; fixtures are hand-laid pass streams (the JDK writer
    // does not emit interlaced PNGs), sequential truth via the JDK read
    import javax.imageio.ImageIO
    def u32be(v: Long): Seq[Byte] =
      Seq(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val body = typ.getBytes("US-ASCII") ++ data
      crc.update(body)
      (u32be(data.length) ++ body ++ u32be(crc.getValue)).toArray
    }
    val W = 9; val H = 9
    def pix(x: Int, y: Int): Int = (x * 19 + y * 7) % 256 // gray value
    // Adam7 pass geometry, PNG spec §8.2
    val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val interStream = passes.flatMap { case (x0, y0, dx, dy) =>
      val wp = math.max((W - x0 + dx - 1) / dx, 0)
      val hp = math.max((H - y0 + dy - 1) / dy, 0)
      (0 until hp).flatMap { y =>
        0.toByte +: (0 until wp).map(x => pix(x0 + x * dx, y0 + y * dy).toByte)
      }
    }.toArray
    val seqStream = (0 until H).flatMap { y =>
      0.toByte +: (0 until W).map(x => pix(x, y).toByte)
    }.toArray
    def png(stream: Array[Byte], interlace: Int): Array[Byte] = {
      val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte)
      val ihdr = (u32be(W) ++ u32be(H) ++
        Seq(8.toByte, 0.toByte, 0.toByte, 0.toByte, interlace.toByte)).toArray
      val d = new java.util.zip.Deflater()
      d.setInput(stream); d.finish()
      val buf = new Array[Byte](stream.length * 2 + 64)
      val n = d.deflate(buf); d.end()
      sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", buf.take(n)) ++
        chunk("IEND", Array.empty)
    }
    val inter = png(interStream, 1)
    val seqn = png(seqStream, 0)
    val fi = MultimodalOps.decodePng(inter, 16).get
    val fs = MultimodalOps.decodePng(seqn, 16).get
    assert(fi.toSeq == fs.toSeq, s"${fi.toSeq} vs ${fs.toSeq}")
    // and both agree with the JDK's decode of the interlaced fixture —
    // a REAL second implementation of the Adam7 reassembly
    val jdk = ImageIO.read(new java.io.ByteArrayInputStream(inter))
    val vals = for (y <- 0 until H; x <- 0 until W)
      yield jdk.getRaster.getSample(x, y, 0)
    assert(vals == (for (y <- 0 until H; x <- 0 until W) yield pix(x, y)),
      "JDK agrees the interlaced fixture encodes the intended pixels")
    assert(fi(2) == (vals.sum.toDouble / (W * H) / 255).toFloat, fi.toSeq)
    assert(fi(5) == vals.min / 255f && fi(8) == vals.max / 255f, fi.toSeq)
  }

  test("dedupLines keeps the first occurrence of a repeated segment and accounts exactly") {
    import spark.implicits._
    // 10-token segments: A|B in doc 0, A|C in doc 1 (A repeats), D in doc 2
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val segC = (1 to 10).map(i => s"c$i").mkString(" ")
    val segD = (1 to 10).map(i => s"d$i").mkString(" ")
    val planted = Seq(
      (0L, s"$segA $segB", "s0"),
      (1L, s"$segA $segC", "s0"),
      (2L, segD, "s1")
    ).toDF("doc_id", "text", "source")
    val out = DedupOps.dedupLines(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("n_seg") == 2 && out(0L).getAs[Long]("n_kept") == 2)
    // doc 1 loses exactly the repeated segment A (first occurrence is doc 0)
    assert(out(1L).getAs[Long]("n_seg") == 2 && out(1L).getAs[Long]("n_kept") == 1)
    assert(out(1L).getAs[Long]("kept_chars") == segC.length)
    assert(out(2L).getAs[Long]("n_kept") == 1)
    // corpus-level conservation on real docs: every segment counted once,
    // kept ≤ total, and a doc-0-only corpus keeps everything
    val real = DedupOps.dedupLines(docs).collect()
    assert(real.map(_.getAs[Long]("n_seg")).sum >= real.map(_.getAs[Long]("n_kept")).sum)
    // planted full-duplicate docs legitimately keep ZERO segments; the
    // lowest doc_id can never lose one (nothing precedes it)
    val firstDoc = real.minBy(_.getLong(0))
    assert(firstDoc.getAs[Long]("n_kept") == firstDoc.getAs[Long]("n_seg"))
  }

  test("knnGraph is the exact cosine top-k graph; knnGraphRp recalls its edges") {
    import spark.implicits._
    def vec(xs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f); xs.foreach { case (i, v) => a(i) = v }; a
    }
    // 0 and 1 nearly parallel; 2 orthogonal-ish; 3 anti-aligned
    val planted = Seq(
      (0L, vec(0 -> 1f, 1 -> 0.1f), 0),
      (1L, vec(0 -> 1f, 1 -> 0.2f), 0),
      (2L, vec(5 -> 1f), 1),
      (3L, vec(0 -> -1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val g = AnnOps.knnGraph(planted, k = 2).collect()
    // every vector emits exactly min(k, n-1)=2 ranked rows
    assert(g.groupBy(_.getLong(0)).forall(_._2.length == 2))
    val n0 = g.filter(_.getLong(0) == 0L).sortBy(_.getAs[Int]("nbr_rank"))
    assert(n0.head.getAs[Long]("nbr_id") == 1L, "nearest of 0 must be 1")
    assert(n0.head.getAs[Double]("score") > 0.99)
    // rank is consistent with score ordering
    g.groupBy(_.getLong(0)).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("nbr_rank"))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
    }
    // the RP-banded graph on the real corpus: recall vs the exact graph is
    // the GEOMETRY knob — top-5 neighbors here sit at modest cosines, so
    // 8-bit bands (sized for near-dup mining at cos≥0.9) see few of them,
    // and narrowing to 4-bit bands must recover most of the graph.
    // (At production scale the operator contract is the same: pick
    // bits/bands from the target cosine via 1-(1-(1-θ/π)^bits)^bands.)
    val exact = AnnOps.knnGraph(embs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallAt(bits: Int): Double = {
      val approx = AnnOps.knnGraphRp(embs, k = 5, bitsPerBand = bits).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val r8 = recallAt(8); val r4 = recallAt(4)
    assert(r4 > r8, f"narrower bands must raise recall: $r4%.3f vs $r8%.3f")
    assert(r4 >= 0.7, f"kNN-graph recall at 4-bit bands $r4%.3f below floor")
  }

  test("seqlenHist bins conserve docs and tokens; shares sum to 1 per source") {
    val out = TextOps.seqlenHist(docs).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val expectedTokens = TextOps.tokenCounts(docs)
      .agg(sum(col("n_bpe_tokens"))).collect().head.getLong(0)
    assert(out.map(_.getAs[Long]("n_tokens")).sum == expectedTokens)
    out.groupBy(_.getString(0)).values.foreach { rows =>
      val share = rows.map(_.getAs[Double]("doc_share")).sum
      assert(math.abs(share - 1.0) < 1e-9, s"shares sum to $share")
    }
    // every doc's count falls inside its bin
    assert(out.forall { r =>
      val bin = r.getAs[Long]("bin"); val n = r.getAs[Long]("n_docs")
      val tks = r.getAs[Long]("n_tokens")
      tks >= bin * n && tks < (bin + 32) * n
    })
  }

  test("boilerplate surfaces planted repeated segments with exact reach") {
    import spark.implicits._
    val footer = (1 to 10).map(i => s"f$i").mkString(" ")
    val unique = (i: Int) => (1 to 10).map(j => s"u${i}_$j").mkString(" ")
    val planted = (0 until 6).map(i =>
      (i.toLong, s"${unique(i)} $footer", "s0")) :+
      (6L, s"${unique(6)} ${unique(7)}", "s0")
    val out = DedupOps.boilerplate(planted.toDF("doc_id", "text", "source"))
      .collect()
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.getString(0) == footer)
    assert(out.head.getAs[Long]("n_docs") == 6)
    assert(out.head.getAs[Long]("n_occurrences") == 6)
    assert(out.head.getAs[Long]("first_doc") == 0L)
    // real corpus: reach never exceeds occurrences; threshold respected
    val real = DedupOps.boilerplate(docs).collect()
    assert(real.forall(r =>
      r.getAs[Long]("n_docs") >= 2 &&
        r.getAs[Long]("n_occurrences") >= r.getAs[Long]("n_docs")))
  }

  test("dupInflation histogram is consistent with the cluster assignment") {
    val clusters = DedupOps.dedupClusters(docs).collect()
      .groupBy(_.getAs[Long]("cluster_id")).view.mapValues(_.length.toLong).toMap
    val expected = clusters.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val out = DedupOps.dupInflation(docs).collect()
    assert(out.map(r => r.getLong(0) -> r.getAs[Long]("n_clusters")).toMap == expected)
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(math.abs(out.map(_.getAs[Double]("doc_share")).sum - 1.0) < 1e-9)
    // the synthetic corpus plants duplicates: some cluster is bigger than 1
    assert(out.exists(r => r.getLong(0) > 1L))
  }

  test("zipfFit matches a plain-Scala normal-equations model; planted 1/rank gives slope ~ -1") {
    import spark.implicits._
    // planted Zipfian corpus: token t_i appears ceil(120/i) times
    val planted = (1 to 12).flatMap(i =>
      Seq.fill(math.ceil(120.0 / i).toInt)(s"t$i"))
    val docs = planted.grouped(30).zipWithIndex
      .map { case (ws, id) => (id.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val row = CorpusOps.zipfFit(docs).collect().head
    val slope = row.getAs[Double]("slope")
    assert(slope < -0.8 && slope > -1.2, s"planted 1/rank corpus fit $slope")
    // independent normal-equations model with the identical quantization
    def model(counts: Seq[Long]): (Double, Double) = {
      val ranked = counts.sorted(Ordering[Long].reverse).zipWithIndex
      val xy = ranked.map { case (c, i) =>
        (BigInt(math.round(math.log((i + 1) * 1.0) * 1e6)),
          BigInt(math.round(math.log(c * 1.0) * 1e6)))
      }
      val n = BigInt(xy.size)
      val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val sl = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      (sl, (sy.toDouble - sl * sx.toDouble) / n.toDouble / 1e6)
    }
    // tie-break caveat: equal counts make rank assignment token-ordered,
    // but ln(rank) over a PERMUTATION of tied ranks sums identically
    val real = CorpusOps.zipfFit(docs).collect().head
    val counts = planted.groupBy(identity).values.map(_.size.toLong).toSeq
    val (expSlope, expIntercept) = model(counts)
    assert(real.getAs[Double]("slope") == expSlope)
    assert(real.getAs[Double]("intercept_nats") == expIntercept)
    assert(real.getAs[Long]("n_vocab") == 12L)
  }

  test("cooccurrence matches a plain-Scala PMI model; a planted collocation tops the list") {
    import spark.implicits._
    // "zz qq" always adjacent (a collocation); "aa".."dd" random filler
    val rnd = new scala.util.Random(11)
    val filler = Vector("aa", "bb", "cc", "dd")
    val texts = (0 until 30).map { _ =>
      (0 until 10).flatMap(_ =>
        if (rnd.nextInt(4) == 0) Seq("zz", "qq")
        else Seq(filler(rnd.nextInt(4)))).mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = CorpusOps.cooccurrence(docs, window = 3, minCount = 5L, k = 10)
      .collect()
    // independent model: same window pairs, same integer quantization
    val pairs = texts.flatMap { t =>
      val tk = t.split(" ")
      tk.indices.flatMap(i => (i + 1 to math.min(i + 3, tk.length - 1)).map { j =>
        if (tk(i) <= tk(j)) (tk(i), tk(j)) else (tk(j), tk(i))
      })
    }
    val pc = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val uni = texts.flatMap(_.split(" ")).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val nTok = uni.values.sum; val nPair = pc.values.sum
    def pmi(a: String, b: String): Long = math.round(math.log(
      (pc((a, b)) * 1.0 / nPair) /
        ((uni(a) * 1.0 / nTok) * (uni(b) * 1.0 / nTok))) * 1e6)
    out.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getAs[Long]("c_ab") == pc((a, b)), s"count ($a,$b)")
      assert(r.getAs[Long]("pmi_q6") == pmi(a, b), s"pmi ($a,$b)")
    }
    // the planted collocation has the highest PMI
    assert((out.head.getString(0), out.head.getString(1)) == ("qq", "zz"),
      out.take(3).mkString("; "))
  }

  test("compressRatio separates repetitive boilerplate from high-entropy noise") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val planted = Seq(
      (0L, ("spam ham " * 200).trim, "s0"), // templated → compresses hard
      (1L, Array.fill(1600)(('a' + rnd.nextInt(26)).toChar).mkString, "s0"), // entropy
      (2L, docs.select("text").head().getString(0), "s0") // natural-ish corpus text
    ).toDF("doc_id", "text", "source")
    val out = TextOps.compressRatio(planted).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("compress_ratio")).toMap
    assert(out(0L) < 0.1, s"boilerplate must crush: ${out(0L)}")
    assert(out(1L) > 0.5, s"entropy must resist: ${out(1L)}")
    // short corpus docs carry fixed deflate overhead, so only the
    // boilerplate bound is universal: both tails beat it clearly
    assert(out(0L) < out(2L), s"corpus text must beat boilerplate: $out")
    // ratio definition sanity on the real corpus + determinism across runs
    val real = TextOps.compressRatio(docs).collect()
    assert(real.forall(r => r.getAs[Double]("compress_ratio") > 0))
    assert(real.forall(r => r.getAs[Long]("n_compressed") > 0))
    val again = TextOps.compressRatio(docs).collect()
    assert(real.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("sourceDivergence: KL is ~0 for a corpus-like source, large for a skewed one") {
    import spark.implicits._
    // s_same mirrors the corpus blend; s_skew speaks almost one token
    val planted = Seq(
      (0L, "aa bb cc dd", "s_same"), (1L, "aa bb cc dd", "s_same"),
      (2L, "aa aa aa aa", "s_skew"), (3L, "aa aa aa bb", "s_skew")
    ).toDF("doc_id", "text", "source")
    val out = CorpusOps.sourceDivergence(planted).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("kl_q6_sum"), r.getAs[Double]("kl_nats"))).toMap
    assert(out.keySet == Set("s_same", "s_skew"))
    // replicate the integer-exact formula independently: per-token
    // w_q6 = round(ln((c/n_src)/(c_tok/n_all))·1e6), KL_sum = Σ c·w_q6
    val toks = Seq("aa bb cc dd" -> "s_same", "aa bb cc dd" -> "s_same",
      "aa aa aa aa" -> "s_skew", "aa aa aa bb" -> "s_skew")
      .flatMap { case (t, s) => t.split(" ").map(s -> _) }
    val counts = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nSrc = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cTok = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nAll = toks.size.toLong
    val expected = counts.groupBy(_._1._1).map { case (s, m) =>
      s -> m.map { case ((_, t), c) =>
        c * math.round(math.log((c * 1.0 / nSrc(s)) / (cTok(t) * 1.0 / nAll)) * 1e6)
      }.sum
    }
    assert(out("s_same")._1 == expected("s_same") &&
      out("s_skew")._1 == expected("s_skew"), s"got $out want $expected")
    // the nearly-one-token source diverges far more than the mixed one
    assert(out("s_skew")._2 > out("s_same")._2 + 0.1, s"$out")
    // real corpus: one row per source, n_tokens conserved
    val real = CorpusOps.sourceDivergence(docs)
    val nTok = real.agg(sum("n_tokens")).collect().head.getLong(0)
    val expectedTok = docs.select(explode(
      graft.functions.TextFuns.tokens(col("text")))).count()
    assert(nTok == expectedTok)
  }

  test("multimodalMeta + decodeBatches plumbing round-trips") {
    val meta = MultimodalOps.multimodalMeta(docs)
    assert(meta.count() == docs.count())
    val withPayload = docs.withColumn("payload", col("text").cast("binary"))
      .withColumn("mime", lit("image/png"))
    val decoded = MultimodalOps.decodeBatches(withPayload, dim = 16).cache()
    assert(decoded.count() == docs.count())
    assert(decoded.schema == MultimodalOps.decodedSchema)
    val feats = decoded.select("feature").head().getSeq[Float](0)
    assert(feats.length == 16 && feats.forall(f => f >= 0f && f < 1f))
  }
}
