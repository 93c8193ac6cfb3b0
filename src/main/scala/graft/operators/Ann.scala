package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.VectorFuns

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2-B rows 29-30).
  *
  * The query vector is a one-row broadcast (never a collect-loop); scoring
  * is a codegen'd higher-order-function dot product; top-k compiles to
  * TakeOrderedAndProject (per-partition heaps, no global sort). The LSH
  * variant prunes the scan to the query's sign-bucket — at cluster scale
  * the bucket id is the partition key, so a query touches 1/2^bits of the
  * data.
  */
object AnnOps {

  /** §2-29 `q_ann_topk`: brute-force cosine top-k against the query vector
    * (vec_id 0) — the exact baseline every ANN variant is validated
    * against. */
  def annTopK(embeddings: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        VectorFuns.l2normNative(col("embedding")).as("q_nrm"))
    embeddings
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"),
        VectorFuns.cosine6Pre(col("embedding"), col("q_emb"),
          VectorFuns.l2normNative(col("embedding")), col("q_nrm")).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** §2-105 `q_knn_graph`: the exact k-nearest-neighbor GRAPH — top-k
    * cosine neighbors for EVERY vector, not one query. The all-pairs
    * primitive behind SemDeDup-style semantic dedup, duplicate-cluster
    * mining, and graph-based label propagation.
    *
    * This is the EXACTNESS BASELINE (like [[DedupOps.dedupEmbedding]] vs
    * its LSH variants): candidate generation is all n² ordered pairs, so
    * it is quadratic by definition — correct at any size that can afford
    * it, and the recall yardstick for [[knnGraphRp]], the scale path.
    * Plan shape: norms computed ONCE per row before the pair join (never
    * per pair), ranking is a window partitioned by src_id — per-vector
    * state is a k-row heap, never a global sort. The pair join BROADCASTS
    * the full vector table (its one honest cap: this baseline only runs
    * at broadcast-size corpora — fitting, since past that size the n²
    * pair count is unaffordable anyway); [[knnGraphRp]] is the unbounded
    * production path. */
  def knnGraph(embeddings: DataFrame, k: Int = 5): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val withNorm = embeddings.select(col("vec_id"), col("label"),
      col("embedding"), VectorFuns.l2normNative(col("embedding")).as("nrm"))
    // the n·(n−1) cosine evaluations run in the STREAM side's map stage —
    // spread a small scan so they use every core (guide §2.5; a
    // broadcast-size corpus otherwise computes the whole n² on one task)
    val left = graft.sources.Tables.spread(
      withNorm.toDF("src_id", "src_label", "src_emb", "src_nrm"), "src_id")
    val right = withNorm.toDF("nbr_id", "nbr_label", "nbr_emb", "nbr_nrm")
    val pairs = left
      .join(broadcast(right), col("src_id") =!= col("nbr_id"))
      .filter(col("src_nrm") > 0 && col("nbr_nrm") > 0)
      .select(col("src_id"), col("nbr_id"), col("nbr_label"),
        VectorFuns.cosine6Pre(col("src_emb"), col("nbr_emb"),
          col("src_nrm"), col("nbr_nrm")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("score").desc, col("nbr_id").asc)
    pairs
      .withColumn("nbr_rank", row_number().over(w))
      .filter(col("nbr_rank") <= k)
      .select(col("src_id"), col("nbr_rank"), col("nbr_id"),
        col("nbr_label"), col("score"))
      .orderBy("src_id", "nbr_rank")
  }

  /** [[knnGraph]]'s 100 TB shape: candidates restricted to pairs sharing
    * ≥1 random-hyperplane band key ([[graft.plans.RpLsh]] — the same
    * trained coefficient table the embedding-dedup family blocks on), so
    * pair volume is band collisions (~bands·n²/2^(bits+1), geometry-sized
    * to the corpus) instead of n². Same scoring and ranking as the exact
    * graph; recall vs [[knnGraph]] is spec-asserted on the labeled
    * corpus. Neighbors the bands never collide are simply absent — a
    * vector may emit < k rows (approximate contract, like every LSH op
    * here). */
  def knnGraphRp(embeddings: DataFrame, k: Int = 5,
                 bands: Int = graft.plans.RpLsh.Bands,
                 bitsPerBand: Int = graft.plans.RpLsh.BitsPerBand): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val cand = DedupOps.embeddingRpCandidates(embeddings, bands, bitsPerBand)
    val both = cand.union(cand.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
    val withNorm = embeddings.select(col("vec_id"), col("label"),
      col("embedding"), VectorFuns.l2normNative(col("embedding")).as("nrm"))
    val pairs = both
      .join(withNorm.toDF("src_id", "src_label", "src_emb", "src_nrm"),
        col("vec_a") === col("src_id"))
      .join(withNorm.toDF("nbr_id", "nbr_label", "nbr_emb", "nbr_nrm"),
        col("vec_b") === col("nbr_id"))
      .filter(col("src_nrm") > 0 && col("nbr_nrm") > 0)
      .select(col("src_id"), col("nbr_id"), col("nbr_label"),
        VectorFuns.cosine6Pre(col("src_emb"), col("nbr_emb"),
          col("src_nrm"), col("nbr_nrm")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("score").desc, col("nbr_id").asc)
    pairs
      .withColumn("nbr_rank", row_number().over(w))
      .filter(col("nbr_rank") <= k)
      .select(col("src_id"), col("nbr_rank"), col("nbr_id"),
        col("nbr_label"), col("score"))
      .orderBy("src_id", "nbr_rank")
  }

  /** §2-30 `q_ann_lsh`: sign-LSH bucketed ANN — search ONLY the query's
    * bucket (sign bits of the first 8 dimensions). Exact float-sign
    * comparisons make the bucket engine-portable; recall is traded for a
    * 1/2^8 scan. */
  def annLsh(embeddings: DataFrame, queryId: Long = 0L, k: Int = 5): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val bucketed = embeddings
      .withColumn("bucket", VectorFuns.signBucket(col("embedding")))
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"),
        VectorFuns.l2normNative(col("embedding")).as("q_nrm"))
    bucketed
      .join(broadcast(q), col("bucket") === col("q_bucket"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), col("bucket"),
        VectorFuns.cosine6Pre(col("embedding"), col("q_emb"),
          VectorFuns.l2normNative(col("embedding")), col("q_nrm")).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF-style ANN (the other classic scale path next to sign-LSH):
    * centroid per inverted-list (here the `label` partition stands in for
    * k-means cells), probe the `nProbe` nearest lists, search only those.
    *
    * The list ranking never leaves integer space until the final two IEEE
    * ops: with s_i = Σ round(v_i×10⁶) (the exact per-(list, dim) int sums
    * [[centroid]] uses) and qq_i = round(q_i×10⁶), the probe key is
    *
    *   c_key = Σ s_i·qq_i / √(Σ s_i²)
    *
    * — cosine similarity to the list centroid against the 6-dp-quantized
    * query, with the 10⁶ scale, the list size n, and the query norm all
    * cancelling out of the ranking. Every sum — the per-(list, dim) s_i
    * and the dq/ss reductions over dims — is an exact DECIMAL sum
    * (aggregation-order-free, overflow-proof; DuckDB sums the same values
    * into HUGEINT), and decimal→double, sqrt, and ÷ are each exactly
    * rounded, so the key is bit-identical in DuckDB BY CONSTRUCTION — no
    * round(x, 6) whose half-ulp boundary the two engines could disagree
    * on while it decides the whole probed-list set (ORDER BY … LIMIT
    * nProbe amplifies one boundary into a different result SET, unlike a
    * rounded output cell). Degenerate lists (all-zero embeddings ⇒
    * ss = 0 ⇒ c_key = 0/0) are excluded BEFORE the ranking on both
    * engines: Spark's 0/0 is NaN (sorts greatest — probed first!) while
    * DuckDB's sorts last, so an unfiltered degenerate list would silently
    * flip the probed set across engines.
    *
    * Everything is distributed: the dim-level sums shuffle (lists × dims)
    * keys, the probed-list set is broadcast (nProbe rows). At 100 TB the
    * list id is the partition key, so a query touches nProbe/nLists of
    * the data. */
  def annIvf(embeddings: DataFrame, queryId: Long = 0L, k: Int = 5,
             nProbe: Int = 2): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val dec = "decimal(38,0)"
    val listSums = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v").cast("double") * 1e6).cast("long").cast(dec))
        .as("s"))
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        VectorFuns.l2normNative(col("embedding")).as("q_nrm"))
    val qq = q
      .select(posexplode(col("q_emb")).as(Seq("pos", "qv")))
      .select(col("pos"), round(col("qv").cast("double") * 1e6).cast("long").as("qq"))
    val probed = listSums
      .join(broadcast(qq), "pos")
      .groupBy(col("label"))
      .agg(sum(col("s") * col("qq").cast(dec)).as("dq"),
        sum(col("s") * col("s")).as("ss"))
      .filter(col("ss") > 0)
      .select(col("label"),
        (col("dq").cast("double") / sqrt(col("ss").cast("double"))).as("c_key"))
      .orderBy(col("c_key").desc, col("label").asc)
      .limit(nProbe)
      .select(col("label"))
    embeddings
      .join(broadcast(probed), "label")
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"),
        VectorFuns.cosine6Pre(col("embedding"), col("q_emb"),
          VectorFuns.l2normNative(col("embedding")), col("q_nrm")).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** §2-58 `q_centroid`: per-label embedding centroid — the prototype /
    * IVF-list-training step of an ANN index build. Each element is
    * quantized to integer micro-units (round(v×10⁶) — the same 6-dp
    * convention every cross-engine float output here uses; a float →
    * DECIMAL cast instead hits the engines' shortest-repr vs
    * exact-binary rounding mismatch at the 8th digit) and summed as
    * EXACT int64, so the result is independent of partial-aggregation
    * order and oracle-hashable — the trick that also lifted [[annIvf]]'s
    * centroids out of float-avg nondeterminism. Scale:
    * posexplode emits rows × dims, but the agg keys are (label, dim) —
    * partials bound the shuffle by labels × dims. */
  def centroid(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v").cast("double") * 1e6).cast("long")).as("sum_q6"),
        count(lit(1)).as("n"))
      // NO round() on the mean: sum_q6 and n are exact integers, so
      // sum_q6/1e6/n is two IEEE divisions on identical operands in both
      // engines — bit-deterministic. (round() is NOT: Spark rounds the
      // shortest decimal repr, DuckDB the exact binary — they disagree on
      // quotients near a 5×10⁻⁷ boundary; one such row existed at sf0.1.)
      .select(col("label"), col("pos"), col("sum_q6"), col("n"),
        (col("sum_q6") / 1e6 / col("n")).as("mean_val"))
      .orderBy("label", "pos")

  /** The fixed vector width of the clustering/PQ index family — like a
    * trained LSH coefficient table ([[graft.plans.RpLsh.Dims]]), a
    * k-means/PQ index is fixed-width by construction: centroids and
    * codewords have exactly this many components. */
  val IndexDims: Int = 64

  /** The guarded 10⁶-quantized vector stream the clustering family
    * ([[kmeans]], [[pqEncode]]) shares: a non-[[IndexDims]]-width vector
    * drops (the rp_band_keys precedent — on a mixed-dimension corpus
    * Spark's zip_with pads with null and the int64 distance aggregate
    * yields NULL, while DuckDB's list_sum IGNORES nulls: a silent
    * cross-engine divergence instead of a clean drop), NULL/non-finite
    * components drop the vector, and the magnitude bound is |v| ≤ 100 —
    * tighter than [[quantize]]'s 10⁶ because integer ARGMINs must stay
    * in int64 (|q6| ≤ 10⁸ ⇒ Σ₆₄(2·10⁸)² ≈ 2.6·10¹⁸ < 2⁶³). Lazily
    * materialized ([[graft.Materialize]]): every consumer scans it
    * iters+1 times, and [[pqSearchIvf]] threads ONE of these frames
    * through its PQ fit,
    * coarse fit, and query lookup (four independent copies would pin
    * four corpus checkpoints in the block manager — the measured
    * accumulated-blocks hazard from the round-6 probes). */
  private def q6Guarded(embeddings: DataFrame): DataFrame =
    Materialize(q6GuardedRaw(embeddings), eager = false)

  /** The guard+quantize chain WITHOUT the checkpoint — the single
    * definition of the index family's input contract, shared with
    * [[DedupOps.dedupEmbeddingRepresentative]] (whose consumer
    * checkpoints a derived frame instead; two checkpoints of the same
    * stream would pin redundant block-manager copies). */
  private[graft] def q6GuardedRaw(embeddings: DataFrame): DataFrame =
    embeddings
      .filter(size(col("embedding")) === IndexDims)
      .filter(expr(
        "size(filter(embedding, v -> v is null or isnan(cast(v as double)) " +
          "or abs(cast(v as double)) > 100)) = 0"))
      .select(col("vec_id"), expr(
        "transform(embedding, v -> cast(round(cast(v as double) * 1e6) as bigint))")
        .as("q6s"))

  /** One guarded q6 row — the query-side lookup: the vec_id filter runs
    * BEFORE the guard transform and nothing is checkpointed, so reading
    * one query row never materializes the corpus (unlike [[q6Guarded]],
    * whose checkpoint is the point). Same guard chain incl. the
    * [[IndexDims]] width check. */
  private def q6Row(embeddings: DataFrame, vecId: Long): DataFrame =
    embeddings
      .filter(col("vec_id") === vecId)
      .filter(size(col("embedding")) === IndexDims)
      .filter(expr(
        "size(filter(embedding, v -> v is null or isnan(cast(v as double)) " +
          "or abs(cast(v as double)) > 100)) = 0"))
      .select(col("vec_id"), expr(
        "transform(embedding, v -> cast(round(cast(v as double) * 1e6) as bigint))")
        .as("q6s"))

  /** §2-79 `q_kmeans`: Lloyd's k-means over the embedding corpus — the
    * IVF LIST-TRAINING step [[annIvf]]/[[annIvfQ8]] presuppose: they
    * search `label` lists, and this operator is what turns `label` from
    * "whatever partition the data arrived with" into LEARNED cells
    * (assign each vector to its nearest of k trained centroids). Output
    * is the assignment (vec_id, list_id, dist) — the list layout a real
    * IVF build writes label-partitioned ([[graft.sources.Sinks]]) and
    * then searches.
    *
    * Every arithmetic step is exact-integer so the whole trajectory —
    * seeds, every intermediate centroid, every argmin — is
    * bit-reproducible in DuckDB (the oracle unrolls the iterations as
    * CTEs):
    *   - vectors quantize to q6 = round(v×10⁶) int64 micro-units (the
    *     repo-wide 6-dp convention);
    *   - seeds are the k vectors first in md5(vec_id) order (the
    *     deterministic hash-draw q_sample/q_split use) — rerun-stable,
    *     no RNG state, list_id = draw rank;
    *   - assignment is argmin of the exact int64 squared distance
    *     Σ(q6ᵢ−cᵢ)², ties to the smaller list_id;
    *   - the centroid update is the member mean rounded back to integer
    *     micro-units via the signed (2a+b) div (2b) half-away-from-zero
    *     identity ([[quantize]]'s trick) — centroids never leave int64,
    *     so the NEXT round's argmin is exact too. A list that loses all
    *     members keeps its previous centroid (both engines).
    *
    * Scale shape (the standard broadcast Lloyd's): the k×d centroid
    * table collapses to ONE collect_list row broadcast to every task,
    * and each vector argmins LOCALLY (array_min over a codegen'd HOF
    * loop) — assignment is a pure map, zero shuffle, no groupBy. The
    * only shuffle per round is the (list, dim)-bounded centroid-update
    * agg (map-side partials; ≤ k·d rows move). `iters` fixed rounds =
    * `iters`+1 corpus scans, Lloyd's floor; the quantized stream is
    * lazily materialized so the scans re-read ~8 B/component
    * instead of re-quantizing (and AQE's no-subtree-dedup can't bite).
    *
    * Input contract: NULL/non-finite components drop the vector (the
    * family guard), and the magnitude bound here is |v| ≤ 100 — tighter
    * than quantize's 10⁶ because the ARGMIN must stay in int64:
    * |q6| ≤ 10⁸ ⇒ Σ₆₄(2·10⁸)² ≈ 2.6·10¹⁸ < 2⁶³. Unit-norm embedding
    * corpora sit orders of magnitude inside it.
    *
    * Every per-round materialization (and the guarded input stream)
    * goes through [[graft.Materialize]]: with a checkpoint directory set
    * on the context, a multi-hour 100 TB training survives executor loss
    * by re-reading reliable checkpoints. Identical results
    * (spec-asserted); the same holds for the whole family ([[pqEncode]],
    * [[pqSearch]], [[pqSearchIvf]]). */
  def kmeans(embeddings: DataFrame, k: Int = 10, iters: Int = 2): DataFrame =
    kmeansPieces(q6Guarded(embeddings), k, iters)._1
      .select(col("vec_id"), col("list_id"), col("dist"))
      .orderBy("vec_id")

  /** Shared k-means fit over a [[q6Guarded]] frame: (final assignment
    * incl. q6s, final centroids). Taking the guarded frame (not the raw
    * embeddings) lets [[pqSearchIvf]] share ONE materialization across
    * its coarse and product fits. */
  private def kmeansPieces(g: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    val seeds = g
      .select(expr("md5(cast(vec_id as string))").as("h"), col("vec_id"),
        col("q6s"))
      .orderBy("h", "vec_id")
      .limit(k)
    val c0 = seeds
      // unpartitioned window BY DESIGN: it runs over the limit(k) seed
      // frame — k rows (the list count, a constant), never the corpus —
      // so the SinglePartition stage Spark warns about is k-bounded
      .withColumn("list_id", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("h", "vec_id")) - 1)
        .cast("int"))
      .select(col("list_id"), col("q6s").as("c"))
    // (vec_id, q6s, list_id, dist): nearest-centroid assignment as a pure
    // map — `cents` (k rows) collapses to one broadcast row; the argmin
    // runs inside the row. collect_list order is plan-dependent but
    // array_min is order-insensitive.
    def assign(cents: DataFrame): DataFrame =
      g.crossJoin(broadcast(
          cents.agg(collect_list(struct(col("list_id"), col("c"))).as("cs"))))
        .select(col("vec_id"), col("q6s"), expr(
          "array_min(transform(cs, s -> named_struct(" +
            "'dist', aggregate(zip_with(q6s, s.c, (a, b) -> (a - b) * (a - b)), " +
            "cast(0 as bigint), (acc, x) -> acc + x), " +
            "'list_id', s.list_id)))").as("m"))
        .select(col("vec_id"), col("q6s"),
          col("m.list_id").as("list_id"), col("m.dist").as("dist"))
    val cT = (1 to iters).foldLeft(c0) { (c, _) =>
      val upd = assign(c)
        .select(col("list_id"), posexplode(col("q6s")).as(Seq("pos", "v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("cq", expr(
          "if(s >= 0, (2*s + n) div (2*n), -((2*(-s) + n) div (2*n)))"))
        .groupBy("list_id")
        .agg(expr("transform(sort_array(collect_list(struct(pos, cq))), x -> x.cq)")
          .as("cu"))
      // k-row frame: eager checkpoint cuts the per-round lineage (the
      // iterate-to-fixpoint lesson from connectedComponents) at the cost
      // of one tiny job per round
      Materialize(
        c.join(upd, Seq("list_id"), "left")
          .select(col("list_id"), coalesce(col("cu"), col("c")).as("c")),
        eager = true)
    }
    (assign(cT), cT)
  }

  /** §2-82 `q_pq`: PRODUCT quantization — the compression endgame of the
    * ANN family: the vector splits into `m` subspaces, each subspace
    * gets its own `k`-codeword codebook (per-subspace [[kmeans]], the
    * same integer-exact Lloyd's), and a vector encodes as `m` codes —
    * 64 float dims (256 B) become 8 one-byte codes: 32×, past
    * [[quantize]]'s 4× scalar shrink. [[pqSearch]] is the ADC search
    * path that reads ONLY codes + codebooks.
    *
    * Everything reuses the [[kmeans]] exactness machinery on the
    * (sub, code) key instead of (list_id): md5-order seed draw (the
    * same k seed VECTORS sliced per-subspace), int64 squared-distance
    * argmin per subspace, (2s+n) div (2n) rounded-integer centroid
    * updates, empty cells keep their previous codeword — the whole
    * trajectory is bit-reproducible and the DuckDB oracle unrolls the
    * round as CTEs keyed by (sub, code).
    *
    * Scale shape: the m per-subspace trainings run as ONE dataframe
    * computation — slices explode to (vec_id, sub, sq) rows (×m, but
    * each row carries dims/m components: total bytes unchanged), the
    * m×k codebook broadcasts grouped per sub (a BROADCAST hash join on
    * `sub`; the slice stream never shuffles for assignment), and the
    * only shuffle per round is the (sub, code, pos)-bounded update agg
    * (≤ m·k·dims/m = k·dims rows). Output is the oracle-friendly long
    * form (vec_id, sub, code, dist).
    *
    * Dims contract: subspace width is dims div m — when m does not
    * divide dims, the trailing dims mod m components are excluded from
    * every subspace on BOTH engines (identical slice arithmetic);
    * pick m | dims (the 64-dim default uses 8×8) to encode the full
    * vector. */
  def pqEncode(embeddings: DataFrame, m: Int = 8, k: Int = 16,
               iters: Int = 1): DataFrame =
    pqPieces(q6Guarded(embeddings), m, k, iters)._1
      .select(col("vec_id"), col("sub"), col("code"), col("dist"))
      .orderBy("vec_id", "sub")

  /** The trained (sub, code, c) codebook [[pqEncode]]'s codes refer to —
    * m·k rows of dims/m-component integer centroids; the artifact a real
    * index build persists next to the codes. */
  def pqCodebook(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                 iters: Int = 1): DataFrame =
    pqPieces(q6Guarded(embeddings), m, k, iters)._2

  /** §2-C `pqSearch`: asymmetric-distance (ADC) search over the PQ index
    * — the query stays UNquantized: its per-(sub, code) squared
    * distances to every codeword form an m×k lookup TABLE (broadcast;
    * 128 rows at the default geometry), and each candidate's distance
    * is the sum of m table lookups on its codes — the classic PQ search
    * identity: ADC(q, x) = Σ_s ‖q_s − c_{s, code_s(x)}‖², exactly the
    * distance from q to x's RECONSTRUCTION (spec-asserted as an
    * identity, plus a recall floor vs exact-L2 brute force). All int64:
    * the ranking is deterministic and engine-free. The search reads
    * codes + codebook only — the float corpus exists nowhere in the
    * plan (the 32×-smaller index is what scans at 100 TB, like
    * [[annIvfQ8]] proves for the scalar index). */
  def pqSearch(embeddings: DataFrame, queryId: Long = 0L, topK: Int = 10,
               m: Int = 8, k: Int = 16, iters: Int = 1): DataFrame = {
    val g = q6Guarded(embeddings)
    val (codes, cb) = pqPieces(g, m, k, iters)
    pqAdc(codes, cb, querySlices(g, queryId, m), queryId, topK)
  }
  // `q_pq_search` (§2-83) binds pqSearch under the oracle: the whole ADC
  // ranking — codebook fit, codes, distance table, int64 lookup sums —
  // is hash-checked end to end (the oracle extends q_pq's CTE chain).

  /** [[pqSearch]] over a PERSISTED index — the deployment shape: `codes`
    * (vec_id, sub, code) and `codebook` (sub, code, c) come off disk
    * (what [[pqEncode]]/[[pqCodebook]] wrote at build time; 4 B of codes
    * per vector), `query` supplies only the query row, and NOTHING is
    * re-trained per search — the annIvfQ8 precedent for the PQ family.
    * Spec: the parquet round-trip searches bit-identically to the
    * inline fit. */
  def pqSearchIndex(codes: DataFrame, codebook: DataFrame, query: DataFrame,
                    queryId: Long = 0L, topK: Int = 10, m: Int = 8): DataFrame =
    // q6Row filters to the query row BEFORE guarding and checkpoints
    // nothing — reading one query vector must not materialize a corpus
    pqAdc(codes, codebook, querySlices(q6Row(query, queryId), queryId, m),
      queryId, topK)

  /** The query's per-subspace q6 slices (sub, qsq) from a guarded frame. */
  private def querySlices(g: DataFrame, queryId: Long, m: Int): DataFrame =
    g.filter(col("vec_id") === queryId)
      .select(explode(expr(
        s"transform(sequence(0, $m - 1), s -> named_struct(" +
          s"'sub', cast(s as int), " +
          s"'qsq', slice(q6s, s * (size(q6s) div $m) + 1, size(q6s) div $m)))"))
        .as("x"))
      .select(col("x.sub").as("sub"), col("x.qsq").as("qsq"))

  /** The ADC tail every PQ search shape shares: build the m×k lookup
    * table from the query slices, rank candidates by int64 lookup sums. */
  private def pqAdc(codes: DataFrame, codebook: DataFrame, qsl: DataFrame,
                    queryId: Long, topK: Int): DataFrame = {
    val dtable = codebook.join(broadcast(qsl), "sub")
      .select(col("sub"), col("code"), expr(
        "aggregate(zip_with(qsq, c, (a, b) -> (a - b) * (a - b)), " +
          "cast(0 as bigint), (acc, v) -> acc + v)").as("d"))
    codes
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(dtable), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("d")).cast("long").as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(topK)
  }

  /** §2-C `pqSearchIvf`: the full IVF-PQ index — [[kmeans]]' coarse
    * quantizer composed with [[pqEncode]]'s product codes, the
    * FAISS-IndexIVFPQ shape re-expressed declaratively: the query ranks
    * the k coarse centroids by exact int64 distance, keeps the `nProbe`
    * nearest lists, and runs ADC over ONLY the probed lists' codes —
    * the search cost is (nProbe/nLists)·codes + (k + m·k) table work,
    * on an index 32× smaller than the floats. At 100 TB the list id is
    * the partition key of the persisted code table ([[annIvf]]'s
    * dynamic-pruning story applies unchanged), so a query physically
    * touches nProbe/nLists of a 32×-compressed index.
    *
    * Probing ALL lists is spec-pinned ≡ the flat [[pqSearch]] ranking
    * (the coarse layer changes what is PRUNED, never how candidates
    * score — the same invariant the kmeans→annIvf composition pins). */
  def pqSearchIvf(embeddings: DataFrame, queryId: Long = 0L, topK: Int = 10,
                  nProbe: Int = 2, nLists: Int = 10, m: Int = 8,
                  kCodes: Int = 16, iters: Int = 1): DataFrame = {
    // ONE guarded/checkpointed q6 frame threads through the PQ fit, the
    // coarse fit, and both query lookups — independent q6Guarded calls
    // here would quantize the corpus four times and pin four identical
    // checkpoint copies in the block manager
    val g = q6Guarded(embeddings)
    val (codes, cb) = pqPieces(g, m, kCodes, iters)
    val (assignment, cents) = kmeansPieces(g, nLists, 2)
    val q = g.filter(col("vec_id") === queryId)
      .select(col("q6s").as("qq"))
    val probed = cents
      .crossJoin(broadcast(q))
      .select(col("list_id"), expr(
        "aggregate(zip_with(qq, c, (a, b) -> (a - b) * (a - b)), " +
          "cast(0 as bigint), (acc, v) -> acc + v)").as("d"))
      .orderBy(col("d").asc, col("list_id").asc)
      .limit(nProbe)
      .select(col("list_id"))
    val candidates = assignment
      .join(broadcast(probed), "list_id")
      .select(col("vec_id"))
    pqAdc(codes.join(candidates, Seq("vec_id"), "left_semi"), cb,
      querySlices(g, queryId, m), queryId, topK)
  }

  /** The IVF-PQ index BUILD — the three artifacts a real deployment
    * writes ONCE and searches forever, from one shared guarded frame
    * (exactly [[pqSearchIvf]]'s internals, exposed as persistable
    * tables):
    *   - codes: (vec_id, sub, code, list_id) — the product codes WITH
    *     their coarse list assignment, so the table persists
    *     list-partitioned (`Sinks.writePartitionedBy(codes, path,
    *     "list_id")`) and a probe physically reads only the probed
    *     lists' directories (dynamicpruning PartitionFilters, asserted
    *     in SinksSpec);
    *   - codebook: (sub, code, c) — m·k integer codewords;
    *   - centroids: (list_id, c) — the k coarse-quantizer centroids the
    *     probe ranks against.
    * The coarse fit runs 2 Lloyd rounds, [[pqSearchIvf]]'s fixed
    * geometry, so the persisted index searches bit-identically to the
    * inline fit (spec-pinned). */
  def pqIvfIndex(embeddings: DataFrame, nLists: Int = 10, m: Int = 8,
                 kCodes: Int = 16, iters: Int = 1)
      : (DataFrame, DataFrame, DataFrame) = {
    val g = q6Guarded(embeddings)
    val (codes, cb) = pqPieces(g, m, kCodes, iters)
    val (assignment, cents) = kmeansPieces(g, nLists, 2)
    (codes.select(col("vec_id"), col("sub"), col("code"))
      .join(assignment.select(col("vec_id"), col("list_id")), "vec_id"),
      cb, cents)
  }

  /** [[pqSearchIvf]] over the PERSISTED index — the deployment shape the
    * whole PQ estate builds to: `codes`/`codebook`/`centroids` are
    * [[pqIvfIndex]]'s artifacts off disk (codes list_id-partitioned),
    * `query` supplies only the query row, and NOTHING re-trains per
    * search. The probe ranks the k persisted coarse centroids by exact
    * int64 distance (k-row frame — broadcast), keeps nProbe lists, and
    * joins the code table on `list_id`: over the partitioned layout that
    * join IS a dynamic-partition-prune — the scan's PartitionFilters
    * carries the dynamicpruning subquery and a query physically touches
    * nProbe/nLists of a 32×-compressed index (SinksSpec asserts both
    * the prune and bit-identity with the inline [[pqSearchIvf]]). */
  def pqSearchIvfIndex(codes: DataFrame, codebook: DataFrame,
                       centroids: DataFrame, query: DataFrame,
                       queryId: Long = 0L, topK: Int = 10, nProbe: Int = 2,
                       m: Int = 8): DataFrame = {
    val qg = q6Row(query, queryId)
    val probed = centroids
      .crossJoin(broadcast(qg.select(col("q6s").as("qq"))))
      .select(col("list_id"), expr(
        "aggregate(zip_with(qq, c, (a, b) -> (a - b) * (a - b)), " +
          "cast(0 as bigint), (acc, v) -> acc + v)").as("d"))
      .orderBy(col("d").asc, col("list_id").asc)
      .limit(nProbe)
      .select(col("list_id"))
    pqAdc(codes.join(broadcast(probed), "list_id"), codebook,
      querySlices(qg, queryId, m), queryId, topK)
  }

  /** The shared PQ fit over a [[q6Guarded]] frame: returns (final
    * assignment incl. `sq`, final codebook). One explode into
    * (vec_id, sub, sq) slices (lazily checkpointed — consumed per round
    * + finally), per-round broadcast assignment + (sub, code, pos)
    * update agg, [[kmeans]]' rounding. */
  private def pqPieces(g: DataFrame, m: Int, k: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    val sliceExpr = (src: String, out: String) =>
      s"transform(sequence(0, $m - 1), s -> named_struct(" +
        s"'sub', cast(s as int), " +
        s"'$out', slice($src, s * (size($src) div $m) + 1, size($src) div $m)))"
    val slices = Materialize(
      g.select(col("vec_id"), explode(expr(sliceExpr("q6s", "sq"))).as("x"))
        .select(col("vec_id"), col("x.sub").as("sub"), col("x.sq").as("sq")),
      eager = false)
    val seeds = g
      .select(expr("md5(cast(vec_id as string))").as("h"), col("vec_id"),
        col("q6s"))
      .orderBy("h", "vec_id")
      .limit(k)
      // k-bounded unpartitioned window — see kmeansPieces' seed numbering
      .withColumn("code", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("h", "vec_id")) - 1)
        .cast("int"))
    val cb0 = seeds
      .select(col("code"), explode(expr(sliceExpr("q6s", "c"))).as("x"))
      .select(col("x.sub").as("sub"), col("code"), col("x.c").as("c"))
    def assign(cb: DataFrame): DataFrame =
      slices.join(broadcast(
          cb.groupBy("sub")
            .agg(collect_list(struct(col("code"), col("c"))).as("cs"))), "sub")
        .select(col("vec_id"), col("sub"), col("sq"), expr(
          "array_min(transform(cs, x -> named_struct(" +
            "'dist', aggregate(zip_with(sq, x.c, (a, b) -> (a - b) * (a - b)), " +
            "cast(0 as bigint), (acc, v) -> acc + v), " +
            "'code', x.code)))").as("mi"))
        .select(col("vec_id"), col("sub"), col("sq"),
          col("mi.code").as("code"), col("mi.dist").as("dist"))
    val cbT = (1 to iters).foldLeft(cb0) { (cb, _) =>
      val upd = assign(cb)
        .select(col("sub"), col("code"), posexplode(col("sq")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .withColumn("cq", expr(
          "if(s >= 0, (2*s + n) div (2*n), -((2*(-s) + n) div (2*n)))"))
        .groupBy("sub", "code")
        .agg(expr("transform(sort_array(collect_list(struct(pos, cq))), x -> x.cq)")
          .as("cu"))
      Materialize(
        cb.join(upd, Seq("sub", "code"), "left")
          .select(col("sub"), col("code"), coalesce(col("cu"), col("c")).as("c")),
        eager = true)
    }
    (assign(cbT), cbT)
  }

  /** §2-70 `q_quantize`: per-vector symmetric int8 quantization — the
    * index-compression step of a product/scalar-quantized ANN index
    * (IVF-PQ's little sibling): each component becomes
    * qv = round(v / scale) with scale = max|v| / 127, so the widest
    * component maps to ±127 and reconstruction error is ≤ scale/2 per
    * component. 16× smaller than float32 at 100 TB — the difference
    * between an index that fits executor memory and one that doesn't.
    *
    * Fully row-level — ZERO shuffle: the per-vector scale is an
    * `array_max` over the row's own quantized components (no window, no
    * join-back), and the (vec_id, pos, qv, scale6) fan-out is one
    * posexplode. Cross-engine exactness by integer arithmetic end to
    * end: q6 = round(v×10⁶) (the repo-wide 6-dp convention), scale6 =
    * max|q6| (exact int64), and qv = half-away-from-zero(q6·127 /
    * scale6) via the integer identity (2a + b) div (2b) on non-negative
    * operands — no float division anywhere, so a 1-ulp quotient can
    * never flip a quantized value across engines. Zero vectors
    * (scale6 = 0) are excluded like every zero-norm guard here.
    * |2·q6·127| ≤ 2¹⁰·10⁷ — no overflow.
    *
    * Input contract (the same guard [[graft.plans.RpLsh]] applies): a
    * vector with a NULL, non-finite, or |v| > 1e6 component drops out —
    * Spark's non-ANSI cast(NaN as bigint) silently yields 0 while
    * DuckDB's CAST(NaN AS BIGINT) raises, so an unguarded poisoned row
    * would either corrupt the index or kill the oracle; and the
    * (2a+b) div (2b) identity's no-overflow argument needs
    * |q6| ≤ 10¹². Filtered identically on BOTH engines (the oracle's
    * list_filter keeps v IS NULL as an explicit disjunct — NOT
    * isfinite(NULL) is NULL and would be silently dropped). */
  def quantize(embeddings: DataFrame): DataFrame =
    quantizedBase(embeddings)
      .select(col("vec_id"), col("scale6"),
        posexplode(col("q6s")).as(Seq("pos", "q6")))
      .select(col("vec_id"), col("pos"),
        expr(s"cast($QvExpr as int)").as("qv"),
        col("scale6"))
      .orderBy("vec_id", "pos")

  /** The (vec_id, label, q6s, scale6) stream both quantized shapes share:
    * finiteness/magnitude-guarded input, 10⁶-quantized components, exact
    * int64 per-vector scale. */
  private def quantizedBase(embeddings: DataFrame): DataFrame =
    embeddings
      .filter(expr(
        "size(filter(embedding, v -> v is null or isnan(cast(v as double)) " +
          "or abs(cast(v as double)) > 1e6)) = 0"))
      .select(col("vec_id"), col("label"), expr(
        "transform(embedding, v -> cast(round(cast(v as double) * 1e6) as bigint))")
        .as("q6s"))
      .withColumn("scale6", expr("array_max(transform(q6s, x -> abs(x)))"))
      .filter(col("scale6") > 0)

  /** The per-component int8 value as a SQL fragment over (`q6`, `scale6`)
    * — the (2a+b) div (2b) half-away-from-zero identity [[quantize]]'s
    * scaladoc derives; shared verbatim by the exploded and packed
    * shapes so they can never drift. */
  private val QvExpr =
    "if(q6 >= 0, (2*q6*127 + scale6) div (2*scale6), " +
      "-((2*(-q6)*127 + scale6) div (2*scale6)))"

  /** The PACKED int8 index — [[quantize]]'s values as one
    * (vec_id, label, qvs array<tinyint>, scale6, ss) row per vector:
    * the at-rest ANN index layout ([[quantize]]'s exploded shape is the
    * oracle-friendly long form of the same numbers; `QvExpr` is shared
    * so they cannot drift). `qvs` elements are TINYINT — genuinely
    * 1 byte per component, the 4×-vs-int32 / 16×-ish-vs-float32 shrink
    * the quantize docstring promises, which at 100 TB is an index that
    * fits executor memory. `ss` = Σ qv² (exact int64, ≤ 64·127²) is the
    * vector's quantized self-dot, precomputed once at index-build time
    * so searches never re-scan for norms.
    *
    * Zero shuffle end to end — a pure map over the embedding scan; a
    * real pipeline writes this frame label-partitioned
    * (`Sinks.writePartitionedByLabel`) and [[annIvfQ8]] searches THAT,
    * never the float column. */
  def quantizedVectors(embeddings: DataFrame): DataFrame =
    quantizedBase(embeddings)
      .select(col("vec_id"), col("label"),
        expr(s"transform(q6s, q6 -> cast($QvExpr as tinyint))").as("qvs"),
        col("scale6"))
      .withColumn("ss", expr(
        "aggregate(qvs, cast(0 as bigint), " +
          "(acc, x) -> acc + cast(x as bigint) * cast(x as bigint))"))

  /** §2-72 `q_ann_ivf_q8`: IVF ANN over the int8 index — the search path
    * that PROVES the quantized index is searchable: every stage reads
    * [[quantizedVectors]]' (vec_id, label, qvs, scale6, ss) columns; the
    * float embedding column does not exist past the index build (a real
    * deployment searches the persisted index without the float corpus
    * even mounted).
    *
    * The key fact making this BOTH cheap and oracle-exact: the
    * per-vector scale CANCELS in cosine — cos(â, b̂) over dequantized
    * vectors â_i = qa_i·s_a is Σ qa_i·qb_i / (√Σqa²·√Σqb²), pure int8
    * arithmetic (dq ≤ 64·127² < 2²⁰ — exact int64, order-free), with
    * the two precomputed `ss` norms; the score is then one exactly-
    * rounded IEEE divide of exact integers — bit-identical in DuckDB
    * with NO round() anywhere. The probe stage ranks lists by cosine
    * of the query against the DEQUANTIZED list centroid: s_i =
    * Σ_vec qv_i·scale6 (the scale must ride here — vectors are scaled
    * differently), summed as exact DECIMAL like [[annIvf]], and the
    * same c_key = Σs·qq/√Σs² construction (query scale cancels in the
    * ranking). Distribution mirrors [[annIvf]]: dim-level partial aggs,
    * nProbe-row broadcasts, label as the partition/prune key — probes
    * touch nProbe/nLists of an index already 4×+ smaller.
    *
    * No-overflow contract (the probe stage's s·s products live in
    * DECIMAL(38,0); Spark's non-ANSI decimal overflow silently yields
    * NULL — a dropped term and a WRONG probe ranking — while DuckDB's
    * HUGEINT raises): |s| ≤ n_list·127·scale6_max per (list, dim), so
    * s² stays inside 38 digits iff n_list·127·scale6_max < 10¹⁹. A
    * unit-norm-ish corpus (scale6 ≤ 10⁶) holds to ~7.8·10¹⁰ vectors PER
    * LIST — orders past any real list; only a corpus exercising
    * [[quantizedVectors]]' full |v| ≤ 10⁶ input bound (scale6 ~ 10¹²)
    * must keep lists under ~7.8·10⁴ or pre-filter magnitudes to
    * [[q6Guarded]]'s |v| ≤ 100 before indexing. */
  def annIvfQ8(index: DataFrame, queryId: Long = 0L, k: Int = 5,
               nProbe: Int = 2): DataFrame = {
    val dec = "decimal(38,0)"
    // the index frame feeds THREE subtrees (centroid sums, the query
    // row, the candidate fetch) and AQE does not dedupe identical
    // subtrees — when the caller passes a derived frame (the bench glue
    // quantizes floats inline; a real pipeline passes a parquet scan),
    // the whole quantization chain would run three times. One lazy
    // materialization stores it once (~1 byte/component — this is
    // the SMALL index); measured ~6 → 1.0-2.2 s at sf0.1.
    val idx = Materialize(index, eager = false)
    val listSums = idx
      .select(col("label"), col("scale6"),
        posexplode(col("qvs")).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("qv").cast(dec) * col("scale6").cast(dec)).as("s"))
    val q = idx.filter(col("vec_id") === queryId)
      .select(col("qvs").as("q_qvs"), col("ss").as("q_ss"))
    val qq = q.select(posexplode(col("q_qvs")).as(Seq("pos", "qv")))
      .select(col("pos"), col("qv").cast(dec).as("qq"))
    val probed = listSums
      .join(broadcast(qq), "pos")
      .groupBy(col("label"))
      .agg(sum(col("s") * col("qq")).as("dq"), sum(col("s") * col("s")).as("ss"))
      .filter(col("ss") > 0)
      .select(col("label"),
        (col("dq").cast("double") / sqrt(col("ss").cast("double"))).as("c_key"))
      .orderBy(col("c_key").desc, col("label").asc)
      .limit(nProbe)
      .select(col("label"))
    idx
      .join(broadcast(probed), "label")
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"),
        (expr("aggregate(zip_with(qvs, q_qvs, (x, y) -> " +
          "cast(x as bigint) * cast(y as bigint)), cast(0 as bigint), " +
          "(acc, v) -> acc + v)").cast("double") /
          (sqrt(col("ss").cast("double")) * sqrt(col("q_ss").cast("double"))))
          .as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** §2-C `annIvfQ8Multi`: [[annIvfQ8]] for a QUERY TABLE — the SERVING
    * batch shape (the ANN analogue of [[CorpusOps.bm25Multi]]): a frame
    * of (q_id, embedding) request vectors all search the persisted int8
    * index in ONE plan. Queries are EXTERNAL — raw vectors, not index
    * ids: they quantize through the very same [[quantizedVectors]]
    * chain the index was built with (zero drift — a query equal to an
    * indexed vector produces its exact index-row qvs, spec-pinned
    * against single-query [[annIvfQ8]]), so the scale-cancelling int8
    * cosine applies unchanged.
    *
    * Plan shape: the per-(list, dim) centroid sums compute ONCE across
    * all queries (the expensive pass — amortized over the batch, the
    * bm25Multi story); the query-side band of (q_id, pos) rows
    * broadcasts into the probe agg, the probed (q_id, label) map
    * broadcasts into the candidate fetch (each query fans out only to
    * ITS probed lists' rows), and both per-query rankings are
    * row_number windows over post-agg frames bounded by queries×lists
    * and queries×candidates — never the corpus. At 100 TB the label
    * partition key prunes exactly as in [[annIvfQ8]]; a request batch
    * of q queries reads the UNION of their probed lists once.
    *
    * This is the batch half of the streaming serving twin
    * ([[graft.streaming.EventStream.annSearchStream]] runs it per
    * micro-batch via foreachBatch — each trigger's requests are a
    * bounded frame, so the per-query ranking is legal there too). */
  def annIvfQ8Multi(index: DataFrame, queries: DataFrame, k: Int = 5,
                    nProbe: Int = 2): DataFrame = {
    val dec = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window
    val idx = Materialize(index, eager = false)
    val listSums = idx
      .select(col("label"), col("scale6"),
        posexplode(col("qvs")).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("qv").cast(dec) * col("scale6").cast(dec)).as("s"))
    // external queries quantize through the index's own build chain
    val q = quantizedVectors(queries.select(col("q_id").as("vec_id"),
        lit(0).as("label"), col("embedding")))
      .select(col("vec_id").as("q_id"), col("qvs").as("q_qvs"),
        col("ss").as("q_ss"))
    val qq = q.select(col("q_id"), posexplode(col("q_qvs")).as(Seq("pos", "qv")))
      .select(col("q_id"), col("pos"), col("qv").cast(dec).as("qq"))
    val probed = listSums
      .join(broadcast(qq), "pos")
      .groupBy(col("q_id"), col("label"))
      .agg(sum(col("s") * col("qq")).as("dq"), sum(col("s") * col("s")).as("ss"))
      .filter(col("ss") > 0)
      .select(col("q_id"), col("label"),
        (col("dq").cast("double") / sqrt(col("ss").cast("double"))).as("c_key"))
      .withColumn("prn", row_number().over(w.partitionBy("q_id")
        .orderBy(col("c_key").desc, col("label").asc)))
      .filter(col("prn") <= nProbe)
      .select(col("q_id"), col("label"))
    idx
      .join(broadcast(probed), "label")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"), col("label"),
        (expr("aggregate(zip_with(qvs, q_qvs, (x, y) -> " +
          "cast(x as bigint) * cast(y as bigint)), cast(0 as bigint), " +
          "(acc, v) -> acc + v)").cast("double") /
          (sqrt(col("ss").cast("double")) * sqrt(col("q_ss").cast("double"))))
          .as("score"))
      .withColumn("rank", row_number().over(w.partitionBy("q_id")
        .orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        col("score"))
      .orderBy("q_id", "rank")
  }

  /** The q_pq training CTE chain (guard → slices → seeds → one Lloyd
    * round → final per-(vec, sub) assignment `af`) — shared by the
    * q_pq and q_pq_search oracles so the encode and search sides can
    * never drift. */
  private val pqCtePrefix: String =
    """WITH g AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS q6s
      |  FROM embeddings
      |  WHERE len(embedding) = 64
      |    AND len(list_filter(embedding,
      |        v -> v IS NULL OR NOT isfinite(CAST(v AS DOUBLE))
      |             OR abs(CAST(v AS DOUBLE)) > 100)) = 0
      |), subs AS (
      |  SELECT CAST(unnest(generate_series(0, 7)) AS INTEGER) AS sub
      |), sl AS (
      |  SELECT vec_id, sub,
      |    list_slice(q6s, sub * (len(q6s) // 8) + 1,
      |               (sub + 1) * (len(q6s) // 8)) AS sq
      |  FROM g CROSS JOIN subs
      |), seeds AS (
      |  SELECT CAST(rn - 1 AS INTEGER) AS code, q6s
      |  FROM (SELECT q6s, row_number() OVER
      |          (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM g)
      |  WHERE rn <= 16
      |), cb0 AS (
      |  SELECT sub, code,
      |    list_slice(q6s, sub * (len(q6s) // 8) + 1,
      |               (sub + 1) * (len(q6s) // 8)) AS c
      |  FROM seeds CROSS JOIN subs
      |), d0 AS (
      |  SELECT sl.vec_id, sl.sub, sl.sq, cb0.code,
      |    CAST(list_sum(list_transform(list_zip(sl.sq, cb0.c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      |  FROM sl JOIN cb0 USING (sub)
      |), a0 AS (
      |  SELECT vec_id, sub, sq, code FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn FROM d0)
      |  WHERE rn = 1
      |), s1 AS (
      |  SELECT sub, code, CAST(i - 1 AS INTEGER) AS pos,
      |    SUM(sq[i]) AS s, COUNT(*) AS n
      |  FROM (SELECT sub, code, sq,
      |        unnest(generate_series(1, len(sq))) AS i FROM a0)
      |  GROUP BY sub, code, i
      |), u1 AS (
      |  SELECT sub, code, list(CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
      |                         ELSE -((2*(-s) + n) // (2*n)) END ORDER BY pos) AS c
      |  FROM s1 GROUP BY sub, code
      |), cb1 AS (
      |  SELECT sub, code, COALESCE(u1.c, cb0.c) AS c
      |  FROM cb0 LEFT JOIN u1 USING (sub, code)
      |), df AS (
      |  SELECT sl.vec_id, sl.sub, cb1.code,
      |    CAST(list_sum(list_transform(list_zip(sl.sq, cb1.c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      |  FROM sl JOIN cb1 USING (sub)
      |), af AS (
      |  SELECT vec_id, sub, code, dist FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn FROM df)
      |  WHERE rn = 1
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_pq" ->
      s"""$pqCtePrefix
         |SELECT vec_id, sub, code, dist FROM af
         |ORDER BY vec_id, sub""".stripMargin,
    "q_pq_search" ->
      s"""$pqCtePrefix,
         |qsl AS (
         |  SELECT sub,
         |    list_slice(q6s, sub * (len(q6s) // 8) + 1,
         |               (sub + 1) * (len(q6s) // 8)) AS qsq
         |  FROM (SELECT q6s FROM g WHERE vec_id = 0) CROSS JOIN subs
         |), dt AS (
         |  -- the ADC lookup table: query-slice-to-codeword distances
         |  SELECT cb1.sub, cb1.code,
         |    CAST(list_sum(list_transform(list_zip(qsl.qsq, cb1.c),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
         |  FROM cb1 JOIN qsl USING (sub)
         |)
         |SELECT vec_id, CAST(SUM(d) AS BIGINT) AS adc_dist
         |FROM af JOIN dt USING (sub, code)
         |WHERE vec_id <> 0
         |GROUP BY vec_id
         |ORDER BY adc_dist ASC, vec_id ASC
         |LIMIT 10""".stripMargin,
    "q_kmeans" ->
      """WITH g AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS q6s
        |  FROM embeddings
        |  WHERE len(embedding) = 64
        |    AND len(list_filter(embedding,
        |        v -> v IS NULL OR NOT isfinite(CAST(v AS DOUBLE))
        |             OR abs(CAST(v AS DOUBLE)) > 100)) = 0
        |), c0 AS (
        |  SELECT CAST(rn - 1 AS INTEGER) AS list_id, q6s AS c
        |  FROM (SELECT q6s, row_number() OVER
        |          (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM g)
        |  WHERE rn <= 10
        |), d0 AS (
        |  SELECT g.vec_id, g.q6s, c.list_id,
        |    CAST(list_sum(list_transform(list_zip(g.q6s, c.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |  FROM g CROSS JOIN c0 c
        |), a0 AS (
        |  SELECT vec_id, q6s, list_id, dist FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY dist, list_id) AS rn FROM d0)
        |  WHERE rn = 1
        |), s1 AS (
        |  SELECT list_id, CAST(i - 1 AS INTEGER) AS pos,
        |    SUM(q6s[i]) AS s, COUNT(*) AS n
        |  FROM (SELECT list_id, q6s,
        |        unnest(generate_series(1, len(q6s))) AS i FROM a0)
        |  GROUP BY list_id, i
        |), u1 AS (
        |  -- the signed (2a+b)//(2b) half-away-from-zero rounded mean
        |  SELECT list_id, list(CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
        |                       ELSE -((2*(-s) + n) // (2*n)) END ORDER BY pos) AS c
        |  FROM s1 GROUP BY list_id
        |), c1 AS (
        |  SELECT list_id, COALESCE(u1.c, c0.c) AS c
        |  FROM c0 LEFT JOIN u1 USING (list_id)
        |), d1 AS (
        |  SELECT g.vec_id, g.q6s, c.list_id,
        |    CAST(list_sum(list_transform(list_zip(g.q6s, c.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |  FROM g CROSS JOIN c1 c
        |), a1 AS (
        |  SELECT vec_id, q6s, list_id, dist FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY dist, list_id) AS rn FROM d1)
        |  WHERE rn = 1
        |), s2 AS (
        |  SELECT list_id, CAST(i - 1 AS INTEGER) AS pos,
        |    SUM(q6s[i]) AS s, COUNT(*) AS n
        |  FROM (SELECT list_id, q6s,
        |        unnest(generate_series(1, len(q6s))) AS i FROM a1)
        |  GROUP BY list_id, i
        |), u2 AS (
        |  SELECT list_id, list(CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
        |                       ELSE -((2*(-s) + n) // (2*n)) END ORDER BY pos) AS c
        |  FROM s2 GROUP BY list_id
        |), c2 AS (
        |  SELECT list_id, COALESCE(u2.c, c1.c) AS c
        |  FROM c1 LEFT JOIN u2 USING (list_id)
        |), df AS (
        |  SELECT g.vec_id, c.list_id,
        |    CAST(list_sum(list_transform(list_zip(g.q6s, c.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        |  FROM g CROSS JOIN c2 c
        |)
        |SELECT vec_id, list_id, dist FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY dist, list_id) AS rn FROM df)
        |WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "q_ann_ivf_q8" ->
      """WITH base AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS q6s
        |  FROM embeddings
        |  WHERE len(list_filter(embedding,
        |          v -> v IS NULL OR NOT isfinite(CAST(v AS DOUBLE))
        |               OR abs(CAST(v AS DOUBLE)) > 1e6)) = 0
        |), scaled AS (
        |  SELECT vec_id, label, q6s,
        |    list_max(list_transform(q6s, x -> abs(x))) AS scale6
        |  FROM base
        |), qz AS (
        |  -- the same (2a+b)//(2b) int8 values q_quantize pins
        |  SELECT vec_id, label, scale6,
        |    list_transform(q6s, q6 ->
        |      CASE WHEN q6 >= 0 THEN (2*q6*127 + scale6) // (2*scale6)
        |           ELSE -((2*(-q6)*127 + scale6) // (2*scale6)) END) AS qvs
        |  FROM scaled WHERE scale6 > 0
        |), wss AS (
        |  SELECT vec_id, label, scale6, qvs,
        |    CAST(list_sum(list_transform(qvs,
        |      x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS ss
        |  FROM qz
        |), idx AS (
        |  SELECT label, scale6, qvs,
        |    unnest(generate_series(1, len(qvs))) AS i
        |  FROM qz
        |), sums AS (
        |  -- dequantized list centroid: the per-vector scale rides here
        |  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        |    CAST(SUM(CAST(qvs[i] AS HUGEINT) * scale6) AS HUGEINT) AS s
        |  FROM idx GROUP BY label, i
        |), q AS (
        |  SELECT qvs AS q_qvs, ss AS q_ss FROM wss WHERE vec_id = 0
        |), qq AS (
        |  SELECT CAST(i - 1 AS INTEGER) AS pos, CAST(q_qvs[i] AS HUGEINT) AS qq
        |  FROM (SELECT q_qvs, unnest(generate_series(1, len(q_qvs))) AS i FROM q)
        |), probe AS (
        |  SELECT label,
        |    CAST(SUM(s * qq) AS DOUBLE) / sqrt(CAST(SUM(s * s) AS DOUBLE)) AS c_key
        |  FROM sums JOIN qq USING (pos)
        |  GROUP BY label
        |  HAVING SUM(s * s) > 0
        |  ORDER BY c_key DESC, label ASC
        |  LIMIT 2
        |)
        |SELECT e.vec_id, e.label,
        |  CAST(list_sum(list_transform(list_zip(e.qvs, q.q_qvs),
        |    p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS DOUBLE)
        |    / (sqrt(CAST(e.ss AS DOUBLE)) * sqrt(CAST(q.q_ss AS DOUBLE))) AS score
        |FROM wss e JOIN probe USING (label) CROSS JOIN q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, vec_id ASC
        |LIMIT 5""".stripMargin,
    "q_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS q6s
        |  FROM embeddings
        |  -- the RpLsh input guard, mirrored (see DedupOps' rp oracle):
        |  -- v IS NULL must be an explicit disjunct or list_filter drops it
        |  WHERE len(list_filter(embedding,
        |          v -> v IS NULL OR NOT isfinite(CAST(v AS DOUBLE))
        |               OR abs(CAST(v AS DOUBLE)) > 1e6)) = 0
        |), s AS (
        |  SELECT vec_id, q6s,
        |    list_max(list_transform(q6s, x -> abs(x))) AS scale6
        |  FROM q
        |), e AS (
        |  SELECT vec_id, scale6, CAST(i - 1 AS INTEGER) AS pos, q6s[i] AS q6
        |  FROM (SELECT vec_id, scale6, q6s,
        |        unnest(generate_series(1, len(q6s))) AS i FROM s)
        |  WHERE scale6 > 0
        |)
        |SELECT vec_id, pos,
        |  CAST(CASE WHEN q6 >= 0 THEN (2*q6*127 + scale6) // (2*scale6)
        |       ELSE -((2*(-q6)*127 + scale6) // (2*scale6)) END AS INT) AS qv,
        |  scale6
        |FROM e
        |ORDER BY vec_id, pos""".stripMargin,
    "q_centroid" ->
      """WITH idx AS (
        |  SELECT label, embedding,
        |    unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings
        |), sums AS (
        |  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        |    CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT))
        |      AS BIGINT) AS sum_q6,
        |    COUNT(*) AS n
        |  FROM idx
        |  GROUP BY label, i
        |)
        |SELECT label, pos, sum_q6, n,
        |  sum_q6 / 1e6 / n AS mean_val
        |FROM sums
        |ORDER BY label, pos""".stripMargin,
    // §2-108: the SAME graph contract over the RP-band candidate universe
    // — the oracle derives the identical band keys (DedupOps.rpBkCteSql is
    // the proven exact transcription), so both engines rank the identical
    // candidate set: the SCALE path is cross-engine verified, not just
    // recall-spec'd.
    "q_knn_graph_rp" ->
      s"""WITH ${DedupOps.rpBkCteSql}, pairs AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         |    ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} AS score
         |  FROM bk a JOIN bk b
         |    ON a.vec_id <> b.vec_id AND (${DedupOps.rpAnyBandSql})
         |  -- zero-norm vectors are outside the graph universe on BOTH
         |  -- engines (the Spark side filters src_nrm/nbr_nrm > 0)
         |  WHERE ${VectorFuns.sql.l2norm("a.embedding")} > 0
         |    AND ${VectorFuns.sql.l2norm("b.embedding")} > 0
         |), ranked AS (
         |  SELECT src_id, nbr_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY src_id
         |      ORDER BY score DESC, nbr_id ASC) AS nbr_rank
         |  FROM pairs
         |)
         |SELECT r.src_id, CAST(r.nbr_rank AS INTEGER) AS nbr_rank, r.nbr_id,
         |  e.label AS nbr_label, r.score
         |FROM ranked r JOIN embeddings e ON e.vec_id = r.nbr_id
         |WHERE r.nbr_rank <= 5
         |ORDER BY src_id, nbr_rank""".stripMargin,
    "q_knn_graph" ->
      s"""WITH n AS (
         |  SELECT vec_id, label, embedding,
         |    ${VectorFuns.sql.l2norm("embedding")} AS nrm
         |  FROM embeddings
         |), pairs AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id, b.label AS nbr_label,
         |    ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} AS score
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
         |  WHERE a.nrm > 0 AND b.nrm > 0
         |), ranked AS (
         |  SELECT src_id, nbr_id, nbr_label, score,
         |    ROW_NUMBER() OVER (PARTITION BY src_id
         |      ORDER BY score DESC, nbr_id ASC) AS nbr_rank
         |  FROM pairs
         |)
         |SELECT src_id, CAST(nbr_rank AS INTEGER) AS nbr_rank, nbr_id, nbr_label, score
         |FROM ranked WHERE nbr_rank <= 5
         |ORDER BY src_id, nbr_rank""".stripMargin,
    "q_ann_topk" ->
      s"""SELECT e.vec_id, e.label,
         |  ${VectorFuns.sql.cosine6("e.embedding", "q.embedding")} AS score
         |FROM embeddings e
         |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 10""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH idx AS (
         |  SELECT label, embedding,
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings
         |), sums AS (
         |  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
         |    CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT))
         |      AS HUGEINT) AS s
         |  FROM idx
         |  GROUP BY label, i
         |), q AS (
         |  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
         |), qq AS (
         |  SELECT CAST(i - 1 AS INTEGER) AS pos,
         |    CAST(round(CAST(q_emb[i] AS DOUBLE) * 1e6) AS HUGEINT) AS qq
         |  FROM (SELECT q_emb, unnest(generate_series(1, len(q_emb))) AS i FROM q)
         |), probe AS (
         |  SELECT label,
         |    CAST(SUM(s * qq) AS DOUBLE) / sqrt(CAST(SUM(s * s) AS DOUBLE)) AS c_key
         |  FROM sums JOIN qq USING (pos)
         |  GROUP BY label
         |  HAVING SUM(s * s) > 0
         |  ORDER BY c_key DESC, label ASC
         |  LIMIT 2
         |)
         |SELECT e.vec_id, e.label,
         |  ${VectorFuns.sql.cosine6("e.embedding", "q.q_emb")} AS score
         |FROM embeddings e
         |JOIN probe USING (label)
         |CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 5""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding,
         |    ${VectorFuns.sql.signBucket("embedding")} AS bucket
         |  FROM embeddings
         |), q AS (SELECT embedding, bucket FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, b.label, b.bucket,
         |  ${VectorFuns.sql.cosine6("b.embedding", "q.embedding")} AS score
         |FROM b JOIN q ON b.bucket = q.bucket
         |WHERE b.vec_id <> 0
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 5""".stripMargin
  )
}
