package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.Materialize
import graft.functions.{TextFuns, VectorFuns}

/** Deduplication family (SURVEY.md §2-B rows 24-28) — the core of a
  * training-data pipeline at 100 TB. Design rule: NEVER materialize n²
  * pairs. Exact dedup is a hash groupBy; MinHash/n-gram near-dup go through
  * inverted-index / band joins whose candidate sets are bounded by actual
  * collisions; embedding near-dup only compares inside blocks.
  */
object DedupOps {

  /** Spread the corpus across all cores before a compute-heavy map —
    * now the shared conditional [[graft.sources.Tables.spread]] (round
    * 20): fires ONLY when the source arrives in fewer splits than cores
    * (single-row-group files locally; parquet can't split inside a row
    * group), so a 100 TB scan no longer pays the unconditional shuffle
    * this used to issue, and the repartition key is the deterministic
    * doc_id hash instead of round-robin (no sort-before-repartition,
    * retry-safe — guide §2.5 / SPARK-38388). */
  private def spread(documents: DataFrame): DataFrame =
    graft.sources.Tables.spread(documents)

  /** §2-104 `q_dedup_lines`: SEGMENT-level exact dedup with per-document
    * accounting — the C4/CCNet "remove duplicate lines across the corpus,
    * keep the first occurrence" pass, at a granularity finer than whole-doc
    * dedup and cheaper than substring dedup. The synthetic corpus has no
    * newlines, so a "line" is a fixed 10-token window (deterministic
    * segmentation; on real data the splitter would be `\n`) — the
    * accounting semantics are identical.
    *
    * First occurrence = lowest (doc_id, seg_pos) among all copies of a
    * segment. Shape: segmentation is ROW-LEVEL (sequence→slice→join, no
    * shuffle), then ONE shuffle partitioned by the segment's md5 (32-byte
    * shuffle key — the segment text itself never shuffles as a key), a
    * rank-1 window inside each hash partition, and a per-doc re-agg. At
    * 100 TB this is two keyed shuffles, both with map-side partials on
    * bounded keys; no self-join, no sort. */
  /** The fixed-window segmentation [[dedupLines]] and [[boilerplate]]
    * share — (doc_id, source, seg_pos, seg), row-level. */
  private def segmented(documents: DataFrame, segTokens: Int): DataFrame = {
    val toks = TextFuns.tokens(col("text"))
    val nSeg = greatest(ceil(size(toks) / lit(segTokens.toDouble)).cast("int"), lit(1))
    val segArr = transform(sequence(lit(0), nSeg - 1),
      i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " "))
    spread(documents) // tokenize+segment on every core (guide §2.5)
      .select(col("doc_id"), col("source"), posexplode(segArr).as(Seq("seg_pos", "seg")))
  }

  /** §2-118 `q_boilerplate`: segments recurring across MANY documents —
    * the C4/RefinedWeb "remove lines that appear in ≥ N pages" mining
    * pass (nav bars, cookie banners, license footers). [[dedupLines]]
    * answers per-document accounting; this surfaces the offending
    * segments themselves, with reach (distinct docs), total
    * occurrences, and the earliest carrier for triage.
    *
    * ONE md5(seg)-keyed shuffle (the 32-char digest is the partition
    * key — segment TEXT never rides an exchange, plan-audited); the
    * distinct-doc count is a partial-agg two-phase distinct on the same
    * key; the top-k selection ranks (n_docs desc, digest asc) — no text
    * needed to rank — and compiles to a heap. The text joins back for
    * the k SURVIVORS only: the k-row frame broadcasts against a second
    * row-level segmentation pass, so at 100 TB the price of readable
    * output is one extra scan, never a corpus-sized text shuffle. */
  def boilerplate(documents: DataFrame, segTokens: Int = 10,
                  minDocs: Long = 2L, k: Int = 50): DataFrame = {
    val segs = segmented(documents, segTokens)
    val survivors = segs
      .select(md5(col("seg").cast("binary")).as("seg_hash"), col("doc_id"))
      .groupBy(col("seg_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("seg_hash").asc)
      .limit(k)
    segs
      .select(md5(col("seg").cast("binary")).as("seg_hash"), col("seg"))
      .join(broadcast(survivors), "seg_hash")
      .groupBy(col("seg_hash"), col("n_docs"), col("n_occurrences"),
        col("first_doc"))
      .agg(min(col("seg")).as("seg")) // all group members are one text
      .select(col("seg"), col("n_docs"), col("n_occurrences"), col("first_doc"))
      .orderBy(col("n_docs").desc, col("seg").asc)
  }

  def dedupLines(documents: DataFrame, segTokens: Int = 10): DataFrame = {
    val segs = segmented(documents, segTokens)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("seg").cast("binary")))
      .orderBy(col("doc_id"), col("seg_pos"))
    segs
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") === 1, length(col("seg"))).otherwise(lit(0)).cast("long"))
          .as("kept_chars"))
      .orderBy("doc_id")
  }

  /** §2-24 `q_dedup_exact`: exact dedup on the md5 of normalized text,
    * keeping the minimum doc_id as representative. ONE shuffle on a
    * 128-bit key; at 100 TB this is the cheapest possible full-corpus
    * dedup (no sort, partial agg does the heavy lifting map-side). */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(TextFuns.norm(col("text")).cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("rep_doc_id")

  /** Character class stripped by [[canonicalize]] (everything outside
    * lowercase alphanumerics and basic whitespace) and the whitespace-run
    * class collapsed to one space. Both are in the Java ≡ RE2 regex
    * subset (the q_redact discipline) and the PATTERN STRINGS are shared
    * verbatim with the DuckDB oracle — neither engine's regex dialect
    * can drift independently. */
  val CanonStripRe = "[^a-z0-9 \\t\\n]"
  val CanonWsRe = "[ \\t\\n]+"

  /** Canonical text form: lowercase → strip punctuation/symbols →
    * collapse whitespace runs → trim. Row-level codegen'd expressions
    * only — the canon pass adds zero shuffles on top of [[dedupExact]]'s
    * one. (ASCII corpus; for full Unicode the lower() step would need a
    * locale contract between engines.) */
  def canonicalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), CanonStripRe, ""), CanonWsRe, " "))

  /** §2-91 `q_dedup_canonical`: exact dedup AFTER canonicalization — the
    * normalization layer real pipelines put in front of hash dedup so
    * that case/punctuation/whitespace variants of the same document
    * collapse (trafilatura-style boilerplate noise, doubled spaces,
    * trailing punctuation). Keeps the minimum doc_id; reports how many
    * docs collapsed and how many DISTINCT raw forms they spanned
    * (n_variants > 1 is the measure of what plain [[dedupExact]] would
    * have missed). Same single-shuffle hash-groupBy shape as
    * [[dedupExact]]; the distinct-variant count is a per-group distinct
    * on the same shuffle key, not a second pass. */
  def dedupCanonical(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(canonicalize(col("text")).cast("binary")).as("canon_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_variants"))
      .orderBy("rep_doc_id")

  /** Default MinHash parameters: K hash slices in B bands of R = K/B rows.
    * With Jaccard-0.9 near-dups, P[detect] = 1-(1-0.9^R)^B ≈ 0.996 —
    * and the planted dups in the test corpus are ≈ 0.99 (P ≈ 0.9996).
    * These defaults are sized for THAT contract (and the DuckDB oracle
    * mirrors them); a production 0.8-threshold dedup wants a wider
    * signature — K=128/B=32 gives P[detect | J=0.8] ≈ 0.9999 vs ≈ 0.87
    * here — which is exactly what [[minhashPairs]]'s (k, bands) arguments
    * are for (recall spec'd at K=128/B=32 in PipelineOpsSpec). */
  val MinhashK = 4
  val Bands = 2 // of R = 2 rows each

  /** §2-25 `q_dedup_minhash`: MinHash signatures + LSH band join.
    *
    * The K-slice signature is computed ENTIRELY row-level in ONE pass by
    * the native `minhash_slices` expression (graft.plans.MinhashSlices:
    * md5 per char-8-gram, band minima tracked as primitive ints — the
    * HOF `transform`+`array_min` formulation allocates a 32-char hex
    * string per position and runs interpreted; bit-identical result,
    * asserted in TextHashExprSpec). No explode, no shuffle: at 100 TB
    * the signature pass is a pure map. Only the B band keys shuffle
    * (explode → self-join on (band, key)); candidate pairs are bounded
    * by real LSH collisions, never n². On a cluster the band key becomes
    * the shuffle key; AQE handles hot buckets. */
  def dedupMinhash(documents: DataFrame): DataFrame =
    minhashPairs(documents).orderBy("doc_a", "doc_b")

  /** Production MinHash parameters: K=128 slices in B=32 bands of R=4 —
    * P[detect | J=0.8] = 1-(1-0.8⁴)³² ≈ 0.9999999, the config a real
    * 0.8-threshold dedup runs (recall gap vs the narrow fixture config
    * demonstrated in PipelineOpsSpec). */
  val MinhashKWide = 128
  val BandsWide = 32

  /** §2-64 `q_dedup_minhash_wide`: [[dedupMinhash]] at the PRODUCTION
    * config — same pure-map signature pass (32 salted md5 digests per
    * shingle, one native-expression map, no explode) and band join, but
    * cross-engine hash-verified at the config a real pipeline runs, not
    * just at the fixture contract. The oracle mirrors the salted hash
    * family literally (see [[minhashPairsSqlFor]]). */
  def dedupMinhashWide(documents: DataFrame): DataFrame =
    minhashPairs(documents, k = MinhashKWide, bands = BandsWide)
      .orderBy("doc_a", "doc_b")

  /** The unsorted MinHash candidate-pair set — [[dedupMinhash]] adds the
    * presentation sort; [[dedupClusters]] consumes this directly (sorting
    * an edge list that feeds a join would be a wasted range-partition
    * exchange). */
  def minhashPairs(documents: DataFrame, k: Int = MinhashK,
                   bands: Int = Bands): DataFrame = {
    // a self-join references the band frame twice, and AQE does NOT
    // dedupe the two identical subtrees (measured: the k salted digests
    // per shingle are computed twice). For wide signatures the lazy
    // materialization stores the (doc_id, band, key) stream once —
    // ~20 bytes/row × bands rows per doc, far cheaper to store than to
    // re-hash (k=128: 32 md5s per shingle, thousands of shingles per
    // doc). For narrow ones (the k=4 fixture config, one md5 per
    // shingle) recompute is cheaper than the block-cache round trip —
    // measured both ways at sf0.1.
    val bk = minhashBandKeys(documents, k, bands)
    val bandKeys = if (k >= 16) Materialize(bk, eager = false) else bk
    bandKeys.as("a")
      .join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The per-document LSH band keys — one (doc_id, band, key) row per
    * band, the blocking index both the full-corpus pair join
    * ([[minhashPairs]]) and the delta-vs-corpus incremental join
    * ([[dedupIncremental]]) probe. Public because it is ALSO the
    * persisted-index builder: a real pipeline writes this frame once,
    * bucketed by (band, key) (`Tables.writeBucketed(..., "band",
    * moreKeys = Seq("key"))`), and every future batch joins against it
    * exchange-free (BucketedJoinSpec asserts the plan). The signature
    * itself is ONE row-level native-expression map (no explode); only
    * the k-wide→bands-long reshape generates rows. */
  def minhashBandKeys(documents: DataFrame, k: Int,
                      bands: Int): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"k=$k must split evenly into bands=$bands (rows per band = k/bands)")
    // surface the slice limit at the operator boundary, not from inside
    // the hash expression (MinhashSlices draws ceil(k/4) salted digests)
    require(k >= 1 && k <= 256,
      s"k=$k out of range: 1..256 (4 slices per salted md5, 64 salts)")
    val r = k / bands
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val sig = spread(documents)
      .filter(length(TextFuns.norm(col("text"))) >= 8)
      .select(col("doc_id"),
        call_function("minhash_slices", TextFuns.norm(col("text")), lit(8),
          lit(k)).as("sig"))
      .select(col("doc_id") +: (0 until k).map(i =>
        col("sig").getItem(i).as(s"mh$i")): _*)
    sig.select(col("doc_id"), explode(array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        concat((0 until r).map(i => col(s"mh${r * b + i}")): _*).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Every deltaMod-th doc_id plays the "new batch"; the rest are the
    * standing corpus. A synthetic but SF-stable split — the testdata has
    * no ingest timestamp, and a modulus keeps the delta a fixed fraction
    * at every scale factor. */
  val IncrementalDeltaMod = 10

  /** §2-66 `q_dedup_incremental`: incremental (delta-vs-corpus) MinHash
    * dedup — the continuous-ingestion shape. A full-corpus re-dedup per
    * arriving batch is O(corpus²) work for O(delta) new information; here
    * the new batch's band keys probe the standing corpus's band index and
    * corpus×corpus pairs are never formed: candidates are (new, corpus)
    * band collisions only, exactly [[minhashPairs]]' universe restricted
    * to cross-set pairs (spec-asserted).
    *
    * Scale: the corpus side of the join is the WRITE-ONCE band index a
    * real pipeline persists bucketed by (band, key)
    * (`Tables.writeBucketed`) — amortized across every future batch, it
    * never reshuffles. The delta side is `broadcast()` by definition of
    * incremental (a daily batch is ≪ the standing corpus): the join is a
    * map-side probe of the corpus index, no corpus motion at all. A
    * backfill-scale delta should drop the hint and fall back to the
    * bucketed shuffle join. Here both sides derive from one table via
    * the modulus split; the plan shape (BroadcastHashJoin, corpus side
    * exchange-free past the index build) is what PlanAuditSpec pins.
    *
    * `broadcastDelta = false` is the backfill path: a delta that is NOT
    * ≪ the corpus (a history re-ingest, a merged sibling corpus) cannot
    * be broadcast — 1/deltaMod of a 100 TB band-key stream is far past
    * any driver/executor broadcast budget — so the hint must be
    * droppable, letting the planner take the shuffle (or, against the
    * persisted bucketed index, the exchange-free sort-merge) join that
    * BucketedJoinSpec demonstrates. Same rows either way
    * (spec-asserted); only the physical join strategy moves. */
  def dedupIncremental(documents: DataFrame,
                       deltaMod: Int = IncrementalDeltaMod,
                       k: Int = MinhashK, bands: Int = Bands,
                       broadcastDelta: Boolean = true): DataFrame = {
    require(deltaMod >= 2, s"deltaMod=$deltaMod must be >= 2")
    val bk = minhashBandKeys(documents, k, bands)
    val delta0 = bk.filter(pmod(col("doc_id"), lit(deltaMod)) === 0).as("d")
    val delta = if (broadcastDelta) broadcast(delta0) else delta0
    val corpus = bk.filter(pmod(col("doc_id"), lit(deltaMod)) =!= 0)
    corpus.as("c")
      .join(delta,
        col("d.band") === col("c.band") && col("d.key") === col("c.key"))
      .select(col("d.doc_id").as("doc_new"), col("c.doc_id").as("doc_corpus"))
      .distinct()
      .orderBy("doc_new", "doc_corpus")
  }

  /** §2-26 `q_dedup_simhash`: 16-bit SimHash fingerprint. Tokens explode
    * once; all 16 signed bit-weights come out of ONE aggregation pass
    * (exact ±1 integer sums); the fingerprint is then a row-level bit
    * pack. Fingerprint equality (or Hamming distance via xor) groups
    * near-dups — here we emit the per-doc fingerprint. */
  def dedupSimhash(documents: DataFrame): DataFrame =
    simhashFingerprints(documents, bits = 16).orderBy("doc_id")

  /** Width-parameterized SimHash (md5's 32 hex digits give two bit planes
    * = up to 64 bits: low nibble bit for 0-31, second nibble bit for
    * 32-63). 16 bits for the §2-26 fingerprint; 64 for pair mining, where
    * a denser space would drown the blocking join in false candidates.
    *
    * Computed by the native `simhash_fp` expression in ONE row-level pass
    * (graft.plans.SimhashFp) — the explode + 32-bit-sum aggregation it
    * replaces shuffled every token; this shuffles NOTHING (the
    * fingerprint map is embarrassingly parallel at any scale).
    * Bit-identical by construction (integer parity sums), asserted in
    * TextHashExprSpec. */
  def simhashFingerprints(documents: DataFrame, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits=$bits out of the md5 bit planes")
    graft.plans.GraftFunctions.register(documents.sparkSession)
    spread(documents).select(col("doc_id"),
      call_function("simhash_fp", TextFuns.norm(col("text")), lit(bits))
        .as("simhash"))
  }

  /** Pair-mining fingerprint width / pigeonhole split. 64-bit fingerprint
    * in 4×16-bit pieces: any pair within Hamming 3 still agrees exactly on
    * ≥ 1 piece (3 differing bits touch ≤ 3 of the 4), but the per-piece
    * key space grows 256× vs the former 32-bit/4×8-bit blocking — expected
    * block size drops from n/1024 to n/65536·4, which is the difference
    * between ~n²/2048 candidates and a near-linear candidate set on a
    * 10⁹-doc corpus. Asserted (vs the 32-bit scheme, on the test corpus)
    * in PipelineOpsSpec. */
  val SimhashPairBits = 64
  val SimhashPieces = 4

  /** §2-26b `q_dedup_simhash_pairs`: near-dup pairs by SimHash Hamming
    * distance ≤ 3 over a 64-BIT fingerprint (16 bits is too clumpy on a
    * shared-vocabulary corpus — ~19% of random pairs landed within 3
    * bits; at 64 only truly similar docs do), found WITHOUT an n²
    * comparison via pigeonhole blocking: split the fingerprint into
    * [[SimhashPieces]] 16-bit pieces — any pair within Hamming 3 agrees
    * exactly on ≥ 1 piece, so blocking on (piece index, piece value)
    * finds every such pair; an exact `bit_count(xor)` then verifies.
    * The DuckDB oracle does the plain quadratic join — same RESULT,
    * different (scale-ready) plan. */
  def dedupSimhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    // recall guarantee of the pigeonhole split: d differing bits can
    // touch at most d pieces, so agreement on >= 1 piece is only
    // guaranteed for d < pieces — a larger maxHamming would silently
    // MISS pairs whose diffs spread across all pieces
    require(maxHamming < SimhashPieces,
      s"pigeonhole blocking over $SimhashPieces pieces only finds pairs " +
        s"with Hamming < $SimhashPieces; got maxHamming=$maxHamming")
    simhashBlockCandidates(
      simhashFingerprints(documents, bits = SimhashPairBits),
      pieceBits = SimhashPairBits / SimhashPieces)
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Pigeonhole candidate pairs (pre-Hamming-filter) for fingerprints
    * split into `64/pieceBits` pieces of `pieceBits` bits — shared by
    * [[dedupSimhashPairs]] and the block-density spec (which compares
    * candidate volumes across widths on one corpus). */
  private[graft] def simhashBlockCandidates(fp: DataFrame,
                                            pieceBits: Int): DataFrame = {
    val pieces = (0 until SimhashPieces).map(p => struct(lit(p).as("p"),
      shiftright(col("simhash"), pieceBits * p)
        .bitwiseAND((1L << pieceBits) - 1).as("v")))
    // checkpoint for the same reason as bandSelfJoin: the fingerprint
    // (a full-text token-hash pass) would otherwise compute once per
    // self-join side
    val blocks = fp.select(col("doc_id"), col("simhash"),
      explode(array(pieces: _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.p").as("p"), col("b.v").as("v"))
      .transform(Materialize(_, eager = false))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.p") === col("b.p") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
  }

  /** Cross-set pigeonhole candidates — the DELTA-vs-CORPUS face of
    * [[simhashBlockCandidates]] (the `dedupIncremental` pattern for the
    * fingerprint family): the delta's piece keys PROBE the corpus piece
    * index; corpus×corpus pairs never form. The delta side broadcasts
    * (a batch is small against the standing corpus); at scale the
    * corpus pieces are the persisted write-once index. Both inputs:
    * (doc_id, simhash). Output: (delta_id, corpus_id, hamming). */
  private[graft] def simhashCrossCandidates(delta: DataFrame, corpus: DataFrame,
                                            pieceBits: Int): DataFrame = {
    def pieces(df: DataFrame): DataFrame = {
      val ps = (0 until SimhashPieces).map(p => struct(lit(p).as("p"),
        shiftright(col("simhash"), pieceBits * p)
          .bitwiseAND((1L << pieceBits) - 1).as("v")))
      df.select(col("doc_id"), col("simhash"), explode(array(ps: _*)).as("b"))
        .select(col("doc_id"), col("simhash"),
          col("b.p").as("p"), col("b.v").as("v"))
    }
    pieces(corpus).as("c")
      .join(broadcast(pieces(delta).as("d")),
        col("d.p") === col("c.p") && col("d.v") === col("c.v"))
      .select(col("d.doc_id").as("delta_id"), col("c.doc_id").as("corpus_id"),
        bit_count(col("d.simhash").bitwiseXOR(col("c.simhash"))).as("hamming"))
  }

  /** Document-frequency cap for [[dedupNgram]]'s inverted index: shingles
    * appearing in more than this many documents are boilerplate (a
    * navigation bar, a license header, a hot phrase of a shared
    * vocabulary) and carry no discriminative signal — but each one
    * contributes df²/2 candidate pairs to the self-join, the one d²
    * blowup left in the dedup family. The standard stop-shingle /
    * prefix-filtering move drops them BEFORE the join; near-dup pairs
    * (whose shingles are rare by definition — a planted dup's df is the
    * copy count) still surface. */
  val NgramDfCap = 32

  /** §2-27 `q_dedup_ngram`: verified near-dup pairs by token-3-gram
    * Jaccard ≥ 0.5 over the df-capped shingle universe, candidate
    * generation via inverted-index join on shared shingles (blocking) —
    * the join only ever touches docs that actually share a rare shingle,
    * then exact integer intersection/union counts verify. Jaccard is
    * computed over the SAME capped universe on both engines (stop-shingle
    * semantics — like similarity after stopword removal), so the oracle
    * mirrors the cap. The planted ≈0.99-Jaccard pairs surface; random
    * docs don't.
    *
    * Contract (PipelineOpsSpec "df-cap boundary"): a near-dup pair whose
    * shared shingles ALL exceed `dfCap` is undetectable by construction —
    * on template-heavy corpora (boilerplate duplicated more than `dfCap`
    * times) size the cap above the legitimate copy count, or pair this
    * with [[dedupSimhashPairs]], whose signal is shingle-free. */
  def dedupNgram(documents: DataFrame, tau: Double = 0.5,
                 dfCap: Int = NgramDfCap): DataFrame = {
    // grouped inverted index, df cap applied BEFORE any posting list
    // materializes (see ngramIndex); candidate pairs explode WITHIN each
    // surviving list, bounded by C(cap, 2) per shingle
    // both consumers below (sizes, inter) would otherwise re-run the
    // full shingle explode + capped-collect aggregation — and sizes
    // itself feeds two join sides; two lazy checkpoints make the
    // expensive index and the tiny per-doc sizes each compute once
    val kept = Materialize(ngramIndex(documents, dfCap), eager = false)
    val sizes = kept.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .transform(Materialize(_, eager = false))
    // all unordered doc pairs of each posting list; collect_list order is
    // nondeterministic, so least/greatest canonicalizes each pair
    val inter = kept
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> " +
          "transform(slice(ds, i + 2, size(ds) - i - 1), b -> " +
          "named_struct('doc_a', least(a, b), 'doc_b', greatest(a, b)))))"))
        .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("c") * 1.0 / (col("sa.n") + col("sb.n") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .orderBy("doc_a", "doc_b")
  }

  /** The df-capped grouped inverted index: one row per surviving trigram
    * hash with its posting list `ds` of doc_ids (`dfCap <= 0` =
    * uncapped). Shared by [[dedupNgram]] and the candidate-volume spec
    * (Σ C(|ds|, 2) is the pair volume the df cap controls). */
  private[graft] def ngramIndex(documents: DataFrame,
                                dfCap: Int = NgramDfCap): DataFrame = {
    // 64-bit xxhash of each trigram instead of the string: 8-byte
    // shuffle/join keys. Collisions would need two distinct trigrams with
    // equal hashes inside one corpus (P ≈ n²/2⁶⁴ ≈ 10⁻¹¹ here) — the
    // exact-string variant is a one-line swap if that ever matters.
    val grams = spread(documents)
      .select(col("doc_id"), TextFuns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> xxhash64(toks[i-1], toks[i], toks[i+1]))")).as("shingle"))
    if (dfCap <= 0)
      grams.groupBy("shingle").agg(collect_set(col("doc_id")).as("ds"))
    else {
      // size-CAPPED native collect (plans/CollectSetCapped): the plain
      // collect_set would materialize a boilerplate shingle's FULL
      // posting list (df can approach corpus size) in one aggregation
      // buffer before the df filter could discard it — the hot-key
      // executor-OOM shape. The capped aggregate saturates at cap + 1
      // elements (lists ≤ cap stay exact; anything longer is doomed by
      // the filter below anyway), keeping the single-shuffle plan with
      // O(cap) buffers per key. A countDistinct df pre-pass + semi-join
      // was tried instead and measured 2.2× slower at sf0.1 (second
      // aggregation + join over the gram stream).
      graft.plans.GraftFunctions.register(documents.sparkSession)
      grams
        .groupBy("shingle")
        .agg(call_function("collect_set_capped",
          col("doc_id"), lit(dfCap)).as("ds"))
        .filter(size(col("ds")) <= dfCap)
    }
  }

  /** Winnowing geometry: char 16-grams, window 8 ⇒ any common substring
    * of ≥ 23 chars between two docs shares a fingerprint. */
  val WinnowK = 16
  val WinnowW = 8

  /** §2-78 `q_dedup_substring`: exact-PASSAGE dedup — pairs of documents
    * sharing verbatim character runs, detected via winnowing fingerprints
    * ([[graft.plans.GraftHash.winnowFingerprints]], the MOSS scheme).
    * This is the substring-level member of the dedup family (the
    * suffix-array "deduplicate-text-datasets" capability re-expressed
    * for Spark): token n-gram Jaccard (row 27) scores whole-doc
    * similarity, MinHash (row 25) blocks on it — neither sees a long
    * quoted passage inside two otherwise-different docs. Winnowing
    * selection is CONTENT-defined, so the shared passage selects the
    * same fingerprints in both docs regardless of its offset in either
    * (stride-sampled shingles miss under misalignment — spec-asserted).
    * Guarantee: a common run ≥ WinnowK + WinnowW − 1 = 23 chars shares
    * ≥ 1 fingerprint; `minShared` sets the evidence bar.
    *
    * Same scale shape as [[dedupNgram]]: the fingerprint stream is one
    * codegen'd row-level pass (native expression, rolling-min deque, no
    * per-window allocation); the inverted index df-caps with the capped
    * native aggregate BEFORE any posting list materializes; pairs
    * explode within surviving lists, bounded by C(dfCap, 2) per
    * fingerprint. Docs shorter than one window (< 23 chars) drop out on
    * both engines. */
  def dedupSubstring(documents: DataFrame, minShared: Int = 2,
                     dfCap: Int = NgramDfCap): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val fps = spread(documents)
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
      .filter(length(col("t")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"), explode(call_function("winnow_fingerprints",
        col("t"), lit(WinnowK), lit(WinnowW))).as("f"))
    val kept = fps
      .groupBy("f")
      .agg(call_function("collect_set_capped", col("doc_id"), lit(dfCap))
        .as("ds"))
      .filter(size(col("ds")).between(2, dfCap))
    kept
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> " +
          "transform(slice(ds, i + 2, size(ds) - i - 1), b -> " +
          "named_struct('doc_a', least(a, b), 'doc_b', greatest(a, b)))))"))
        .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** §2-162 `q_dedup_substring_incremental`: delta-vs-corpus passage
    * dedup (round 17) — the [[dedupIncremental]] shape for the
    * winnowing family, closing the one batch-only gap in the dedup
    * estate: under continuous ingestion a full [[dedupSubstring]]
    * re-run pays a whole-corpus fingerprint re-scan per arriving batch
    * for O(delta) new information. Here the standing corpus's
    * fingerprint index (fingerprint → df-capped posting set — the
    * write-once artifact a real pipeline persists bucketed by `f`) is
    * probed by the delta docs' fingerprints; corpus×corpus pairs never
    * form. Output (doc_new, doc_corpus, n_shared ≥ minShared) — the
    * cross-set restriction of [[dedupSubstring]]'s universe, with the
    * corpus-side cap admitting singleton postings (the probing delta
    * doc is the pair's second member; spec asserts the equivalence
    * where the cap does not bind). `broadcastDelta = false` is the
    * backfill path, exactly [[dedupIncremental]]'s contract. */
  def dedupSubstringIncremental(documents: DataFrame,
                                deltaMod: Int = IncrementalDeltaMod,
                                minShared: Int = 2,
                                dfCap: Int = NgramDfCap,
                                broadcastDelta: Boolean = true): DataFrame = {
    require(deltaMod >= 2, s"deltaMod=$deltaMod must be >= 2")
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val fps = spread(documents)
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
      .filter(length(col("t")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"), explode(call_function("winnow_fingerprints",
        col("t"), lit(WinnowK), lit(WinnowW))).as("f"))
    val corpusIdx = fps.filter(pmod(col("doc_id"), lit(deltaMod)) =!= 0)
      .groupBy("f")
      .agg(call_function("collect_set_capped", col("doc_id"), lit(dfCap))
        .as("ds"))
      .filter(size(col("ds")) <= dfCap)
    val delta0 = fps.filter(pmod(col("doc_id"), lit(deltaMod)) === 0)
      .select(col("doc_id").as("doc_new"), col("f"))
    val delta = if (broadcastDelta) broadcast(delta0) else delta0
    corpusIdx.join(delta, Seq("f"))
      .select(col("doc_new"), explode(col("ds")).as("doc_corpus"))
      .groupBy("doc_new", "doc_corpus")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_new", "doc_corpus")
  }

  /** §2-167 `q_substring_excise_incremental`: delta-vs-corpus passage
    * EXCISION (round 17) — [[dedupSubstringIncremental]] names the
    * cross-set pairs; this face performs the CUT on the arriving batch:
    * a delta doc's char position is duplicated when its kgram's
    * winnowing hash exists in the STANDING corpus's fingerprint index
    * (corpus-first replaces the batch face's min-owner rule — under
    * continuous ingestion the corpus is "earlier" by definition), spans
    * merge under the same islands rule, and the accounting (n_chars,
    * cut_chars, kept_chars, n_spans) covers every delta doc (zero rows
    * cut nothing). The corpus index is the same write-once df-capped
    * artifact the pair probe uses; only the delta moves. */
  def substringExciseIncremental(documents: DataFrame,
                                 deltaMod: Int = IncrementalDeltaMod,
                                 dfCap: Int = NgramDfCap): DataFrame =
    withSpansIncremental(documents, deltaMod, dfCap)
      .withColumn("cut_chars",
        expr("aggregate(spans, 0L, (a, x) -> a + (x.e - x.s))"))
      .select(col("doc_id"),
        length(col("t")).cast("long").as("n_chars"),
        col("cut_chars"),
        (length(col("t")).cast("long") - col("cut_chars")).as("kept_chars"),
        size(col("spans")).cast("long").as("n_spans"))
      .orderBy("doc_id")

  /** §2-168 `q_substring_excise_incremental_text` — the TEXT face of
    * [[substringExciseIncremental]] (the batch pair's convention): each
    * delta doc's normalized text with its corpus-owned runs cut out,
    * rebuilt by the same ordered fold as the batch face. This IS the
    * column a continuous-ingestion pipeline feeds to the curation
    * manifest in place of `text`. */
  def substringExciseIncrementalText(documents: DataFrame,
                                     deltaMod: Int = IncrementalDeltaMod,
                                     dfCap: Int = NgramDfCap): DataFrame =
    withSpansIncremental(documents, deltaMod, dfCap)
      .withColumn("kept_text", expr(KeptTextFold))
      .select(col("doc_id"), col("kept_text"),
        length(col("kept_text")).cast("long").as("n_chars_kept"))
      .orderBy("doc_id")

  /** The delta docs' (doc_id, t, spans) under CORPUS-membership
    * ownership — [[substringExciseIncremental]]'s shared first half. */
  private def withSpansIncremental(documents: DataFrame, deltaMod: Int,
                                   dfCap: Int): DataFrame = {
    require(deltaMod >= 2, s"deltaMod=$deltaMod must be >= 2")
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val fps = spread(documents)
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
      .filter(length(col("t")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"), explode(call_function("winnow_fingerprints",
        col("t"), lit(WinnowK), lit(WinnowW))).as("f"))
    val cidx = fps.filter(pmod(col("doc_id"), lit(deltaMod)) =!= 0)
      .groupBy("f")
      .agg(call_function("collect_set_capped", col("doc_id"), lit(dfCap))
        .as("ds"))
      .filter(size(col("ds")) <= dfCap)
      .select(col("f"))
    val ffps = fps.filter(pmod(col("doc_id"), lit(deltaMod)) === 0)
      .join(cidx, Seq("f"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("f")).as("ffps"))
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val spansOf = (t: Column, fs: Column) => column(
      graft.plans.WinnowCutSpans(expression(t), expression(fs), WinnowK))
    documents
      .filter(pmod(col("doc_id"), lit(deltaMod)) === 0)
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
      .join(ffps, Seq("doc_id"), "left")
      .withColumn("spans",
        spansOf(col("t"), coalesce(col("ffps"), typedLit(Array.empty[String]))))
  }

  /** FOREIGN-owned fingerprints per later doc — the shared first stage
    * of [[substringExcise]] / [[substringExciseText]]: each winnowing
    * fingerprint's OWNER is the minimum doc_id carrying it (keep-first,
    * the [[dedupLines]] convention; exact under the df cap because a
    * surviving fingerprint's capped posting set is its complete one);
    * every (doc, fingerprint) row whose doc is NOT the owner collects
    * into that doc's foreign set. Same scale shape as
    * [[dedupSubstring]]: fingerprint-keyed shuffles only, then ONE
    * doc-keyed agg whose per-doc sets are bounded by the doc's own
    * fingerprint count. */
  private def foreignFps(documents: DataFrame, dfCap: Int): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val fps = spread(documents)
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
      .filter(length(col("t")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"), explode(call_function("winnow_fingerprints",
        col("t"), lit(WinnowK), lit(WinnowW))).as("f"))
    // a surviving fingerprint's capped posting set IS its complete one
    // (df ≤ cap survived the filter), so the non-owner docs come from
    // exploding `ds` — never from a join back to the fingerprint
    // stream, which would re-run the whole corpus scan + hash pass
    // (recompute-per-branch; the plan dump: 3 → 2 documents scans)
    fps
      .groupBy(col("f"))
      .agg(call_function("collect_set_capped", col("doc_id"), lit(dfCap))
        .as("ds"))
      .filter(size(col("ds")).between(2, dfCap))
      .select(col("f"), array_min(col("ds")).as("owner"),
        explode(col("ds")).as("doc_id"))
      .filter(col("doc_id") > col("owner"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("f")).as("ffps"))
  }

  /** (doc_id, t, spans) — normalized text + its merged duplicated-run
    * intervals (the native `winnow_cut_spans` scan over the foreign
    * set; docs with nothing foreign get the empty interval list). */
  private def withSpans(documents: DataFrame, dfCap: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val spansOf = (t: Column, fps: Column) => column(
      graft.plans.WinnowCutSpans(expression(t), expression(fps), WinnowK))
    documents
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
      .join(foreignFps(documents, dfCap), Seq("doc_id"), "left")
      .withColumn("spans",
        spansOf(col("t"), coalesce(col("ffps"), typedLit(Array.empty[String]))))
  }

  /** §2 `q_substring_excise`: passage EXCISION — the
    * deduplicate-text-datasets ENDGAME [[dedupSubstring]]'s pair output
    * stops short of: instead of dropping a whole doc for one shared
    * passage, CUT the duplicated run from the LATER doc (keep-first)
    * and keep the rest. A char position is duplicated when its kgram's
    * winnowing hash is owned by an earlier doc; overlapping kgram marks
    * merge into spans (adjacent spans stay distinct — the islands
    * rule), and the accounting (n_chars, cut_chars, kept_chars,
    * n_spans) is integer-exact in both engines. On real data this is a
    * large corpus-yield difference vs whole-doc dropping; compose with
    * `q_curate` by feeding [[substringExciseText]]'s kept_text in place
    * of `text` BEFORE the quality gates, so a doc that is mostly
    * original survives curation minus its quoted passage. Scale:
    * [[dedupSubstring]]'s index shapes + one doc-keyed join + a pure
    * row-level native scan; the corpus text never rides a shuffle
    * wider than its own doc_id partition. */
  def substringExcise(documents: DataFrame, dfCap: Int = NgramDfCap): DataFrame =
    withSpans(documents, dfCap)
      .withColumn("cut_chars",
        expr("aggregate(spans, 0L, (a, x) -> a + (x.e - x.s))"))
      .select(col("doc_id"),
        length(col("t")).cast("long").as("n_chars"),
        col("cut_chars"),
        (length(col("t")).cast("long") - col("cut_chars")).as("kept_chars"),
        size(col("spans")).cast("long").as("n_spans"))
      .orderBy("doc_id")

  /** §2 `q_substring_excise_text` — the TEXT face of
    * [[substringExcise]]: per doc, the normalized text with its
    * duplicated runs cut out (spans are ascending and non-overlapping,
    * so one ordered fold rebuilds the kept text — zero extra shuffles
    * past the accounting plan). Oracle-checked BYTE-FOR-BYTE: the
    * DuckDB twin rebuilds kept_text as the ordered concatenation of
    * inter-span gaps off the SAME shared spans derivation the
    * accounting oracle uses, so the two faces cannot drift; the
    * planted-passage spec additionally pins the semantics on known
    * truth. */
  /** The ordered inter-span fold rebuilding kept_text — shared by the
    * batch and incremental text faces. */
  private val KeptTextFold: String =
    "aggregate(spans, struct(0 AS p, '' AS acc), " +
      "(s, x) -> struct(x.e AS p, " +
      "concat(s.acc, substring(t, s.p + 1, x.s - s.p)) AS acc), " +
      "s -> concat(s.acc, substring(t, s.p + 1, char_length(t) - s.p)))"

  def substringExciseText(documents: DataFrame,
                          dfCap: Int = NgramDfCap): DataFrame =
    withSpans(documents, dfCap)
      .withColumn("kept_text", expr(KeptTextFold))
      .select(col("doc_id"), col("kept_text"),
        length(col("kept_text")).cast("long").as("n_chars_kept"))
      .orderBy("doc_id")

  /** §2-44 `q_dedup_clusters`: connected components over the MinHash
    * near-dup pair graph — the dedup ENDGAME: candidate pairs are only
    * half the job; the keep/drop decision needs the transitive closure
    * (A≈B, B≈C ⇒ one cluster) with one representative per cluster.
    *
    * Hybrid connected components ([[connectedComponents]]): the pair
    * graph is a checkpointed symmetric EDGE set (≪ corpus, bounded by
    * LSH collisions), never n². A graph of at most
    * [[LocalFinishEdges]] directed edges is collected and finished on
    * the driver with one union-find, the local end of GraphFrames'
    * hybrid local/distributed components (Kiveris et al., SoCC 2014).
    * A larger one runs distributed min-label propagation with pointer
    * jumping — a few joins per round, O(log diameter) rounds, the
    * iterate-to-fixpoint shape GraphX/GraphFrames use at cluster scale.
    * The DuckDB oracle walks the same closure with a recursive CTE —
    * same RESULT, single-node plan.
    *
    * (k, bands) size the MinHash pair graph the closure runs over —
    * defaults are the fixture contract the oracle mirrors; a production
    * 0.8-threshold run passes the [[MinhashKWide]]/[[BandsWide]] config
    * (clusters-over-the-wide-graph spec'd on planted near-dups in
    * PipelineOpsSpec). */
  def dedupClusters(documents: DataFrame, maxIters: Int = 50,
                    k: Int = MinhashK, bands: Int = Bands): DataFrame =
    connectedComponents(documents.select(col("doc_id")),
      minhashPairs(documents, k, bands), maxIters)
      .orderBy("doc_id")

  /** §2-117 `q_dup_inflation`: the DUPLICATION PROFILE — cluster-size
    * histogram of the near-dup components, plus each size's doc mass
    * and the share of the corpus it holds. The one table that says how
    * much a dedup pass will shrink the corpus (Σ docs − Σ clusters)
    * and whether duplication is a long tail of pairs or a few monster
    * mirror-families — the two regimes need different budgets
    * ([[dedupClusters]]' CC rounds scale with component DIAMETER).
    *
    * Rides entirely on the proven [[dedupClusters]] machinery: the
    * histogram is two tiny re-aggs over the CC output (cluster sizes →
    * size counts), both key-bounded; the corpus share is one broadcast
    * total. */
  def dupInflation(documents: DataFrame, maxIters: Int = 50): DataFrame = {
    val clusters = connectedComponents(documents.select(col("doc_id")),
      minhashPairs(documents, MinhashK, Bands), maxIters)
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val total = sizes.agg(sum(col("cluster_size")).as("n_total"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") * col("n_clusters")) * lit(1.0) / col("n_total"))
          .as("doc_share"))
      .orderBy("cluster_size")
  }

  /** §2-75 `q_dedup_representative`: the keep/drop DECISION —
    * [[dedupClusters]]'s components reduced to one surviving doc per
    * cluster, chosen as the HIGHEST-QUALITY member
    * ([[TextOps.qualityScore]], doc_id ascending as the tie-break) rather
    * than the min-id convention. Real pipelines keep the best copy of a
    * near-dup family (the cleanest mirror of a page, not the first-crawled
    * one); min-id is only the label.
    *
    * The argmax is ONE partial-aggregatable struct-min over
    * (-quality, doc_id) — the q_tfidf idiom: no window, no per-cluster
    * sort; the shuffle carries one candidate per (partition, cluster).
    * Negation is a sign-bit flip, so `rep_quality` is bit-identical to
    * the oracle's. Quality rides the SAME corpus scan that feeds the
    * cluster join (row-level Column, not a second pass), and the join
    * keys are the CC output's doc_ids — corpus-row-bounded, skew-free.
    * Singleton docs form singleton clusters and survive as their own
    * representative, so the output is exactly the post-dedup corpus
    * manifest. */
  def dedupRepresentative(documents: DataFrame, maxIters: Int = 50,
                          k: Int = MinhashK, bands: Int = Bands): DataFrame =
    dedupClusters(documents, maxIters, k, bands)
      .join(documents.select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("q")), "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("q")).as("negq"), col("doc_id").as("doc_id")))
          .as("m"))
      .select(col("cluster_id"), col("n_members"),
        col("m.doc_id").as("rep_doc_id"), (-col("m.negq")).as("rep_quality"))
      .orderBy("cluster_id")

  /** Distributed connected components over an undirected pair list —
    * the reusable core of [[dedupClusters]]. `vertices` has one `doc_id`
    * column; `pairs` has (`doc_a`, `doc_b`). Output: (doc_id,
    * cluster_id) with cluster_id = the component's minimum doc_id.
    *
    * Hybrid finish: a graph small enough to hold on the driver
    * ([[LocalFinishEdges]]) is solved there in one union-find; a larger
    * one runs distributed label-propagation rounds — see
    * [[ccWithRounds]]. Near-dup graphs below the bound (every sf0.1
    * fixture) cost one edge checkpoint and one collect instead of a
    * train of per-round jobs; corpus-scale graphs keep the rounds. The
    * driver finish needs integral ids (byte/short/int/long); ids of any
    * other orderable type always take the rounds.
    *
    * Every materialization goes through [[graft.Materialize]]: with a
    * checkpoint directory set on the context, a multi-hour 100 TB CC job
    * re-reads reliable checkpoint files after a lost executor instead of
    * dying with its local blocks. Identical results (spec-asserted). */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
                          maxIters: Int = 50): DataFrame =
    ccWithRounds(vertices, pairs, maxIters)._1

  /** Directed-edge bound of the driver-side CC finish: a graph with at
    * most this many directed edges is collected and solved by
    * [[minRootLabels]]. 2^20 directed edges are 16 MB as (src, dst)
    * longs; the driver holds half of them (one direction), a sorted id
    * array and an int parent array over at most 2^20 endpoints (12 MB),
    * and the returned label relation — tens of MB in all, far inside any
    * driver heap. Past the bound, job count stops
    * being the cost that matters and the distributed rounds take over. */
  private[graft] val LocalFinishEdges: Int = 1 << 20

  /** [[connectedComponents]] + the number of distributed propagation
    * rounds it ran — exposed so the O(log diameter) pointer-jumping
    * guarantee and both finish paths are spec-testable.
    *
    * Two ways to finish, bit-identical:
    *  - ROUND 0: the symmetric edge checkpoint observes its own row
    *    count. At most `localFinishEdges` (and integral ids) → collect
    *    one direction of the edges, union-find on the driver, return the
    *    labels as a local relation. No rounds run (rounds = 0).
    *  - DISTRIBUTED: otherwise rounds to the fixpoint
    *    (`localFinishEdges = 0` forces this path).
    *
    * Why the local finish is exact: a min-root union-find labels every
    * vertex with its component's minimum id, the label the rounds
    * converge to. Why the observed count is safe: speculation or
    * re-execution can only OVER-count, which can only skip the finish,
    * never collect an unbounded set. A mid-loop finish (collect the
    * contracted residual once a round's `changed` is small) is left
    * out until a benchmark graph exceeds the bound and can measure it. */
  private[graft] def ccWithRounds(vertices: DataFrame, pairs: DataFrame,
                                  maxIters: Int,
                                  localFinishEdges: Int = LocalFinishEdges)
      : (DataFrame, Int) = {
    // Eager checkpointing everywhere, NOT cache: caching truncates
    // re-execution but keeps the logical plan, so an iterate-to-fixpoint
    // loop builds a plan that doubles in depth per round and kills the
    // driver (plan-string generation alone OOMs). Checkpointing cuts the
    // lineage each round — the standard move for iterative graph
    // algorithms ([[graft.Materialize]]: reliable when the context has a
    // checkpoint directory, local otherwise).
    // the symmetric edge closure in ONE materialization (round 21; was
    // two — a pairs checkpoint, then a union of two branches over it into
    // a second checkpoint): exploding each pair into its two directions
    // is row-level, so the pair subtree runs exactly once and one whole
    // checkpoint write+read cycle (and its scheduled job) disappears.
    // Pre-partitioned by the per-round join key ONCE — checkpointing
    // preserves outputPartitioning, so every round's edges⋈labels join
    // shuffles only the label side, never the edges. The edge count
    // rides the same job as an observe() metric (the round-0 gate).
    val edgeObs = org.apache.spark.sql.Observation()
    val edges = Materialize(pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .observe(edgeObs, count(lit(1)).as("edges")), eager = true)
    // the driver finish round-trips ids through Long: exact for
    // integral ids only, so any other id type keeps the rounds
    val integralIds = edges.schema("src").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val (labels, touched, rounds) =
      if (integralIds &&
        edgeObs.get("edges").asInstanceOf[Long] <= localFinishEdges) {
        val local = localFinish(edges)
        (local, local.select(col("doc_id")), 0)
      } else {
        // Iterate ONLY over edge-touched vertices: a near-dup graph is
        // sparse — the overwhelming share of a real corpus has no
        // candidate pair at all and is trivially its own singleton
        // cluster. Keeping isolated vertices out of the loop shrinks every
        // round's joins, checkpoints, and convergence counts from
        // O(corpus) to O(touched vertices); the singletons re-enter once,
        // join-free, after the fixpoint.
        val touched = edges.select(col("src").as("doc_id")).distinct()
        val (lbl, iters) = propagate(edges, touched, maxIters)
        (lbl, touched, iters)
      }
    val isolated = vertices
      .join(touched, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    (labels.union(isolated), rounds)
  }

  /** The round-0 finish: one direction of the symmetric closure
    * (every edge once; src == dst keeps a self-paired vertex) collected
    * as long pairs, union-found on the driver, and returned as a local
    * (doc_id, cluster_id) relation cast back to the id type of `src`,
    * so it has exactly the schema of the distributed path. */
  private def localFinish(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val pairs = edges.filter(col("src") <= col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val idType = edges.schema("src").dataType
    minRootLabels(pairs).toSeq.toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** The distributed rounds of [[ccWithRounds]] over the edge-touched
    * vertices, to the fixpoint. Returns (doc_id, cluster_id) labels and
    * the rounds run. */
  private def propagate(edges: DataFrame, touched: DataFrame, maxIters: Int)
      : (DataFrame, Int) = {
    // `chg` = did this label move LAST round (round 20): a vertex's
    // neighbor-min can only decrease when a neighbor's label decreased
    // in the previous round, so the neighbor-min join needs only the
    // CHANGED labels — the classic frontier/delta propagation. Labels
    // are monotone non-increasing and any vertex whose label drops
    // (neighbor-min OR pointer jump) re-enters the frontier, so every
    // edge (u,v) has seen u's final label by the fixpoint — the result
    // is bit-identical (oracle-replayed), only the per-round label
    // shuffle shrinks from O(vertices) to O(frontier). Round 1 starts
    // all-true (everyone just "changed" to their own id).
    var labels = Materialize(touched.select(col("doc_id"),
      col("doc_id").as("cluster_id"),
      col("doc_id").as("prev"),
      lit(true).as("chg")), eager = true)

    // One propagation step: neighbor-min, then pointer jump (follow the
    // label's label). Plain neighbor-min needs O(path length) rounds on
    // chain-shaped components (A≈B≈C≈… happens whenever near-dups drift
    // gradually); compressing one hop per step makes the propagation
    // distance DOUBLE → O(log diameter). cluster_id is always a valid
    // doc_id, so the jump self-join is total. `prev` (the label at round
    // start) rides along so the convergence check is a narrow scan of
    // the checkpoint, not another shuffle join.
    def step(lbl: DataFrame): DataFrame = {
      // frontier only: labels that did not move last round cannot lower
      // any neighbor's min (see `chg` above)
      val compact = lbl.filter(col("chg")).select(col("doc_id").as("n_id"),
        col("cluster_id").as("n_cl"))
      val neighborMin = edges
        .join(compact, edges("dst") === col("n_id"))
        .groupBy(col("src"))
        .agg(min(col("n_cl")).as("nmin"))
      val stepped = lbl
        .join(neighborMin, lbl("doc_id") === neighborMin("src"), "left")
        .select(lbl("doc_id").as("doc_id"),
          least(lbl("cluster_id"), coalesce(col("nmin"), lbl("cluster_id")))
            .as("cluster_id"),
          lbl("prev").as("prev"))
      // one jump per round — a second jump per round was tried and did
      // NOT reduce the round count on this corpus (the late rounds are
      // new-minimum discovery through the edge graph, not label-chain
      // compression), so it only added a join per round
      val jumpTo = stepped.select(col("doc_id").as("j_id"),
        col("cluster_id").as("j_cl"))
      stepped
        .join(jumpTo, stepped("cluster_id") === col("j_id"))
        .select(stepped("doc_id").as("doc_id"), col("j_cl").as("cluster_id"),
          stepped("prev").as("prev"))
    }

    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // one step per materialized round — batching two steps per
      // checkpoint was measured SLOWER (deeper per-round plans cost more
      // in planning/codegen than the saved checkpoint+count jobs)
      // re-partition by doc_id before the checkpoint: the jump join
      // leaves the frame keyed on cluster_id, but the NEXT round joins
      // labels on doc_id twice (neighbor-min compact + left join) — one
      // shuffle here buys two shuffle-free joins there, and keeps every
      // round's plan shape identical.
      // The convergence count rides the checkpoint job as observe()
      // metrics (CollectMetrics accumulators, gathered while the
      // checkpoint action materializes the rows): ONE job per round
      // where checkpoint-then-count was two — one fewer scheduling
      // barrier AND one fewer full pass over the label frame per round,
      // at any scale. Speculative/checkpoint-write re-execution can only
      // OVER-count `changed`; the loop tests it against zero, so an
      // over-count never converges early.
      val obs = org.apache.spark.sql.Observation()
      val next = Materialize(step(labels).repartition(col("doc_id"))
        .observe(obs,
          count(when(col("cluster_id") < col("prev"), 1)).as("changed")),
        eager = true)
      changed = obs.get("changed").asInstanceOf[Long]
      // prev resets to the new label for the next convergence compare;
      // chg records whether THIS round moved it (the next round's
      // frontier) — both are narrow reads of the checkpoint, no recompute
      labels = next.select(col("doc_id"), col("cluster_id"),
        col("cluster_id").as("prev"),
        (col("cluster_id") < col("prev")).as("chg"))
      iter += 1
    }
    // a non-converged result is WRONG (labels are not component minima,
    // pairs may split across clusters) — fail loudly, never return it
    require(changed == 0,
      s"connectedComponents did not converge within $maxIters rounds " +
        s"($changed labels still changing) — raise maxIters")
    (labels.select(col("doc_id"), col("cluster_id")), iter)
  }

  /** Min-root union-find over an undirected edge list, on the driver:
    * every endpoint → the minimum id of its component. Ids are
    * compressed to indices of their sorted distinct array, so linking
    * the larger root under the smaller keeps every root at its set's
    * minimum id — the label the distributed rounds converge to. Working
    * set: two longs per edge (sorted endpoints) and an int parent per
    * distinct endpoint. */
  private def minRootLabels(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val ends = new Array[Long](edges.length * 2)
    var i = 0
    while (i < edges.length) {
      ends(2 * i) = edges(i)._1
      ends(2 * i + 1) = edges(i)._2
      i += 1
    }
    java.util.Arrays.sort(ends)
    var n = 0
    i = 0
    while (i < ends.length) {
      if (n == 0 || ends(i) != ends(n - 1)) { ends(n) = ends(i); n += 1 }
      i += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ends, 0, n, id)
    edges.foreach { case (a, b) =>
      val ra = find(index(a))
      val rb = find(index(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Array.tabulate(n)(k => (ends(k), ends(find(k))))
  }

  /** §2-28 `q_dedup_embedding`: blocked cosine near-dup pairs (cos ≥ τ)
    * for a LABELED corpus — the block key is `label`, so candidates are
    * Σ block², which only beats n² while label cardinality grows with the
    * corpus (n²/L pairs at fixed L). Real corpora are unlabeled or
    * coarsely labeled: the general path is [[dedupEmbeddingLsh]], which
    * blocks on sign-LSH bands instead and is the operator a 100 TB
    * pipeline would run. Cosines are rounded to 6 dp on both engines
    * (summation-order ulp). Zero-norm vectors are excluded from the pair
    * universe on BOTH engines: their cosine is 0/0 = NaN, and the two
    * engines disagree on `NaN >= τ` (Spark's NaN-greatest comparison
    * keeps the pair, DuckDB's NULL drops it) — an undefined similarity
    * is not a near-duplicate. */
  def dedupEmbedding(embeddings: DataFrame, tau: Double = 0.4): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    // norms once per row BEFORE the pair join (not once per pair)
    val e = embeddings.select(col("vec_id"), col("label"), col("embedding"),
      VectorFuns.l2normNative(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0.0)
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        VectorFuns.cosine6Pre(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= tau)
      .orderBy("vec_a", "vec_b")
  }

  /** Sign-LSH banding for [[dedupEmbeddingLsh]]: each band is
    * [[EmbBandBits]] consecutive dimensions' sign bits, tiled over the
    * vector twice — phase 0 and a second tiling offset by half a band
    * (the "rotated second projection" recall trick: a pair that loses
    * one phase-0 band to a single sign flip near a band boundary still
    * has the straddling phase-1 band). For zero-centered embeddings each
    * sign bit agrees with probability 1 − θ/π (random-hyperplane LSH),
    * so a cos-0.9 pair (θ ≈ 26°) collides in ≥ 1 of the 16 bands with
    * P ≈ 1 − (1 − 0.857⁸)¹⁶ ≈ 0.996 — an independence ESTIMATE: both
    * tilings regroup the same 64 sign bits (each phase-1 band shares 4
    * bits with two phase-0 bands), so band failures are positively
    * correlated and true recall sits somewhat below the formula; sizing
    * a production τ-0.9 dedup to a hard recall target needs genuinely
    * independent projections (fresh random hyperplanes per band), which
    * this fixed-dim regrouping deliberately trades away to keep the band
    * key a pure column slice — [[dedupEmbeddingRp]] is that hard-recall
    * operator (measured at-or-above the formula in PipelineOpsSpec,
    * where this scheme measures below it). Random pairs fill each
    * 256-value band key uniformly — candidates ≈ 16·n²/512 = n²/32
    * (measured 5.7% of all pairs on the test corpus), vs the n²/2 of an
    * unblocked pass. */
  val EmbBandBits = 8
  val EmbDims = 64
  private[graft] val embeddingBandDims: Seq[Seq[Int]] =
    for (phase <- Seq(0, EmbBandBits / 2); b <- 0 until EmbDims / EmbBandBits)
      yield (0 until EmbBandBits).map(i => (phase + b * EmbBandBits + i) % EmbDims)

  /** Distinct LSH candidate pairs (pre-cosine-verify) — the blocks frame
    * carries ONLY (vec_id, band, key): the 64-float payload never rides
    * the exploded band stream or its shuffle; exposed for the
    * candidate-volume spec. */
  /** The (vec_id, band, key) tiled-sign band stream — exposed so
    * PlanAuditSpec can assert the payload-free Generate on the frame
    * that actually executes (the candidates join checkpoints it, which
    * hides the subtree from the final SQL plan). */
  private[graft] def embeddingLshBlocks(embeddings: DataFrame): DataFrame = {
    val bands = embeddingBandDims.zipWithIndex.map { case (dims, j) =>
      struct(lit(j).as("band"),
        VectorFuns.signBandKey(col("embedding"), dims).as("key")) }
    embeddings
      .select(col("vec_id"), explode(array(bands: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  private[graft] def embeddingLshCandidates(embeddings: DataFrame): DataFrame =
    // NO checkpoint: the tiled sign keys are cheap column slices —
    // recompute ≈ free (the minhash k<16 case), so lineage stays whole
    // for nothing.
    bandSelfJoin(embeddingLshBlocks(embeddings), checkpoint = false)

  /** Self-join a (vec_id, band, key) block stream into distinct ordered
    * candidate pairs. With `checkpoint` a lazy [[graft.Materialize]]
    * stores the band keys once — AQE does not dedupe the two
    * identical self-join subtrees, so an expensive key map (the rp
    * scheme's 128×64 integer dots) is otherwise computed twice
    * (measured on the MinHash twin of this shape). Cheap key maps
    * should pass false: recompute costs less than the block-cache round
    * trip, and lineage stays intact for fault recovery. */
  private def bandSelfJoin(blockStream: DataFrame,
                           checkpoint: Boolean): DataFrame = {
    val blocks =
      if (checkpoint) Materialize(blockStream, eager = false) else blockStream
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  /** §2-59 `q_dedup_embedding_lsh`: cosine near-dup pairs (cos ≥ τ) with
    * NO label/metadata requirement — the general-corpus embedding dedup.
    * Blocking = [[embeddingBandDims]] sign-LSH bands (equi-join on
    * (band, key), candidates bounded by real band collisions, never n²);
    * verification = exact 6-dp cosine on the deduped candidate set, with
    * per-row norms computed once before the pair join. The contract is
    * "collides in ≥ 1 band ∧ cos ≥ τ" — the DuckDB oracle derives the
    * SAME band keys, so both engines see the identical pair universe. */
  def dedupEmbeddingLsh(embeddings: DataFrame, tau: Double = 0.4): DataFrame =
    embeddingLshPairs(embeddings, tau).orderBy("vec_a", "vec_b")

  /** [[dedupEmbeddingLsh]] without the presentation sort — the edge feed
    * for [[dedupEmbeddingClusters]]. Zero-norm vectors are excluded like
    * in [[dedupEmbedding]] (NaN-vs-τ semantics diverge across engines);
    * they surface as singleton clusters downstream. */
  private def embeddingLshPairs(embeddings: DataFrame, tau: Double): DataFrame =
    cosineVerifiedPairs(embeddings, embeddingLshCandidates(embeddings), tau)

  /** Exact 6-dp cosine verification of a blocked candidate-pair set —
    * the shared back half of [[dedupEmbeddingLsh]] and
    * [[dedupEmbeddingRp]]: per-row norms once BEFORE the pair join,
    * zero-norm vectors out of the pair universe (NaN-vs-τ semantics
    * diverge across engines). */
  private def cosineVerifiedPairs(embeddings: DataFrame,
                                  candidates: DataFrame,
                                  tau: Double): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"), col("embedding"),
      VectorFuns.l2normNative(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0.0)
    candidates
      .join(e.as("ea"), col("vec_a") === col("ea.vec_id"))
      .join(e.as("eb"), col("vec_b") === col("eb.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        VectorFuns.cosine6Pre(col("ea.embedding"), col("eb.embedding"),
          col("ea.nrm"), col("eb.nrm")).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** §2-63 `q_dedup_embedding_rp`: hard-recall-floor embedding dedup —
    * the same blocked-join shape as [[dedupEmbeddingLsh]], but every band
    * bit is its own INDEPENDENT random hyperplane (graft.plans.RpLsh:
    * 16 bands × 8 bits of seeded, integer-quantized Gaussian normals,
    * signs decided by exact int64 dots over the 10⁶-quantized vector —
    * bit-reproducible in DuckDB by construction). Independence makes
    * P[detect] = 1 − (1 − p^8)^16, p = 1 − θ/π, an actual expected-recall
    * floor rather than the tiled scheme's optimistic estimate — the
    * operator a 100 TB semantic dedup sized to "≥99.5% recall at cos 0.9"
    * should run (measured on planted cos-0.9 pairs in PipelineOpsSpec).
    * Candidate volume is the same ≈ 16·n²/512 as the tiled scheme;
    * non-64-dim vectors are dropped (the key is null — the coefficient
    * table is fixed-width like any trained LSH index). */
  def dedupEmbeddingRp(embeddings: DataFrame, tau: Double = 0.4,
                       bands: Int = graft.plans.RpLsh.Bands,
                       bitsPerBand: Int = graft.plans.RpLsh.BitsPerBand)
      : DataFrame =
    cosineVerifiedPairs(embeddings,
      embeddingRpCandidates(embeddings, bands, bitsPerBand), tau)
      .orderBy("vec_a", "vec_b")

  /** Distinct random-hyperplane candidate pairs (pre-cosine-verify) —
    * like [[embeddingLshCandidates]], the band stream carries ONLY
    * (vec_id, band, key); the native `rp_band_keys` computes all 16 keys
    * in one primitive-loop pass and `posexplode` supplies the band index.
    * Exposed for the recall spec. */
  /** The (vec_id, band, key) random-hyperplane band stream (see
    * [[embeddingLshBlocks]] for why it is exposed). The (bands, bits)
    * geometry is THE corpus-size knob: band collisions scale
    * ~n²/2^(bits+1), so the 10⁴-vector default (16×8) must widen to
    * ~log₂(n)+margin bits — trading per-band recall p^bits back via
    * more bands — before the candidate set quadratics the job
    * (measured at 10×, SURVEY §8; geometry-sizing invariant spec'd in
    * PipelineOpsSpec). */
  private[graft] def embeddingRpBlocks(embeddings: DataFrame,
                                       bands: Int = graft.plans.RpLsh.Bands,
                                       bits: Int = graft.plans.RpLsh.BitsPerBand)
      : DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .select(col("vec_id"),
        posexplode(call_function("rp_band_keys", col("embedding"),
          lit(bands), lit(bits)))
          .as(Seq("band", "key")))
  }

  /** The rp band-collision candidate pairs. The rp key map (128×64
    * integer dots per vector) is expensive, so its block stream is
    * materialized once ([[bandSelfJoin]] with `checkpoint`) — reliably
    * whenever the context has a checkpoint directory. */
  private[graft] def embeddingRpCandidates(embeddings: DataFrame,
                                           bands: Int = graft.plans.RpLsh.Bands,
                                           bits: Int = graft.plans.RpLsh.BitsPerBand)
      : DataFrame =
    bandSelfJoin(embeddingRpBlocks(embeddings, bands, bits), checkpoint = true)

  /** §2-73 `q_dedup_embedding_incremental`: incremental (delta-vs-corpus)
    * EMBEDDING dedup — the rp-LSH twin of [[dedupIncremental]],
    * completing the continuous-ingestion pattern for the semantic
    * family: a full-corpus re-dedup per arriving embedding batch is
    * O(corpus²) work for O(delta) new information; here the delta's
    * random-hyperplane band keys probe the standing corpus's band index
    * and corpus×corpus candidates never form. Candidates are cross-set
    * band collisions only, cosine-verified at τ — exactly
    * [[dedupEmbeddingRp]]'s universe restricted to (delta, corpus)
    * pairs (spec-asserted).
    *
    * Scale story mirrors the MinHash twin: the corpus side is the
    * write-once persisted (band, key) index; the delta side is
    * broadcast by definition of incremental (drop via
    * `broadcastDelta = false` for a backfill — 1/deltaMod of a 100 TB
    * band stream is past any broadcast budget); the cosine verify
    * touches only the candidate set. The (bands, bitsPerBand) geometry
    * knob applies unchanged — an index sized for the corpus keeps the
    * delta probe linear in delta size. */
  def dedupEmbeddingIncremental(embeddings: DataFrame, tau: Double = 0.4,
                                deltaMod: Int = IncrementalDeltaMod,
                                bands: Int = graft.plans.RpLsh.Bands,
                                bitsPerBand: Int = graft.plans.RpLsh.BitsPerBand,
                                broadcastDelta: Boolean = true): DataFrame = {
    require(deltaMod >= 2, s"deltaMod=$deltaMod must be >= 2")
    val bk = embeddingRpBlocks(embeddings, bands, bitsPerBand)
    val delta0 = bk.filter(pmod(col("vec_id"), lit(deltaMod)) === 0).as("d")
    val delta = if (broadcastDelta) broadcast(delta0) else delta0
    val corpus = bk.filter(pmod(col("vec_id"), lit(deltaMod)) =!= 0)
    val cands = corpus.as("c")
      .join(delta,
        col("d.band") === col("c.band") && col("d.key") === col("c.key"))
      .select(col("d.vec_id").as("vec_a"), col("c.vec_id").as("vec_b"))
      .distinct()
    cosineVerifiedPairs(embeddings, cands, tau)
      .select(col("vec_a").as("vec_new"), col("vec_b").as("vec_corpus"),
        col("cos"))
      .orderBy("vec_new", "vec_corpus")
  }

  /** §2-62 `q_dedup_embedding_clusters`: the SEMANTIC dedup endgame —
    * connected components over the sign-LSH cosine pair graph
    * ([[dedupEmbeddingLsh]]'s universe), one representative (minimum
    * vec_id) per cluster. Same rationale as [[dedupClusters]]: pairs are
    * half the job; the keep/drop decision needs the transitive closure
    * (A≈B, B≈C ⇒ one cluster even when cos(A,C) < τ). Reuses
    * [[connectedComponents]] — edge-set joins bounded by band collisions,
    * O(log diameter) rounds, never n². The DuckDB oracle walks the same
    * closure with a recursive CTE over the same band-key pair universe. */
  def dedupEmbeddingClusters(embeddings: DataFrame, tau: Double = 0.4,
                             maxIters: Int = 50,
                             bands: Int = graft.plans.RpLsh.Bands,
                             bitsPerBand: Int = graft.plans.RpLsh.BitsPerBand)
      : DataFrame =
    connectedComponents(
      embeddings.select(col("vec_id").as("doc_id")),
      embeddingClusterPairs(embeddings, tau, bands, bitsPerBand), maxIters)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")

  /** The (doc_a, doc_b) pair graph [[dedupEmbeddingClusters]] closes:
    * the rp pair graph (hard recall floor + the (bands, bits)
    * corpus-size knob — SURVEY §8), NOT the fixed-width tiled one. */
  private[graft] def embeddingClusterPairs(embeddings: DataFrame,
                                           tau: Double, bands: Int,
                                           bitsPerBand: Int): DataFrame =
    cosineVerifiedPairs(embeddings,
      embeddingRpCandidates(embeddings, bands, bitsPerBand), tau)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))

  /** §2-86 `q_dedup_embedding_representative`: the EMBEDDING family's
    * keep/drop DECISION — [[dedupEmbeddingClusters]]' components reduced
    * to one surviving vector per cluster, completing the semantic-dedup
    * manifest the way [[dedupRepresentative]] completes the MinHash one.
    * Embeddings carry no quality signal, so the kept member is the most
    * CENTRAL one: the vector nearest its cluster's centroid (the member
    * that best represents the semantic family; vec_id ascending breaks
    * ties). Singletons survive as themselves with rep_dist 0.
    *
    * Integer-exact end to end — the [[AnnOps.kmeans]] machinery on the
    * cluster key: members quantize through the index family's shared
    * guard ([[AnnOps.q6GuardedRaw]] — 64-dim, finite, |v| ≤ 100; an
    * unguardable member drops from the reduction on BOTH engines, and
    * `n_members` counts the guarded members the centroid used), the
    * per-cluster centroid is the (2s + n) div (2n) half-away-from-zero
    * rounded mean (never leaves int64), and each member's distance is
    * the exact int64 Σ(q6ᵢ − cᵢ)² — so the argmin, its distance, and
    * the whole output hash-match DuckDB's unrolled CTE bit for bit.
    *
    * Scale shape: the centroid update is a (clusters × dims)-bounded agg
    * with map-side partials (the [[AnnOps.centroid]] story); the
    * distance pass joins members to their cluster centroid on
    * cluster_id (corpus-row-bounded, skew-safe under AQE); the argmin
    * is ONE partial-aggregatable struct-min — no window, no per-cluster
    * sort. The member frame feeds both passes, so it is lazily
    * materialized once (the AQE no-subtree-dedup lesson). */
  def dedupEmbeddingRepresentative(embeddings: DataFrame, tau: Double = 0.4,
                                   maxIters: Int = 50,
                                   bands: Int = graft.plans.RpLsh.Bands,
                                   bitsPerBand: Int = graft.plans.RpLsh.BitsPerBand)
      : DataFrame = {
    val clusters = dedupEmbeddingClusters(embeddings, tau, maxIters,
      bands, bitsPerBand)
    val members = clusters
      .join(AnnOps.q6GuardedRaw(embeddings), "vec_id")
      .transform(Materialize(_, eager = false))
    val cent = members
      .select(col("cluster_id"), posexplode(col("q6s")).as(Seq("pos", "v")))
      .groupBy(col("cluster_id"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("cq", expr(
        "if(s >= 0, (2*s + n) div (2*n), -((2*(-s) + n) div (2*n)))"))
      .groupBy("cluster_id")
      .agg(expr("transform(sort_array(collect_list(struct(pos, cq))), x -> x.cq)")
        .as("c"))
    members
      .join(cent, "cluster_id")
      .select(col("cluster_id"), col("vec_id"), expr(
        "aggregate(zip_with(q6s, c, (a, b) -> (a - b) * (a - b)), " +
          "cast(0 as bigint), (acc, x) -> acc + x)").as("dist"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min(struct(col("dist").as("dist"), col("vec_id").as("vec_id")))
          .as("mm"))
      .select(col("cluster_id"), col("n_members"),
        col("mm.vec_id").as("rep_vec_id"), col("mm.dist").as("rep_dist"))
      .orderBy("cluster_id")
  }

  private val normSql = "lower(trim(text))"

  /** The duplicated-run SPANS derivation as a shared WITH-body (through
    * the `spans (doc_id, g, s, e)` CTE) — the single source of truth
    * for both excision oracles (`q_substring_excise`'s accounting and
    * `q_substring_excise_text`'s reconstruction), so the two cannot
    * drift on what a span is. */
  private def exciseSpansCtes: String = exciseSpansCtesWith(
    s"""own AS (
       |  SELECT f, min(doc_id) AS owner FROM fp
       |  GROUP BY f HAVING count(*) BETWEEN 2 AND $NgramDfCap
       |), fdup AS (
       |  SELECT fp.doc_id, fp.f FROM fp JOIN own ON fp.f = own.f
       |  WHERE fp.doc_id > own.owner
       |)""".stripMargin)

  /** The corpus-membership ownership rule of the incremental excise
    * oracles (vs the batch min-owner rule). */
  private def incrementalOwnFdup: String = {
    val m = IncrementalDeltaMod
    s"""own AS (
       |  SELECT f FROM fp WHERE doc_id % $m <> 0
       |  GROUP BY f HAVING count(*) <= $NgramDfCap
       |), fdup AS (
       |  SELECT fp.doc_id, fp.f FROM fp JOIN own ON fp.f = own.f
       |  WHERE fp.doc_id % $m = 0
       |)""".stripMargin
  }

  /** The kept-text reconstruction oracle over any span CTE chain: the
    * kept text is the concatenation of the INTER-span gaps (plus the
    * tail past the last span); docs with no spans keep their whole
    * normalized text — byte-identical to the Spark fold. */
  private def exciseTextSqlFor(ctes: String, where: String): String =
    s"""WITH $ctes, g1 AS (
       |  SELECT doc_id,
       |    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs,
       |    s AS ge
       |  FROM spans
       |), allg AS (
       |  SELECT * FROM g1
       |  UNION ALL
       |  SELECT sp.doc_id, MAX(sp.e) AS gs, MAX(length(n.t)) AS ge
       |  FROM spans sp JOIN n ON n.doc_id = sp.doc_id
       |  GROUP BY sp.doc_id
       |), kt AS (
       |  SELECT a.doc_id,
       |    array_to_string(list(substr(n.t, a.gs + 1, a.ge - a.gs)
       |      ORDER BY a.gs), '') AS kept
       |  FROM allg a JOIN n ON n.doc_id = a.doc_id
       |  GROUP BY a.doc_id
       |)
       |SELECT d.doc_id, COALESCE(kt.kept, $normSql) AS kept_text,
       |  CAST(length(COALESCE(kt.kept, $normSql)) AS BIGINT) AS n_chars_kept
       |FROM documents d LEFT JOIN kt ON kt.doc_id = d.doc_id
       |$where
       |ORDER BY d.doc_id""".stripMargin

  /** [[exciseSpansCtes]] with a caller-supplied owner/foreign rule —
    * the incremental oracle swaps min-owner for corpus-membership. */
  private def exciseSpansCtesWith(ownFdup: String): String = {
    val minLen = WinnowK + WinnowW - 1
    s"""n AS (
       |  SELECT doc_id, $normSql AS t FROM documents
       |  WHERE length($normSql) >= $minLen
       |), h AS (
       |  SELECT doc_id, i, substr(md5(substr(t, i + 1, $WinnowK)), 1, 8) AS h
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(0, length(t) - $WinnowK)) AS i
       |        FROM n)
       |), wm AS (
       |  SELECT doc_id, i,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS f,
       |    max(i) OVER (PARTITION BY doc_id) AS mi
       |  FROM h
       |), fp AS (
       |  SELECT DISTINCT doc_id, f FROM wm WHERE i <= mi - ${WinnowW - 1}
       |), $ownFdup, pos AS (
       |  SELECT h.doc_id, h.i FROM h
       |  JOIN fdup ON fdup.doc_id = h.doc_id AND fdup.f = h.h
       |), isl AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i > COALESCE(max(i) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -$WinnowK)
       |      + $WinnowK - 1 THEN 1 ELSE 0 END AS st
       |  FROM pos
       |), isl2 AS (
       |  SELECT doc_id, i,
       |    SUM(st) OVER (PARTITION BY doc_id ORDER BY i) AS g
       |  FROM isl
       |), spans AS (
       |  SELECT doc_id, g, min(i) AS s, max(i) + $WinnowK AS e
       |  FROM isl2 GROUP BY doc_id, g
       |)""".stripMargin
  }

  /** MinHash candidate-pair SQL for any (k, bands) — mirrors
    * [[graft.plans.GraftHash.minhashSlices]]'s hash family exactly: slice
    * i comes from md5 digest ⌊i/4⌋ (digest j > 0 salted by PREPENDING the
    * single byte j — `chr(j)` is that byte in UTF-8 for j ≤ 127; j stays
    * ≤ 63 by the k ≤ 256 bound), hex chars 8·(i mod 4)+1..8. Shared by
    * the q_dedup_minhash / q_dedup_minhash_wide oracles and the
    * q_dedup_clusters closure. */
  private def minhashPairsSqlFor(k: Int, bands: Int): String =
    s"""WITH ${minhashSigSqlFor(k)}
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (${bandCondSqlFor(k, bands)})
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The shared signature CTE chain (normalize → 8-char shingles →
    * per-doc MIN slices) of every MinHash oracle. */
  private[graft] def minhashSigSqlFor(k: Int): String = {
    val mins = (0 until k).map { i =>
      val j = i / 4
      val s = i % 4
      val digest = if (j == 0) "md5(shingle)" else s"md5(chr($j) || shingle)"
      s"MIN(substr($digest, ${8 * s + 1}, 8)) AS mh$i"
    }.mkString(",\n  ")
    s"""n AS (
       |  SELECT doc_id, $normSql AS t FROM documents WHERE length($normSql) >= 8
       |), sh AS (
       |  SELECT doc_id, substr(t, i + 1, 8) AS shingle
       |  FROM (SELECT doc_id, t, unnest(generate_series(0, length(t) - 8)) AS i FROM n)
       |), sig AS (
       |  SELECT doc_id, $mins FROM sh GROUP BY doc_id
       |)""".stripMargin
  }

  /** `a`-vs-`b` band-collision predicate over the [[minhashSigSqlFor]]
    * columns: any of the `bands` concatenated r-slice keys equal. */
  private[graft] def bandCondSqlFor(k: Int, bands: Int): String = {
    val r = k / bands
    (0 until bands).map { b =>
      val a = (0 until r).map(i => s"a.mh${r * b + i}").mkString(" || ")
      val bb = (0 until r).map(i => s"b.mh${r * b + i}").mkString(" || ")
      s"($a) = ($bb)"
    }.mkString(" OR ")
  }

  /** The fixture-config pair SQL (see [[MinhashK]]/[[Bands]]). */
  private val minhashPairsSql: String = minhashPairsSqlFor(MinhashK, Bands)

  val oracles: Map[String, String] = Map(
    "q_boilerplate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents
         |), segn AS (
         |  SELECT doc_id, tk,
         |    unnest(generate_series(0,
         |      CAST(greatest(ceil(len(tk) / 10.0), 1) AS BIGINT) - 1)) AS i
         |  FROM toks
         |), segs AS (
         |  SELECT doc_id,
         |    array_to_string(tk[(CAST(i AS INTEGER) * 10 + 1):(CAST(i AS INTEGER) * 10 + 10)], ' ') AS seg
         |  FROM segn
         |), ranked AS (
         |  -- selection ranks on the DIGEST (the Spark side never ranks
         |  -- on text — the shuffle key is md5(seg)); display order below
         |  SELECT seg, COUNT(DISTINCT doc_id) AS n_docs,
         |    COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
         |  FROM segs
         |  GROUP BY seg
         |  HAVING COUNT(DISTINCT doc_id) >= 2
         |  ORDER BY n_docs DESC, md5(seg) ASC
         |  LIMIT 50
         |)
         |SELECT seg, n_docs, n_occurrences, first_doc
         |FROM ranked
         |ORDER BY n_docs DESC, seg ASC""".stripMargin,
    "q_dedup_lines" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split($normSql, ' ') AS tk FROM documents
         |), segn AS (
         |  SELECT doc_id, source, tk,
         |    unnest(generate_series(0,
         |      CAST(greatest(ceil(len(tk) / 10.0), 1) AS BIGINT) - 1)) AS i
         |  FROM toks
         |), segs AS (
         |  SELECT doc_id, source, i AS seg_pos,
         |    array_to_string(tk[(CAST(i AS INTEGER) * 10 + 1):(CAST(i AS INTEGER) * 10 + 10)], ' ') AS seg
         |  FROM segn
         |), ranked AS (
         |  SELECT doc_id, source, seg,
         |    ROW_NUMBER() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_pos) AS rn
         |  FROM segs
         |)
         |SELECT doc_id, source, COUNT(*) AS n_seg,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN rn = 1 THEN length(seg) ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM ranked
         |GROUP BY doc_id, source
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      s"""SELECT md5($normSql) AS text_hash,
         |  MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
         |FROM documents
         |GROUP BY 1
         |ORDER BY rep_doc_id""".stripMargin,
    "q_dedup_canonical" ->
      s"""SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
         |      '$CanonStripRe', '', 'g'), '$CanonWsRe', ' ', 'g'))) AS canon_hash,
         |  MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT text) AS n_variants
         |FROM documents
         |GROUP BY 1
         |ORDER BY rep_doc_id""".stripMargin,
    "q_dedup_minhash" -> minhashPairsSql,
    "q_dedup_minhash_wide" -> minhashPairsSqlFor(MinhashKWide, BandsWide),
    "q_dedup_incremental" ->
      s"""WITH ${minhashSigSqlFor(MinhashK)}
         |SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_corpus
         |FROM sig a JOIN sig b
         |  ON a.doc_id % $IncrementalDeltaMod = 0
         | AND b.doc_id % $IncrementalDeltaMod <> 0
         | AND (${bandCondSqlFor(MinhashK, Bands)})
         |ORDER BY doc_new, doc_corpus""".stripMargin,
    "q_dup_inflation" ->
      s"""WITH RECURSIVE pairs AS (
         |$minhashPairsSql
         |), edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM pairs
         |), walk(u, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
         |), clusters AS (
         |  SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY u
         |), sizes AS (
         |  SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id
         |), tot AS (SELECT CAST(SUM(cluster_size) AS BIGINT) AS n_total FROM sizes)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
         |  (cluster_size * COUNT(*)) * 1.0 / tot.n_total AS doc_share
         |FROM sizes CROSS JOIN tot
         |GROUP BY cluster_size, tot.n_total
         |ORDER BY cluster_size""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |$minhashPairsSql
         |), edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM pairs
         |), walk(u, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
         |)
         |SELECT u AS doc_id, MIN(lbl) AS cluster_id
         |FROM walk
         |GROUP BY u
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_representative" -> {
      val tSql = s"string_split($normSql, ' ')"
      val stopIn = TextOps.Stopwords
        .map(graft.functions.TextFuns.sqlLit).mkString(", ")
      s"""WITH RECURSIVE pairs AS (
         |$minhashPairsSql
         |), edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM pairs
         |), walk(u, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
         |), clusters AS (
         |  SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY u
         |), q AS (
         |  SELECT doc_id,
         |    least(CAST(1 AS DOUBLE), len($tSql) / 100.0) * 0.6
         |      + len(list_filter($tSql, t -> t IN ($stopIn))) * 1.0
         |        / len($tSql) * 0.2
         |      + (CASE WHEN (length($normSql) - (len($tSql) - 1)) * 1.0 / len($tSql)
         |              BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END) AS qs
         |  FROM documents
         |), sel AS (
         |  SELECT cluster_id, doc_id, qs,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY qs DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM clusters JOIN q USING (doc_id)
         |)
         |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
         |  doc_id AS rep_doc_id, qs AS rep_quality
         |FROM sel WHERE rn = 1 ORDER BY cluster_id""".stripMargin
    },
    "q_dedup_substring_incremental" -> {
      // the batch oracle's winnowing CTEs, restricted cross-set: the
      // corpus-side index df-caps alone (singleton postings admitted —
      // the probing delta doc is the second member)
      val minLen = WinnowK + WinnowW - 1
      s"""WITH n AS (
         |  SELECT doc_id, $normSql AS t FROM documents
         |  WHERE length($normSql) >= $minLen
         |), h AS (
         |  SELECT doc_id, i, substr(md5(substr(t, i + 1, $WinnowK)), 1, 8) AS h
         |  FROM (SELECT doc_id, t,
         |          unnest(generate_series(0, length(t) - $WinnowK)) AS i
         |        FROM n)
         |), wm AS (
         |  SELECT doc_id, i,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS f,
         |    max(i) OVER (PARTITION BY doc_id) AS mi
         |  FROM h
         |), fp AS (
         |  SELECT DISTINCT doc_id, f FROM wm WHERE i <= mi - ${WinnowW - 1}
         |), cidx AS (
         |  SELECT f FROM fp WHERE doc_id % $IncrementalDeltaMod <> 0
         |  GROUP BY f HAVING count(*) <= $NgramDfCap
         |), pairs AS (
         |  SELECT d.doc_id AS doc_new, c.doc_id AS doc_corpus,
         |    count(*) AS cnt
         |  FROM fp d
         |  JOIN cidx ON d.f = cidx.f
         |  JOIN fp c ON c.f = d.f AND c.doc_id % $IncrementalDeltaMod <> 0
         |  WHERE d.doc_id % $IncrementalDeltaMod = 0
         |  GROUP BY 1, 2
         |)
         |SELECT doc_new, doc_corpus, CAST(cnt AS BIGINT) AS n_shared
         |FROM pairs WHERE cnt >= 2 ORDER BY doc_new, doc_corpus""".stripMargin
    },
    "q_dedup_substring" -> {
      // window-min over ordered positions = the deque rolling min;
      // DISTINCT value sets are identical (fixed-width hex ≡ unsigned
      // numeric order, ties can't matter in a value set)
      val minLen = WinnowK + WinnowW - 1
      s"""WITH n AS (
         |  SELECT doc_id, $normSql AS t FROM documents
         |  WHERE length($normSql) >= $minLen
         |), h AS (
         |  SELECT doc_id, i, substr(md5(substr(t, i + 1, $WinnowK)), 1, 8) AS h
         |  FROM (SELECT doc_id, t,
         |          unnest(generate_series(0, length(t) - $WinnowK)) AS i
         |        FROM n)
         |), wm AS (
         |  SELECT doc_id, i,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS f,
         |    max(i) OVER (PARTITION BY doc_id) AS mi
         |  FROM h
         |), fp AS (
         |  SELECT DISTINCT doc_id, f FROM wm WHERE i <= mi - ${WinnowW - 1}
         |), idx AS (
         |  SELECT f FROM fp GROUP BY f
         |  HAVING count(*) BETWEEN 2 AND $NgramDfCap
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |  FROM fp a JOIN idx ON a.f = idx.f
         |  JOIN fp b ON b.f = a.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, CAST(c AS BIGINT) AS n_shared
         |FROM pairs WHERE c >= 2 ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_substring_excise_incremental" -> {
      val m = IncrementalDeltaMod
      s"""WITH ${exciseSpansCtesWith(incrementalOwnFdup)}, cuts AS (
         |  SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS cut_chars,
         |    CAST(count(*) AS BIGINT) AS n_spans
         |  FROM spans GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(length($normSql) AS BIGINT) AS n_chars,
         |  COALESCE(c.cut_chars, 0) AS cut_chars,
         |  CAST(length($normSql) AS BIGINT) - COALESCE(c.cut_chars, 0)
         |    AS kept_chars,
         |  COALESCE(c.n_spans, 0) AS n_spans
         |FROM documents d LEFT JOIN cuts c ON d.doc_id = c.doc_id
         |WHERE d.doc_id % $m = 0
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_substring_excise" -> {
      s"""WITH $exciseSpansCtes, cuts AS (
         |  SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS cut_chars,
         |    CAST(count(*) AS BIGINT) AS n_spans
         |  FROM spans GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(length($normSql) AS BIGINT) AS n_chars,
         |  COALESCE(c.cut_chars, 0) AS cut_chars,
         |  CAST(length($normSql) AS BIGINT) - COALESCE(c.cut_chars, 0) AS kept_chars,
         |  COALESCE(c.n_spans, 0) AS n_spans
         |FROM documents d LEFT JOIN cuts c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_substring_excise_text" -> exciseTextSqlFor(exciseSpansCtes, ""),
    "q_substring_excise_incremental_text" ->
      exciseTextSqlFor(exciseSpansCtesWith(incrementalOwnFdup),
        s"WHERE d.doc_id % $IncrementalDeltaMod = 0"),
    "q_dedup_simhash" -> {
      val sums = (0 until 16).map(b =>
        s"SUM(CASE WHEN strpos('13579bdf', substr(md5(tok), ${b + 1}, 1)) > 0 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n  ")
      val pack = (0 until 16).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents
         |), w AS (
         |  SELECT doc_id, $sums FROM toks GROUP BY doc_id
         |)
         |SELECT doc_id, CAST($pack AS BIGINT) AS simhash
         |FROM w
         |ORDER BY doc_id""".stripMargin
    },
    "q_dedup_simhash_pairs" -> {
      // two bit planes per md5 hex digit: bits 0-31 = low nibble bit
      // ('13579bdf'), bits 32-63 = second nibble bit ('2367abef')
      val sums = (0 until 64).map { b =>
        val digits = if (b < 32) "13579bdf" else "2367abef"
        s"SUM(CASE WHEN strpos('$digits', substr(md5(tok), ${(b & 31) + 1}, 1)) > 0 THEN 1 ELSE -1 END) AS s$b"
      }.mkString(",\n  ")
      // bit 63 is the BIGINT sign bit: add it as -2^63 (two's complement)
      // and LAST, so every intermediate sum stays in BIGINT range
      val pack = (0 until 63).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ") +
        " + (CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents
         |), w AS (
         |  SELECT doc_id, $sums FROM toks GROUP BY doc_id
         |), f AS (
         |  SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM w
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_dedup_ngram" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS ts FROM documents
         |), sh0 AS (
         |  SELECT DISTINCT doc_id,
         |    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
         |        FROM toks WHERE len(ts) >= 3)
         |), sh AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle,
         |      COUNT(*) OVER (PARTITION BY shingle) AS df
         |    FROM sh0)
         |  WHERE df <= $NgramDfCap
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, c * 1.0 / (sa.n + sb.n - c) AS jaccard
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embedding" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} AS cos
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${VectorFuns.sql.l2norm("a.embedding")} > 0
         |  AND ${VectorFuns.sql.l2norm("b.embedding")} > 0
         |  AND ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_dedup_embedding_lsh" -> embeddingLshPairsSql,
    "q_dedup_embedding_rp" -> embeddingRpPairsSql,
    "q_dedup_embedding_incremental" -> embeddingRpIncrementalSql,
    "q_dedup_embedding_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |$embeddingRpPairsSql
         |), edges AS (
         |  SELECT vec_a AS u, vec_b AS v FROM pairs
         |  UNION
         |  SELECT vec_b AS u, vec_a AS v FROM pairs
         |), walk(u, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
         |)
         |SELECT u AS vec_id, MIN(lbl) AS cluster_id
         |FROM walk GROUP BY u ORDER BY vec_id""".stripMargin,
    "q_dedup_embedding_representative" ->
      s"""WITH RECURSIVE pairs AS (
         |$embeddingRpPairsSql
         |), edges AS (
         |  SELECT vec_a AS u, vec_b AS v FROM pairs
         |  UNION
         |  SELECT vec_b AS u, vec_a AS v FROM pairs
         |), walk(u, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u
         |), clusters AS (
         |  SELECT u AS vec_id, MIN(lbl) AS cluster_id FROM walk GROUP BY u
         |), g AS (
         |  -- the index family's shared input guard (AnnOps.q6GuardedRaw)
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS q6s
         |  FROM embeddings
         |  WHERE len(embedding) = 64
         |    AND len(list_filter(embedding,
         |        v -> v IS NULL OR NOT isfinite(CAST(v AS DOUBLE))
         |             OR abs(CAST(v AS DOUBLE)) > 100)) = 0
         |), m AS MATERIALIZED (
         |  -- MATERIALIZED: m feeds both the centroid chain and the
         |  -- distance join; inlined twice, DuckDB would re-evaluate the
         |  -- whole rp pair universe + recursive closure per reference —
         |  -- measured to exhaust the checker process's memory
         |  SELECT cluster_id, vec_id, q6s FROM clusters JOIN g USING (vec_id)
         |), s AS (
         |  SELECT cluster_id, CAST(i - 1 AS INTEGER) AS pos,
         |    SUM(q6s[i]) AS s, COUNT(*) AS n
         |  FROM (SELECT cluster_id, q6s,
         |        unnest(generate_series(1, len(q6s))) AS i FROM m)
         |  GROUP BY cluster_id, i
         |), c AS (
         |  -- the signed (2a+b)//(2b) half-away-from-zero rounded mean
         |  SELECT cluster_id,
         |    list(CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
         |         ELSE -((2*(-s) + n) // (2*n)) END ORDER BY pos) AS c
         |  FROM s GROUP BY cluster_id
         |), d AS (
         |  SELECT m.cluster_id, m.vec_id,
         |    CAST(list_sum(list_transform(list_zip(m.q6s, c.c),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
         |  FROM m JOIN c USING (cluster_id)
         |)
         |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
         |  vec_id AS rep_vec_id, dist AS rep_dist
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY dist, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM d)
         |WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  )

  /** Sign-LSH cosine pair SQL — the SAME 16 band keys the Spark side
    * blocks on; DuckDB's single-node plan is the OR-of-bands nested loop
    * (identical pair universe, different physical strategy). Shared by
    * the q_dedup_embedding_lsh oracle and the q_dedup_embedding_clusters
    * closure. */
  private lazy val embeddingLshPairsSql: String = {
    val keys = embeddingBandDims.zipWithIndex.map { case (dims, j) =>
      s"${VectorFuns.sql.signBandKey("embedding", dims)} AS k$j"
    }.mkString(",\n    ")
    val anyBand = embeddingBandDims.indices
      .map(j => s"a.k$j = b.k$j").mkString(" OR ")
    s"""WITH bk AS (
       |  SELECT vec_id, embedding,
       |    $keys
       |  FROM embeddings
       |  WHERE ${VectorFuns.sql.l2norm("embedding")} > 0
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} AS cos
       |FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ($anyBand)
       |WHERE ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** The shared q/bk CTE chain of the random-hyperplane oracles — a
    * literal integer-arithmetic transcription of graft.plans.RpLsh's
    * coefficient table over the 10⁶-quantized vector, so DuckDB derives
    * the SAME 16 band keys the native `rp_band_keys` does and both
    * engines see an identical pair universe. */
  private[graft] lazy val rpBkCteSql: String = {
    val keys = (0 until graft.plans.RpLsh.Bands).map(j =>
      s"${VectorFuns.sql.rpBandKey("qv", j)} AS k$j").mkString(",\n    ")
    s"""q AS (
       |  SELECT vec_id, embedding, ${VectorFuns.sql.q6List("embedding")} AS qv
       |  FROM embeddings
       |  WHERE ${VectorFuns.sql.l2norm("embedding")} > 0
       |    -- mirror rp_band_keys' FULL null contract: a non-64-dim
       |    -- vector's key is null on the Spark side (out-of-range list
       |    -- indexing here would quietly yield key 0 instead); a NULL
       |    -- element, a non-finite component (CAST(NaN AS BIGINT) would
       |    -- ERROR here), or one beyond the 1e6 magnitude bound
       |    -- (RpLsh.MaxAbs — int64 band-dot headroom) drops the row
       |    -- there. v IS NULL must be an explicit disjunct: NOT
       |    -- isfinite(NULL) is NULL, which list_filter silently DROPS —
       |    -- the row would pass while Spark nulls its key.
       |    AND len(embedding) = ${graft.plans.RpLsh.Dims}
       |    AND len(list_filter(embedding,
       |          v -> v IS NULL OR NOT isfinite(CAST(v AS DOUBLE))
       |               OR abs(CAST(v AS DOUBLE)) > 1e6)) = 0
       |), bk AS (
       |  SELECT vec_id, embedding,
       |    $keys
       |  FROM q
       |)""".stripMargin
  }

  private[graft] lazy val rpAnyBandSql: String = (0 until graft.plans.RpLsh.Bands)
    .map(j => s"a.k$j = b.k$j").mkString(" OR ")

  /** Random-hyperplane pair SQL (see [[rpBkCteSql]]). */
  private lazy val embeddingRpPairsSql: String =
    s"""WITH $rpBkCteSql
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} AS cos
       |FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ($rpAnyBandSql)
       |WHERE ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  /** The delta-vs-corpus restriction of the same rp pair universe —
    * `a` is the delta side, `b` the corpus. */
  private lazy val embeddingRpIncrementalSql: String =
    s"""WITH $rpBkCteSql
       |SELECT a.vec_id AS vec_new, b.vec_id AS vec_corpus,
       |  ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} AS cos
       |FROM bk a JOIN bk b
       |  ON a.vec_id % $IncrementalDeltaMod = 0
       | AND b.vec_id % $IncrementalDeltaMod <> 0
       | AND ($rpAnyBandSql)
       |WHERE ${VectorFuns.sql.cosine6("a.embedding", "b.embedding")} >= 0.4
       |ORDER BY vec_new, vec_corpus""".stripMargin
}
