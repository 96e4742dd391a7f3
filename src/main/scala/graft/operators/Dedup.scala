package graft.operators

import graft.functions.{Text, Vectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for document / embedding corpora.
  *
  * Scale contract: nothing here does a global cross join. Pairwise work is
  * bounded either by an explicit blocking key (source, label, ...) or by
  * MinHash-LSH banding, both of which shuffle linearly in corpus size and
  * only go quadratic inside a candidate bucket.
  */
object Dedup {

  /** Exact dedup on normalized text: one row per distinct fingerprint with
    * the surviving (minimum) id and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(Text.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping the full surviving row (lowest id per normalized-
    * text fingerprint) — the "materialize the clean corpus" variant of
    * `exact`. One shuffle on the fingerprint.
    */
  def keepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(Text.fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** EXACT long-window substring dedup (the "shared 50-token span"
    * training-data pass): pairs of documents sharing at least one exact
    * `window`-token span, with the count of distinct shared spans. The
    * classic formulation is a corpus suffix array; the distributed shape
    * is a POSTINGS join — every `window`-token span (one fused per-row
    * WordNgrams eval, no token-stream shuffle) becomes a posting, spans
    * seen by ≥2 docs expand to doc pairs, so the candidate volume is
    * Σ posting², bounded by `maxPosting` (a span shared by more docs than
    * that is boilerplate, not duplication — FAIL LOUDLY rather than
    * silently dropping pairs; raise the cap or pre-strip the boilerplate).
    * Spans are exact strings, so there is nothing approximate to verify.
    */
  def substringPairs(df: DataFrame, idCol: String, textCol: String,
                     window: Int, maxPosting: Int = 64): DataFrame = {
    require(window >= 2, s"substringPairs: window must be >= 2, got $window")
    val win = df.select(col(idCol).as("id"),
      explode(graft.expressions.TextExpressions.wordNgrams(
        col(textCol), window, distinct = true)).as("w"))
    val postings = win.groupBy("w")
      .agg(collect_set(col("id")).as("docs"))
      .where(size(col("docs")) >= 2)
    val guarded = postings.withColumn("docs",
      when(size(col("docs")) <= maxPosting, col("docs"))
        .otherwise(raise_error(concat(
          lit(s"substringPairs: a $window-token span is shared by more than " +
            s"$maxPosting documents ("), size(col("docs")),
          lit(") — boilerplate; strip it or raise maxPosting")))))
    guarded
      .select(col("w"), explode(col("docs")).as("a"), col("docs"))
      .select(col("w"), col("a"), explode(col("docs")).as("b"))
      .where(col("a") < col("b"))
      .groupBy(col("a").as("a_id"), col("b").as("b_id"))
      .agg(count(lit(1)).as("n_windows"))
  }

  /** Distinct word n-gram shingles of `textCol`. n=1 → token set. Docs
    * with fewer than n tokens (incl. empty text) yield an empty set — the
    * guard matters because sequence(0, size-n) would otherwise descend.
    *
    * Array-valued — fine for per-document use, but the lambda functions are
    * interpreted per element; the pairwise operators below use the
    * relational `shingleRows` form instead, which stays in codegen.
    */
  def shingles(textCol: String, n: Int): org.apache.spark.sql.Column = {
    val toks = Text.tokens(col(textCol))
    if (n == 1) array_distinct(toks)
    else array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>")))
  }

  /** Distinct (id, shingle) rows — the relational (exploded) shingle form.
    * The n-grams come from the native single-pass WordNgrams expression
    * (tokenize + concatenate + per-doc dedup inside one eval), so the form
    * is a pure narrow projection + explode with ZERO shuffles. The earlier
    * posexplode + window-`lead` + distinct relational build shuffled the
    * full token stream twice — the two largest shuffles of the dedup
    * pipeline at scale (and 0.6s of a 2.1s query at sf0.1); the array/
    * lambda (transform+slice) form was 10× slower again, interpreted per
    * ELEMENT rather than per document.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.expressions.TextExpressions.wordNgrams(
        col(textCol), n, distinct = true)).as("s"))

  /** Like [[shingleRows]] but WITH multiplicity (every n-gram occurrence,
    * not the per-document set) — the n-gram counting shape for language-
    * model statistics.
    */
  def shingleRowsAll(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.expressions.TextExpressions.wordNgrams(
        col(textCol), n, distinct = false)).as("s"))

  /** Pairwise Jaccard ≥ minJaccard within blocks of `blockCol`. Output:
    * (a_id, b_id, jaccard), a_id < b_id, on distinct n-gram shingle sets.
    *
    * Implemented as a postings join, not a block cross join: explode
    * shingles → self-join on (block, shingle) → count shared shingles per
    * pair → jaccard = inter / (|a| + |b| - inter). Work is proportional to
    * Σ_shingle postings², i.e. only pairs that actually share a shingle are
    * materialized, everything stays in whole-stage codegen, and the wide op
    * is a shuffle on (block, shingle) — linear in corpus size. Pairs with
    * no shared shingle (jaccard 0) are naturally absent.
    */
  def jaccardPairsBlocked(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, n: Int, minJaccard: Double): DataFrame =
    pairOverlaps(df, idCol, textCol, blockCol, n)
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("a_sz") + col("b_sz") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)

  /** Asymmetric containment ≥ minContainment within blocks: |A∩B| / min(|A|,
    * |B|) on distinct n-gram shingle sets. Catches a short document quoted
    * inside a longer one — a near-dup Jaccard misses because the size
    * difference drowns the overlap (j = |A|/|B| for full containment, but
    * containment = 1). Same postings join, same linear scale shape.
    */
  def containmentPairsBlocked(df: DataFrame, idCol: String, textCol: String,
                              blockCol: String, n: Int,
                              minContainment: Double): DataFrame =
    pairOverlaps(df, idCol, textCol, blockCol, n)
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          least(col("a_sz"), col("b_sz"))).as("containment"))
      .where(col("containment") >= minContainment)

  /** Shared postings-join core: per pair sharing ≥1 shingle in a block,
    * (a_id, b_id, inter, a_sz, b_sz) with a_id < b_id.
    *
    * posts feeds three branches (sizes, a-side, b-side); materialize via
    * eager localCheckpoint so the shingle build runs once, not per branch
    * (exchange reuse does not fire across the differently-aliased join
    * sides). localCheckpoint, not persist: its blocks are reclaimed by the
    * ContextCleaner once the result is dropped, so a long-lived session
    * doesn't accumulate cache entries across calls.
    */
  private def pairOverlaps(df: DataFrame, idCol: String, textCol: String,
                           blockCol: String, n: Int): DataFrame = {
    val posts = shingleRows(df, idCol, textCol, n)
      .join(df.select(col(idCol).as("id"), col(blockCol).as("blk")), "id")
      .localCheckpoint(eager = true)
    val sizes = posts.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val a = posts.select(col("blk").as("a_blk"), col("id").as("a_id"), col("s").as("a_s"))
    val b = posts.select(col("blk").as("b_blk"), col("id").as("b_id"), col("s").as("b_s"))
    a.join(b, col("a_blk") === col("b_blk") && col("a_s") === col("b_s") &&
        col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("sz").as("b_sz")), "b_id")
  }

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard.
    *
    * k minhashes from salted xxhash64 over distinct `n`-gram shingles;
    * `bands` bands of k/bands rows; docs sharing any band bucket become
    * candidates; candidates are verified against exact Jaccard ≥ tau.
    * With (k=128, b=32, r=4), P(miss | j=0.8) = (1-0.8^4)^32 ≈ 5e-8 — the
    * verified output equals the brute-force pair set w.h.p., which is what
    * the oracle checks — while a j=0.1 pair is a candidate with p≈0.003,
    * keeping the verify stage linear-ish at corpus scale.
    *
    * Ids must be unique: a pair is keyed by its two ids, and each id
    * stands for one shingle set in the verify.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      tau: Double, n: Int = 3, k: Int = 128, bands: Int = 32): DataFrame = {
    require(k % bands == 0)
    val r = k / bands
    // ONE WordNgrams eval per doc into an array column, materialized
    // (eager localCheckpoint — ContextCleaner-reclaimed, no session cache
    // leak) because it feeds BOTH the signature projection and both verify
    // sides, and exchange reuse does not fire across the differently-
    // aliased branches. Shingle-less docs are dropped here: their empty-set
    // signatures would otherwise all collide (round-3 bug).
    val docShingles = shingleSets(df, idCol,
        graft.expressions.TextExpressions.wordNgrams(col(textCol), n, distinct = true))
      .localCheckpoint(eager = true)
    // Per-ROW signature: the native MinHashSignature expression computes
    // the whole k-long minhash in one eval over the shingle array — no
    // explode, no aggregate stage, no shuffle (the earlier explode →
    // MinHashAgg build paid a full groupBy over every shingle row; before
    // that, a 128-column min(...) formulation generated a codegen class
    // whose JIT scheduling made the same query swing 2.8s-53s). The same
    // expression drives the streaming twin, so batch and stream
    // signatures are bit-identical by construction (asserted in specs).
    // sig feeds both band-join sides; tiny (one row per doc) so
    // materializing is cheap.
    val sig = docShingles.select(col("id"),
      graft.expressions.MinHashExpressions.minHashSignature(col("tk"), k).as("sig"))
      .localCheckpoint(eager = true)
    // band hash: xxhash64 over the r-element signature slice (codegen'd
    // hash over the array value — no per-column fan-out); the SHARED
    // bandHashes definition keeps batch and streaming banding identical
    val bandRows = sig.select(col("id"),
      posexplode(graft.expressions.MinHashExpressions.bandHashes(col("sig"), bands, r))
        .as(Seq("band", "bh")))
    val candA = bandRows.select(col("band").as("a_band"), col("bh").as("a_bh"), col("id").as("a_id"))
    val candB = bandRows.select(col("band").as("b_band"), col("bh").as("b_bh"), col("id").as("b_id"))
    val cand = candA.join(candB,
        col("a_band") === col("b_band") && col("a_bh") === col("b_bh") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    // exact-Jaccard verify against the materialized shingle arrays; no
    // broadcast hint — candidates scale with the dup rate, so AQE decides
    verifyJaccard(cand, docShingles, tau)
  }

  /** `(id, tk, sz)`: each document's distinct shingle array `tk` (built
    * by `shingles` from the row) and its size as a long, documents without
    * a shingle dropped — the `sets` input of [[verifyJaccard]].
    */
  private[graft] def shingleSets(df: DataFrame, idCol: String, shingles: Column): DataFrame =
    df.select(col(idCol).as("id"), shingles.as("tk"))
      .where(size(col("tk")) > 0)
      .select(col("id"), col("tk"), size(col("tk")).cast("long").as("sz"))

  /** The exact-Jaccard verify of candidate pairs, shared by the pair joins
    * and the streaming MinHash twin: each candidate `(a_id, b_id)` is joined
    * to both documents' rows of `sets` — `(id, tk, sz)`, `tk` the
    * document's distinct shingle array and `sz` its size as a long — and
    * |A∩B| is one `array_intersect`. Output `(a_id, b_id, jaccard)` with
    * jaccard = inter / (a_sz + b_sz − inter) ≥ tau. Work is O(candidates ×
    * doc size); ids of `sets` must be unique.
    */
  private[graft] def verifyJaccard(cand: DataFrame, sets: DataFrame, tau: Double): DataFrame =
    cand
      .join(sets.select(col("id").as("a_id"), col("tk").as("a_tk"), col("sz").as("a_sz")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("tk").as("b_tk"), col("sz").as("b_sz")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_tk"), col("b_tk"))).cast("long"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("a_sz") + col("b_sz") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= tau)

  /** EXACT similarity self-join via prefix filtering (the All-Pairs /
    * PPJoin family): all pairs with n-gram-shingle Jaccard ≥ tau, with NO
    * block key and NO probabilistic recall caveat.
    *
    * Every document's shingles are ordered by ascending global document
    * frequency (rarest first, shingle hash as tiebreaker — a total
    * order); if J(A,B) ≥ tau then A and B must share a shingle within
    * their first |d| − ⌈tau·|d|⌉ + 1 shingles of that order (the prefix-
    * filter lemma), so joining ONLY the prefixes yields a candidate
    * superset with zero false negatives. Candidates are then verified
    * with the exact Jaccard.
    *
    * Scale shape: the candidate join's work is Σ postings² over PREFIX
    * postings only, and prefixes hold each corpus's RAREST shingles — the
    * short postings lists — so the quadratic term collapses versus the
    * full postings join of [[jaccardPairsBlocked]] while staying exact
    * (vs [[minhashLshPairs]]'s w.h.p. recall). Candidates additionally
    * pass the PPJoin LENGTH filter (J ≥ tau forces min(|A|,|B|) ≥
    * tau·max(|A|,|B|)) before any verify payload ships.
    *
    * Each document's shingle set is built once, as one sorted array of
    * portable 60-bit md5 longs from the native ShingleHashes expression
    * (one eval per row, no shingle strings), and materialized as (id, tk,
    * sz). Everything else reads it: the document frequencies explode it and
    * count per hash, the prefix is a `row_number` window over each
    * document's postings ordered by (frequency, hash), and the verify is
    * [[verifyJaccard]]'s array_intersect over the same arrays. Longs make
    * every shuffle, sort and intersect cheaper than ~25-byte strings, and
    * the oracle replays the identical hash, so cross-engine parity is
    * unconditional. Set semantics are exact up to md5-60bit aliasing
    * INSIDE one document pair's shingle union (≪ 10⁻⁹ at any realistic
    * doc size; the prefix lemma itself holds exactly over the hashed
    * domain since any global total order works).
    *
    * Ids must be unique: the prefix window partitions by id, and each id
    * stands for one shingle set in the verify.
    *
    * `tau` should be exactly representable in binary (0.5, 0.75, ...) so
    * the prefix lengths are reproducible across platforms; correctness
    * holds for any tau.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, tau: Double): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    // docs feeds the postings (frequency count and prefix rank) and both
    // verify sides — materialize once (ContextCleaner-reclaimed, same
    // rationale as pairOverlaps)
    val docs = shingleSets(df, idCol,
        graft.expressions.TextExpressions.shingleHashes(col(textCol), n))
      .localCheckpoint(eager = true)
    val posts = docs.select(col("id"), col("sz"), explode(col("tk")).as("h"))
    val freq = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val rarestFirst = Window.partitionBy(col("id")).orderBy(col("df"), col("h"))
    val pre = posts.join(freq, "h")
      .withColumn("rk", row_number().over(rarestFirst))
      .where(col("rk") <= col("sz") - ceil(lit(tau) * col("sz")).cast("long") + 1)
    val cand = pre.select(col("id").as("a_id"), col("sz").as("a_sz"), col("h"))
      .join(pre.select(col("id").as("b_id"), col("sz").as("b_sz"), col("h")), Seq("h"))
      .where(col("a_id") < col("b_id") &&
        least(col("a_sz"), col("b_sz")).cast("double") >=
          lit(tau) * greatest(col("a_sz"), col("b_sz")).cast("double"))
      .select(col("a_id"), col("b_id"))
      .distinct()
      // the exact-Jaccard verify below is CPU-bound per candidate (an
      // array_intersect over full token arrays), but its shuffled BYTES
      // are tiny (two longs per pair) — AQE's byte-based coalescing packs
      // it onto 1-2 tasks and serializes seconds of verify work. An
      // explicit partition count pins verify parallelism to the session's
      // shuffle width (scale-adaptive, not a local constant). Partition by
      // struct(a,b), NOT (a,b): the same distribution, but a partitioning
      // expression distinct from the distinct-aggregate's, so the
      // optimizer can't remove this exchange as redundant and AQE can't
      // coalesce it (REPARTITION_BY_NUM).
      .repartition(width, struct(col("a_id"), col("b_id")))
    verifyJaccard(cand, docs, tau)
      // materialize the verified pairs behind one exchange: callers
      // ORDER BY the result, and a range sort SAMPLES its child before
      // partitioning it — without this boundary the sampling pass
      // re-executes the whole candidate-verify map stage (measured as a
      // duplicated multi-second job)
      .repartition(width, struct(col("a_id"), col("b_id")))
  }

  /** Sorted-neighborhood dedup blocking (the classic SNM): docs are
    * totally ordered by a cheap domain sort key (id tiebreak), each doc is
    * compared only against its `w` successors in that order, and surviving
    * pairs are verified with exact n-gram Jaccard ≥ tau.
    *
    * Recall is heuristic by design (a near-dup pair sorting far apart is
    * missed — that's the method's contract, not a bug); the win is the
    * candidate bound: exactly w·N pairs regardless of key skew, where a
    * hash-blocking key with a hot value goes quadratic in the hot block.
    *
    * Scale shape: the total order comes from [[GlobalRank]]'s range-
    * partitioned sort (parallel — never a single-task `Window.orderBy`);
    * the "compare within w" band is an EQUI-join on the rank bucket
    * `(rank−1) div w` (the a-side probes its own and the next bucket, so
    * every pair with 1 ≤ Δrank ≤ w matches exactly once) — no theta join,
    * no nested loop.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              sortKey: Column, w: Int, n: Int,
                              tau: Double): DataFrame = {
    val base = df.select(col(idCol).as("id"), sortKey.as("k"),
        graft.expressions.TextExpressions.wordNgrams(
          col(textCol), n, distinct = true).as("tk"))
      .where(size(col("tk")) > 0)
    // ranked feeds both band-join sides; the RDD zipWithIndex hop would
    // otherwise run twice
    val ranked = GlobalRank.withGlobalRank(base, Seq(col("k"), col("id")), "r")
      .withColumn("bkt", expr(s"(r - 1) div $w"))
      .select(col("id"), col("tk"), size(col("tk")).cast("long").as("sz"),
        col("r"), col("bkt"))
      .localCheckpoint(eager = true)
    val a = ranked.select(col("id").as("a_id"), col("tk").as("a_tk"),
        col("sz").as("a_sz"), col("r").as("ra"),
        explode(array(col("bkt"), col("bkt") + 1)).as("jb"))
    val b = ranked.select(col("id").as("b_id"), col("tk").as("b_tk"),
      col("sz").as("b_sz"), col("r").as("rb"), col("bkt").as("jb"))
    a.join(b, Seq("jb"))
      .where(col("rb") - col("ra") >= 1 && col("rb") - col("ra") <= w)
      .withColumn("inter", size(array_intersect(col("a_tk"), col("b_tk"))).cast("long"))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("a_sz") + col("b_sz") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= tau)
  }

  /** Per-document 60-bit SimHash signatures (portable md5-based hashes).
    *
    * ONE native SimHash eval per row — tokenize + per-token md5 + bit
    * votes in a single pass, zero shuffles. This replaced the relational
    * explode→SimHashAgg→join-back build (an aggregate stage the plan
    * doesn't need when the whole signature is per-row work; the same
    * lesson as WordNgrams), which itself replaced the interpreted
    * SQL-lambda form that re-evaluated the token-hash array per bit.
    * Token-less documents hash to 0L in all three forms.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.expressions.TextExpressions.simhash(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist, candidate-bounded
    * by matching on one of 4 15-bit signature quarters (any pair within
    * Hamming ≤ 3 must agree on at least one quarter).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    // 4 blocking quarters guarantee a shared quarter only for Hamming <= 3.
    require(maxDist <= 3, s"4-quarter blocking loses recall beyond Hamming 3 (got $maxDist)")
    // eager localCheckpoint = a hard materialization boundary: without it
    // Catalyst collapses the signature projection into every downstream
    // reference and the simhash aggregate re-evaluates PER CANDIDATE PAIR
    // (measured 72s vs 3s at sf0.1). Checkpoint rather than persist so the
    // blocks are ContextCleaner-reclaimed, not a session-lifetime cache
    // entry the caller must clear.
    val sigs = simhashSignatures(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash"))
      .localCheckpoint(eager = true)
    val quarters = quarterRows(sigs)
    val cand = quarters.as("x").join(quarters.as("y"),
        col("x.q") === col("y.q") && col("x.qv") === col("y.qv") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("x.simhash").as("a_sig"),
        col("y.id").as("b_id"), col("y.simhash").as("b_sig"))
      .distinct()
    cand.select(col("a_id"), col("b_id"),
        bit_count(col("a_sig") bitwiseXOR col("b_sig")).as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Incremental-dedup index: ONE pass over the corpus text producing the
    * compact (id, exact fingerprint, simhash) triple that batch-vs-corpus
    * dedup joins against. At 100 TB this is the table you STORE — new
    * batches dedup against it without ever re-reading corpus text, and
    * each batch's surviving rows append three small columns to it.
    */
  def dedupIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      Text.fingerprint(col(textCol)).as("fp"),
      graft.expressions.TextExpressions.simhash(col(textCol)).as("simhash"))

  // one row per 15-bit signature quarter — the simhash blocking key
  private def quarterRows(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"),
          (shiftright(col("simhash"), q * 15) bitwiseAND lit(0x7fffL)).as("qv"))): _*)).as("p"))
      .select(col("id"), col("simhash"), col("p.q"), col("p.qv"))

  /** Rows of `batch` that survive dedup against an existing corpus
    * `index` (from [[dedupIndex]]): drops exact matches (fingerprint
    * anti-join) and near-dups (simhash quarter-block candidates at
    * Hamming ≤ maxDist — 4-quarter blocking has guaranteed recall there,
    * so the result is exact, not approximate).
    *
    * Within-batch duplicates are deliberately NOT touched — compose with
    * [[keepFirst]] for that. The corpus side of both joins carries only
    * (hash, long) columns off the stored index; batch-side signatures are
    * computed once (eager checkpoint — both legs reference them, and the
    * near-dup leg must not re-evaluate simhash per candidate). The wide
    * ops shuffle on fp / (q, qv); a small batch side broadcasts under AQE.
    */
  def incrementalSurvivors(batch: DataFrame, index: DataFrame,
                           idCol: String, textCol: String,
                           maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, s"4-quarter blocking loses recall beyond Hamming 3 (got $maxDist)")
    val bsig = dedupIndex(batch, idCol, textCol).localCheckpoint(eager = true)
    val exactSurvivors = bsig.join(index.select(col("fp")), Seq("fp"), "left_anti")
    val nearDropIds = quarterRows(exactSurvivors).as("b")
      .join(quarterRows(index.select(col("id"), col("simhash"))).as("c"),
        col("b.q") === col("c.q") && col("b.qv") === col("c.qv"))
      .where(bit_count(col("b.simhash") bitwiseXOR col("c.simhash")) <= maxDist)
      .select(col("b.id").as("id")).distinct()
    val keepIds = exactSurvivors.select(col("id"))
      .join(nearDropIds, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    batch.join(keepIds, Seq(idCol), "left_semi")
  }

  /** Bloom-prefiltered incremental EXACT dedup: rows of `batch` whose
    * normalized-text fingerprint does not appear in `corpusFps` (a
    * DataFrame with a single `fp` column, e.g. the `fp` leg of
    * [[dedupIndex]]).
    *
    * The result is EXACT — the bloom filter only routes rows. A compact
    * sketch is aggregated over the corpus fingerprints (distributed
    * partial aggregation, one merged sketch on the driver — the same
    * trade as a BroadcastExchange, and the same machinery Spark's own
    * InjectRuntimeFilter uses). Batch rows the sketch definitely hasn't
    * seen (no false negatives) are emitted WITHOUT touching the shuffle;
    * only bloom-positive rows (true dups + the fpp tail) enter the exact
    * anti-join. At 100 TB with a mostly-novel batch this collapses the
    * join input from |batch| to ≈ |dups| + fpp·|batch|, and the corpus
    * side is never re-scanned for the definite-novel rows.
    *
    * `expectedItems`/`numBits` size the sketch: numBits/8 bytes land on
    * the driver (guarded below) — size them to the corpus cardinality,
    * not the batch. Sketch bytes = numBits/8; the default 8 bits/item
    * gives ≈2% fpp.
    */
  def bloomSurvivors(batch: DataFrame, corpusFps: DataFrame,
                     idCol: String, textCol: String,
                     expectedItems: Long, numBits: Long = 0L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val bits = if (numBits > 0) numBits else expectedItems * 8L
    require(bits <= 8L * 256 * 1024 * 1024,
      s"bloom sketch would be ${bits / 8 / 1024 / 1024} MiB on the driver; " +
        "size numBits below 256 MiB or shard the corpus")
    val agg = new BloomFilterAggregate(
      Bridge.expression(xxhash64(col("fp"))),
      Literal(expectedItems), Literal(bits)).toAggregateExpression()
    val sketch = corpusFps.select(Bridge.column(agg).as("bf"))
      .head().getAs[Array[Byte]](0)
    val bsig = batch.withColumn("__fp", Text.fingerprint(col(textCol)))
      .localCheckpoint(eager = true)
    if (sketch == null) return bsig.drop("__fp") // empty corpus: all survive
    val mightContain = Bridge.column(BloomFilterMightContain(
      Literal(sketch, org.apache.spark.sql.types.BinaryType),
      Bridge.expression(xxhash64(col("__fp")))))
    val definiteNovel = bsig.where(!mightContain)
    val rescuedFalsePositives = bsig.where(mightContain)
      .join(corpusFps.withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
    definiteNovel.unionByName(rescuedFalsePositives).drop("__fp")
  }

  /** Embedding near-dup pairs: cosine ≥ tau within `blockCol` blocks.
    * Norms are computed once per vector before pairing (linear); the
    * per-pair dot is the native codegen'd DotProduct expression.
    */
  /** Embedding near-dup pairs WITHOUT a blocking column: candidates are
    * pairs sharing a random-hyperplane LSH bucket in ANY of `nTables`
    * tables, then exact-cosine verified. The scale path when no natural
    * block key exists: the wide op is a shuffle on (table, bucket) —
    * linear in corpus size — and candidate volume is tuned by
    * nPlanes (bucket granularity) × nTables (recall). Size nPlanes to
    * tau: P(two vectors at angle θ agree on one plane) = 1 - θ/π, so
    * moderate-similarity targets (tau ~0.4 → θ ~66°) need FEW planes
    * (p^nPlanes per table collapses fast at p≈0.6), while near-dup
    * targets (tau ≥0.9) support 12+.
    * Output: (a_id, b_id, cosine), a_id < b_id, cosine ≥ tau; recall < 1
    * by construction (asserted against the blocked/brute path in tests).
    */
  def embeddingPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                        tau: Double, nTables: Int = 8, nPlanes: Int = 4,
                        dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = (0 until nTables)
      .map(t => Vectors.makePlanes(nPlanes, dim, seed + t)).toArray
    // bucketed rows feed both join sides; materialize (eager localCheckpoint,
    // ContextCleaner-reclaimed) so scan+norm+bucketing runs once (same
    // aliasing blind spot as the minhash branches)
    val v = df.select(col(idCol).as("id"), Vectors.toDoubleArray(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
      .select(col("id"), col("v"), col("nrm"),
        posexplode(graft.expressions.VectorExpressions.lshBuckets(col("v"), planes))
          .as(Seq("tbl", "bkt")))
      .localCheckpoint(eager = true)
    val a = v.select(col("tbl"), col("bkt"), col("id").as("a_id"),
      col("v").as("a_v"), col("nrm").as("a_n"))
    val b = v.select(col("tbl").as("b_tbl"), col("bkt").as("b_bkt"),
      col("id").as("b_id"), col("v").as("b_v"), col("nrm").as("b_n"))
    // score per collision, then dedup on the scalar triple — the distinct
    // shuffle never carries vectors (same trick as topKCosineLsh)
    a.join(b, col("tbl") === col("b_tbl") && col("bkt") === col("b_bkt") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Vectors.dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n"))).as("cosine"))
      .where(col("cosine") >= tau)
      .distinct()
  }

  def embeddingPairsBlocked(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: String, tau: Double): DataFrame = {
    val v = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      Vectors.toDoubleArray(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val a = v.select(col("blk").as("a_blk"), col("id").as("a_id"),
      col("v").as("a_v"), col("nrm").as("a_n"))
    val b = v.select(col("blk").as("b_blk"), col("id").as("b_id"),
      col("v").as("b_v"), col("nrm").as("b_n"))
    a.join(b, col("a_blk") === col("b_blk") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Vectors.dot(col("a_v"), col("b_v")) /
          (col("a_n") * col("b_n"))).as("cosine"))
      .where(col("cosine") >= tau)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup with
    * CLUSTER blocking instead of a natural key — assign every embedding to
    * its nearest centroid ([[IvfIndex.assign]]), compute cosine pairs only
    * within a cluster, and drop every vector that has a >= tau duplicate
    * with a smaller id (the paper keeps one representative per ε-ball;
    * min-id is its deterministic tie-break). Returns the SURVIVING corpus
    * as (id, c_id).
    *
    * Scale shape: the centroid set is O(N/stride) and collected to the
    * driver, the assignment is one map-only pass, and pairwise work is
    * Σ cluster² — the whole point of SemDeDup is that k-means blocking
    * bounds the quadratic term when no natural blocking key (label,
    * source) exists. The drop set is an aggregated anti-join, never a
    * driver collect.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               stride: Long, tau: Double): DataFrame = {
    val cents = IvfIndex.centroids(df, idCol, vecCol, stride)
    val asg = IvfIndex.assign(df, cents, idCol, vecCol)
      .select(col("id"), col("c_id"), col("v"), col("nrm"))
    val a = asg.select(col("c_id").as("a_c"), col("id").as("a_id"),
      col("v").as("a_v"), col("nrm").as("a_n"))
    val b = asg.select(col("c_id").as("b_c"), col("id").as("b_id"),
      col("v").as("b_v"), col("nrm").as("b_n"))
    val dropped = a.join(b, col("a_c") === col("b_c") && col("a_id") < col("b_id"))
      .where(Vectors.dot(col("a_v"), col("b_v")) /
        (col("a_n") * col("b_n")) >= tau)
      .select(col("b_id")).distinct()
    asg.join(dropped, asg("id") === dropped("b_id"), "left_anti")
      .select(col("id"), col("c_id"))
  }
}
